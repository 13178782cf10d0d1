#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: read Verify.scala's parquet
dumps + oracle_sql.json, run each oracle in DuckDB over the same testdata
parquet tables, and diff (column names sorted, rows sorted, exact values).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [queryPrefix ...]

Trailing args restrict the compare to queries whose name starts with any
given prefix (for subset sweeps where Verify dumped only those queries —
e.g. the sf1 heavy-family scale sweep).

Each oracle runs in its own CHILD PROCESS with a bounded memory limit: a
replay that exhausts DuckDB's budget (q114's seven-branch composite at
sf1) then fails alone — it cannot poison a shared buffer pool, and the
glibc arenas its attempt grew are returned with the process instead of
starving every later query. Composite UNION ALL oracles that OOM whole
are retried branch-at-a-time (each branch in its own process); the
compare sorts rows, so the split is semantics-preserving.
"""
import json, math, sys
import multiprocessing as mp
from decimal import Decimal
import pyarrow.parquet as pq
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # The driver hashes raw values, so -0.0 vs +0.0 is a mismatch even
        # though Python's == treats them equal (r5 q99 lesson).
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    if isinstance(v, Decimal):
        # Strict representation: trailing-zero / scale differences are
        # driver-hash mismatches even when numerically equal.
        return f"dec:{v}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [cols[i] for i in order], out


def default_memory_limit():
    """Half the host's memory (MemTotal in /proc/meminfo), so an oracle
    child that grows to its limit leaves room for Spark's dump reader
    and the rest of the host; None (DuckDB's own default) when the
    total cannot be read. GRAFT_ORACLE_MEM overrides it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}MB"
    except (OSError, ValueError, IndexError):
        pass
    return None


def _oracle_child(pipe, sf_dir, sql):
    """Run one oracle in a fresh process; ship (cols, rows) or the error
    text back through the pipe. norm_cell runs HERE so only plain
    picklable values travel."""
    import os
    try:
        import duckdb
        con = duckdb.connect()
        mem = os.environ.get("GRAFT_ORACLE_MEM") or default_memory_limit()
        if mem:
            con.execute(f"SET memory_limit='{mem}'")
        # Bounded threads also bound peak operator state: a 100 GB-class
        # composite replay (q138 at sf1) spills past the host's free
        # disk at 16 threads but fits with fewer, so heavy sweeps can
        # dial this down without touching the default gate.
        con.execute(
            f"SET threads={os.environ.get('GRAFT_ORACLE_THREADS', '16')}")
        # Each child gets its OWN spill directory: concurrent checkers
        # sharing the cwd-relative default ('.tmp/') clobber each
        # other's duckdb_temp_storage-*.tmp files and die with an
        # IOException mid-replay (observed on q126's 57 GB sf4 spill).
        tmp = f"/tmp/duckdb_spill_{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            # driver fixtures are single files; builder-generated sf1
            # tables are Spark-written directories of part files
            if os.path.isdir(path):
                path += "/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        pipe.send(("ok", cols, [tuple(norm_cell(v) for v in r) for r in rows]))
    except Exception as e:
        pipe.send(("err", str(e), None))
    finally:
        pipe.close()


def run_oracle(sf_dir, sql):
    """Execute one oracle in a child process; returns (cols, rows) or
    raises RuntimeError with the child's error text."""
    ctx = mp.get_context("fork")
    parent, child = ctx.Pipe(duplex=False)
    p = ctx.Process(target=_oracle_child, args=(child, sf_dir, sql))
    p.start()
    child.close()
    try:
        status, a, b = parent.recv()
    except EOFError:
        status, a, b = "err", "oracle child died without a reply", None
    p.join()
    if status != "ok":
        raise RuntimeError(a)
    return a, b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = sys.argv[3:]
    if only:
        oracle = {k: v for k, v in oracle.items()
                  if any(k.startswith(p) for p in only)}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            tbl = ds.dataset(f"{out_dir}/{name}", format="parquet").to_table()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        s_cols = tbl.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
        try:
            d_cols, d_rows = run_oracle(sf_dir, sql)
        except Exception as e:
            import re as _re
            # Composite oracles (q114: seven digest branches UNION ALL'd
            # in one statement over shared CTEs) can exceed the memory
            # budget at sf1 even though every branch alone fits — the
            # union evaluates branches concurrently over materialized
            # shared CTEs. Retry branch-at-a-time, one process each.
            branches = (_re.split(r"\n\s*UNION ALL\s*\n", sql)
                        if "Out of Memory" in str(e) else [])
            if len(branches) > 1 and "SELECT '" in branches[0]:
                try:
                    idx = branches[0].index("SELECT '")
                    prefix = branches[0][:idx]
                    parts = [branches[0][idx:]] + branches[1:]
                    # column names come from the FIRST branch, exactly
                    # as SQL defines them for the whole UNION (later
                    # branches often carry no aliases)
                    d_cols, d_rows = None, []
                    for part in parts:
                        cols, rws = run_oracle(sf_dir, prefix + part)
                        if d_cols is None:
                            d_cols = cols
                        d_rows.extend(rws)
                    print(f"NOTE {name}: composite oracle hit the memory "
                          f"ceiling; evaluated its {len(parts)} UNION ALL "
                          f"branches separately")
                except Exception as e2:
                    print(f"FAIL {name}: oracle error: {e2}")
                    n_fail += 1
                    continue
            else:
                print(f"FAIL {name}: oracle error: {e}")
                n_fail += 1
                continue
        sc, sr = norm_rows(s_cols, s_rows)
        # oracle rows were normalized in the child; only sort/order here
        order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        dr = [tuple(r[i] for i in order) for r in d_rows]
        dr.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
        dc = [d_cols[i] for i in order]
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duckdb={dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duckdb={len(dr)}")
            print(f"  spark head: {sr[:3]}")
            print(f"  duck  head: {dr[:3]}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, dr) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; cols={sc}; first diffs:")
            for a, b in bad[:3]:
                print(f"  spark={a}\n  duck ={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
