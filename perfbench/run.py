#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload nightly_concurrent --seed 1 \
        --seconds 20 --trace 0

Builds the harness (sbt, ``perfbench/build.sbt``: the engine's sources plus
``perfbench/src``) when any source changed since the last build, runs the
workload in one JVM, and prints the harness's JSON result as the last line
of standard output. Exits non-zero when the build or the run fails
(printing no result) or when a correctness check fails (the result line
then reads "correct": false). Everything the run writes stays
under ``perfbench/`` (``.build/``, ``.work/``, ``.out/``).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("nightly_concurrent", "operator_queries")
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == fp:
                return c.read()
    log("building harness and engine with sbt")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as c:
        c.write(lines[-1].strip())
    with open(stamp, "w") as s:
        s.write(fp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="where to write the full run record "
                    "(default: perfbench/.out/<workload>-t<trace>-s<seed>.json)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found "
                         "next to perfbench/; run from a full checkout")
    cp = classpath()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    record = a.record or os.path.join(
        HERE, ".out", f"{a.workload}-t{a.trace}-s{a.seed}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(os.path.abspath(record)), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
              f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--record", os.path.abspath(record)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))
    if not result.get("correct"):
        raise SystemExit("correctness check failed; see " + record)


if __name__ == "__main__":
    main()
