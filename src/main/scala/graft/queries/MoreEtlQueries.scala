package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Second ETL-parity batch: the SQL surface the warehouse layer behind the
 * reference's stored procs needs (SURVEY §2.4 note: "the engine must
 * expose standard groupBy().agg(...) to cover them") — pivots, cube,
 * paged scans, subquery shapes, outer joins, set ops, ranking windows,
 * and single-pass moment statistics. Same float-determinism policy as
 * EtlQueries (exact DECIMAL sums, CAST-to-DOUBLE literals).
 */
object MoreEtlQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  val specs: Seq[QuerySpec] = Seq(

    // ── pivot (conditional aggregation into columns) ──
    QuerySpec("q26_pivot_status",
      (s, dir) => t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy").as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P")),
      Some("""
        SELECT strftime(o_orderdate, '%Y') AS order_year,
          count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
          count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
          count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        FROM orders GROUP BY 1"""),
      "pivot to columns (warehouse-report shape)"),

    // ── cube with subtotal rows ──
    QuerySpec("q27_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)"""),
      "cube subtotals (SURVEY §2.4 'engine must expose')"),

    // ── S4: paged scan (offset/fetch) ──
    QuerySpec("q28_paged_scan",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .offset(900).limit(50)
        .select(col("o_orderkey"), col("o_orderstatus")),
      Some("""
        SELECT o_orderkey, o_orderstatus FROM orders
        ORDER BY o_orderkey OFFSET 900 LIMIT 50"""),
      "ORDER BY id OFFSET 900 FETCH NEXT 50 (FabricQC/run.js:75-77); " +
        "idiomatically replaced by partitioned reads, kept for parity"),

    // ── exact single-pass moment statistics ──
    QuerySpec("q29_moment_stats",
      (s, dir) => {
        // variance from exact decimal power sums: deterministic across
        // engines and partitionings, still one partial-aggregatable pass
        val n = count(lit(1))
        val s1 = sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
        val s2 = sum((col("l_quantity") * col("l_quantity"))
          .cast("decimal(28,8)")).cast("double")
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(n.as("n"), s1.as("sum_qty"),
            ((s2 - s1 * s1 / n) / (n - lit(1))).as("var_qty"))
      },
      Some("""
        WITH m AS (
          SELECT l_returnflag, count(*) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
            CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS s2
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, s1 AS sum_qty,
               (s2 - s1 * s1 / n) / (n - 1) AS var_qty
        FROM m"""),
      "variance via exact power sums (deterministic moment aggregates)"),

    // ── scalar subquery ──
    QuerySpec("q43_scalar_subquery",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val avgPrice = o.agg((sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double") / count(lit(1))).as("avg_price"))
        o.crossJoin(broadcast(avgPrice))
          .filter(col("o_totalprice") > col("avg_price"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_above_avg"))
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n_above_avg
        FROM orders
        WHERE o_totalprice > (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*) FROM orders)
        GROUP BY o_orderstatus"""),
      "scalar subquery as broadcast cross join (exact-decimal average)"),

    // ── correlated EXISTS ──
    QuerySpec("q44_exists_subquery",
      (s, dir) => {
        val bigOrders = t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1998 &&
            col("o_totalprice") > 100000)
        t(s, dir, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_mktsegment"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 1998
                        AND o.o_totalprice > 100000)"""),
      "correlated EXISTS decorrelated to a semi join"),

    // ── full outer join ──
    QuerySpec("q45_full_outer",
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_customers"))
        val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
          .agg(count(lit(1)).as("n_suppliers"))
        c.join(sup, col("nk") === col("nk2"), "full_outer")
          .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
            coalesce(col("n_customers"), lit(0L)).as("n_customers"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      },
      Some("""
        WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
                   FROM customer GROUP BY 1),
        s AS (SELECT s_nationkey AS nk2, count(*) AS n_suppliers
              FROM supplier GROUP BY 1)
        SELECT coalesce(nk, nk2) AS nationkey,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(n_suppliers, 0) AS n_suppliers
        FROM c FULL OUTER JOIN s ON nk = nk2"""),
      "full outer join with coalesced keys"),

    // ── set operations ──
    QuerySpec("q46_intersect",
      (s, dir) => {
        val o = t(s, dir, "orders")
        def buyers(y: Int) = o.filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey")).distinct()
        buyers(1995).intersect(buyers(1996))
      },
      Some("""
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996"""),
      "INTERSECT (customers active in both years)"),

    QuerySpec("q47_except",
      (s, dir) => {
        val o = t(s, dir, "orders")
        def buyers(y: Int) = o.filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey")).distinct()
        buyers(1995).except(buyers(1996))
      },
      Some("""
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996"""),
      "EXCEPT (churned customers)"),

    // ── ranking window functions ──
    QuerySpec("q48_rank_windows",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("spend"))
        val c = t(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"))
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("spend").desc, col("c_custkey"))
        c.select(col("c_nationkey"), col("c_custkey"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            lag(col("c_custkey"), 1).over(w).as("prev_custkey"))
          .filter(col("rnk") <= 5)
      },
      Some("""
        WITH spend AS (
          SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
          FROM orders GROUP BY 1),
        r AS (
          SELECT c_nationkey, c_custkey,
            CAST(rank() OVER w AS INTEGER) AS rnk,
            CAST(dense_rank() OVER w AS INTEGER) AS drnk,
            CAST(ntile(4) OVER w AS INTEGER) AS quartile,
            lag(c_custkey, 1) OVER w AS prev_custkey
          FROM customer JOIN spend ON c_custkey = o_custkey
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY spend DESC, c_custkey))
        SELECT * FROM r WHERE rnk <= 5"""),
      "rank/dense_rank/ntile/lag over deterministic total order"),

    // ── median via explicit window selection (exact, engine-agnostic) ──
    QuerySpec("q49_exact_median",
      (s, dir) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
        val wn = Window.partitionBy(col("l_returnflag"))
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"),
            row_number().over(w).as("rn"), count(lit(1)).over(wn).as("n"))
          .filter(col("rn") === floor((col("n") + 1) / 2))
          .select(col("l_returnflag"), col("l_quantity").as("lower_median"))
      },
      Some("""
        SELECT l_returnflag, l_quantity AS lower_median
        FROM (SELECT l_returnflag, l_quantity,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem)
        WHERE rn = (n + 1) // 2"""),
      "exact lower median via row_number (no interpolation ambiguity)"),

    // ── T-class string rules (T1/T2/T3-adjacent, T4) ──
    QuerySpec("q53_string_rules",
      (s, dir) => {
        val quoted = concat(lit("it's "), col("p_brand"))
        t(s, dir, "part").select(
          col("p_partkey"),
          graft.functions.business.quoteSwap(quoted).as("swapped"),
          graft.functions.business.truncateTo(col("p_name"), 12)
            .as("name_trunc"),
          lower(col("p_type")).as("type_lower"),
          length(col("p_name")).as("name_len"))
      },
      Some("""
        SELECT p_partkey,
               regexp_replace('it''s ' || p_brand, '''', '"', 'g') AS swapped,
               substring(p_name, 1, 12) AS name_trunc,
               lower(p_type) AS type_lower,
               CAST(length(p_name) AS INTEGER) AS name_len
        FROM part"""),
      "quote swap (T1), truncate-to-width (T2), lower-compare prep (T4)"),

    // ── D3/D8/D9: event-time scalar functions ──
    QuerySpec("q54_event_time_rules",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        ev.select(
          col("event_id"),
          unix_millis(col("ts")).as("epoch_ms"),
          date_format(timestamp_millis(unix_millis(col("ts"))), "HH:mm:ss")
            .as("time_of_day"),
          to_timestamp(concat(date_format(col("ts"), "yyyy-MM-dd"), lit("T"),
            date_format(col("ts"), "HH:mm:ss"))).as("recombined"),
          expr("unix_millis(ts) div 60000").as("minutes_since_epoch"))
      },
      Some("""
        SELECT event_id,
          epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS epoch_ms,
          strftime(make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1000) * 1000),
                   '%H:%M:%S') AS time_of_day,
          make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) * 1000000)
            AS recombined,
          epoch_us(CAST(ts AS TIMESTAMP)) // 1000 // 60000 AS minutes_since_epoch
        FROM events"""),
      "epoch-millis (D8), time-of-day format, date+time recombination (D9), " +
        "minute arithmetic (D3)"),

    // ── C3/C4: category business rules over a derived code ──
    QuerySpec("q55_category_rules",
      (s, dir) => {
        val code = lower(substring(col("p_type"), 1, 3))
        t(s, dir, "part").select(
            graft.functions.business.categoryTypeGarment(code)
              .as("garment_category"),
            graft.functions.business.categoryTypeTextile(upper(col("p_brand")))
              .as("textile_category"))
          .groupBy(col("garment_category"), col("textile_category"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT
          CASE WHEN lower(substring(p_type, 1, 3)) = 'fab' THEN 'Bahan Baku'
               WHEN lower(substring(p_type, 1, 3)) IN
                    ('emb','wsh','pls','prn','tes','qlt') THEN 'Jasa'
               ELSE 'Accessories' END AS garment_category,
          CASE WHEN upper(p_brand) = 'BAHAN BAKU' THEN 'BAHAN BAKU'
               ELSE 'NON BAHAN BAKU' END AS textile_category,
          count(*) AS n
        FROM part GROUP BY 1, 2"""),
      "garment/textile category typing (C3/C4) over derived codes"),

    // ── semi-structured extraction from the JSON props column ──
    QuerySpec("q56_json_props",
      (s, dir) => {
        // regexp-based extraction keeps the oracle portable (DuckDB's
        // JSON functions live in an extension; regex is core on both).
        // Spark-side production path would be from_json with a schema.
        val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
        Tables.events(s, dir)
          .select(col("event_type"), k.as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k").cast("long")).as("sum_k"),
            max(col("k")).as("max_k"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
               max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER)) AS max_k
        FROM events GROUP BY event_type"""),
      "semi-structured payload extraction (the re-nest/flatten data model " +
        "of SURVEY §1 applied to a JSON column)"),

    // ── D7: typo-year repair chain (Pembelian/run.js:311) ──
    QuerySpec("q57_typo_year",
      (s, dir) => {
        // corrupt a formatted date with the six malformed year tokens the
        // reference repairs, then apply the repair chain — every row must
        // come back "/2017" (the else-branch injects an already-clean one)
        val typo = element_at(array(
          lit("/0017"), lit("/12017"), lit("/0200"), lit("/0201"),
          lit("/42017"), lit("/0217"), lit("/2017")),
          (pmod(col("o_orderkey"), lit(7)) + 1).cast("int"))
        val raw = concat(date_format(col("o_orderdate"), "dd/MM"), typo)
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), raw.as("raw_date"),
            graft.functions.business.typoYearRepair(raw).as("fixed_date"))
      },
      Some("""
        WITH raw AS (
          SELECT o_orderkey,
                 strftime(o_orderdate, '%d/%m') ||
                 CASE CAST(o_orderkey % 7 AS INTEGER)
                   WHEN 0 THEN '/0017' WHEN 1 THEN '/12017'
                   WHEN 2 THEN '/0200' WHEN 3 THEN '/0201'
                   WHEN 4 THEN '/42017' WHEN 5 THEN '/0217'
                   ELSE '/2017' END AS raw_date
          FROM orders)
        SELECT o_orderkey, raw_date,
               replace(replace(replace(replace(replace(replace(raw_date,
                 '/0017','/2017'), '/12017','/2017'), '/0200','/2017'),
                 '/0201','/2017'), '/42017','/2017'), '/0217','/2017')
                 AS fixed_date
        FROM raw"""),
      "D7 typo-year repair chain applied in the reference's exact order"),

    // ── D9 across midnight (MonitoringEvent/run.js:224-232): rebuild
    // instants from date+time STRING parts, extend past the date
    // boundary, and verify the formatted end date/time and duration
    // agree with an independent engine ──
    QuerySpec("q58_midnight_duration",
      (s, dir) => {
        val startRe = to_timestamp(concat(
          date_format(col("ts"), "yyyy-MM-dd"), lit("T"),
          date_format(col("ts"), "HH:mm:ss")))
        val k = (pmod(col("event_id"), lit(720)) + 1).cast("long")
        val endRe = timestamp_seconds(unix_timestamp(startRe) + k * 60)
        Tables.events(s, dir).select(
          col("event_id"),
          date_format(endRe, "yyyy-MM-dd").as("end_date"),
          date_format(endRe, "HH:mm:ss").as("end_time"),
          (to_date(endRe) > to_date(startRe)).as("crossed_midnight"),
          k.as("duration_min"),
          (k.cast("double") / 60.0).as("event_range"))
      },
      Some("""
        WITH base AS (
          SELECT event_id,
                 strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') || 'T' ||
                          strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S'),
                          '%Y-%m-%dT%H:%M:%S') AS start_re,
                 CAST(event_id % 720 + 1 AS BIGINT) AS k
          FROM events),
        ext AS (SELECT event_id, start_re, k,
                       start_re + INTERVAL 1 MINUTE * k AS end_re FROM base)
        SELECT event_id,
               strftime(end_re, '%Y-%m-%d') AS end_date,
               strftime(end_re, '%H:%M:%S') AS end_time,
               CAST(end_re AS DATE) > CAST(start_re AS DATE)
                 AS crossed_midnight,
               k AS duration_min,
               CAST(k AS DOUBLE) / 60 AS event_range
        FROM ext"""),
      "D9 date+time recombination stretched across the midnight boundary " +
        "(MonitoringEvent duration semantics), D10 range"),

    // ── A5: the running insert counter emitted as the first staging
    // column (TotalHutang/run.js:205-217) — a contiguous surrogate key
    // over an explicit total order ──
    QuerySpec("q59_row_counter",
      (s, dir) => {
        val base = Tables.load(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 2000)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        // the declared order must be TOTAL on the emitted columns: the
        // fixtures carry duplicate (l_orderkey, l_linenumber) pairs
        // (the generator enforces no PK), and an under-determined order
        // let each engine break ties in its own scan order — green at
        // sf0.1 by single-file luck, divergent at sf1's 32 shuffled
        // part files (r11 sweep). With l_quantity appended, remaining
        // ties are FULLY identical rows, whose interchangeable ids
        // cannot change the result set.
        graft.ops.relational.contiguousRowNumber(base,
            Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
            "row_id")
          .select(col("row_id"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
      },
      Some("""
        SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                                l_quantity)
                 AS BIGINT) AS row_id,
               l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_orderkey <= 2000"""),
      "A5 counter-as-column: contiguous surrogate key over an explicit " +
        "total order (range-bucketed counter — no single reducer)"),

    // ── SCD2: type-2 dimension history from a change log — the
    // warehouse-grade extension of the reference's type-1 dimension
    // upserts (Pembelian/run.js overwrites attributes in place) ──
    QuerySpec("q80_scd2_history",
      (s, dir) => graft.operators.Scd.scd2(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        keyCols = Seq("user_id"), tsCol = "ts",
        tiebreak = Seq("event_id"), attrCols = Seq("event_type")),
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
          FROM events),
        chg AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM ev),
        compressed AS (
          SELECT user_id, ts, event_id, event_type FROM chg
          WHERE prev_type IS NULL OR prev_type <> event_type),
        scd AS (
          SELECT user_id, event_type, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS valid_to
          FROM compressed)
        SELECT user_id, event_type, valid_from, valid_to,
               CAST(valid_to IS NULL AS INTEGER) AS is_current
        FROM scd"""),
      "SCD2 history builder: change-compression (lag) + validity " +
        "intervals (lead) in ONE window shuffle, no previous-version " +
        "self-join"),

    // ── stratified exact-N sampling: n rows per stratum by salted-hash
    // order — deterministic eval-set carving (vs q69's fractional split) ──
    QuerySpec("q81_stratified_sample",
      (s, dir) => graft.operators.CorpusStats.stratifiedSample(
          t(s, dir, "orders"), "o_orderpriority", "o_orderkey",
          nPerStratum = 20, salt = "strat")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice")),
      Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
          SELECT o_orderkey, o_orderpriority, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR) || 'strat'),
                            o_orderkey) AS rn
          FROM orders) WHERE rn <= 20"""),
      "stratified exact-N sample (20 per priority class) via salted-md5 " +
        "window order — one stratum-keyed shuffle, no global sort, no RNG"),

    // ── Z-order clustering key: bit-interleaved (custkey, order-day) —
    // the multi-dimensional data-skipping layout: range-partitioning a
    // write on this key keeps every file's min/max tight on both ──
    QuerySpec("q82_zorder_cluster",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.ops.layout.zorder2(
            pmod(col("o_custkey"), lit(65536)),
            pmod(datediff(col("o_orderdate"), lit("1970-01-01")),
              lit(65536))).as("zkey"))
        .orderBy(col("zkey"), col("o_orderkey"))
        .limit(100),
      Some("""
        WITH b AS (
          SELECT o_orderkey,
                 o_custkey % 65536 AS x,
                 date_diff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) % 65536 AS y
          FROM orders)
        SELECT o_orderkey,
               CAST(list_sum([ ((x // (1 << i)) % 2) * (1 << (2*i))
                             + ((y // (1 << i)) % 2) * (1 << (2*i + 1))
                               for i in generate_series(0, 15) ]) AS BIGINT)
                 AS zkey
        FROM b
        ORDER BY zkey, o_orderkey LIMIT 100"""),
      "2-D Morton (Z-order) clustering key from codegen'd integer " +
        "built-ins — contiguous Z-ranges are (custkey, day) rectangles, " +
        "so range-partitioned files min/max-prune on BOTH dimensions"),

    // ── incremental aggregate maintenance: summarize the delta, merge
    // states — never recompute the rollup over the full fact. The split
    // lands MID-month so shared groups must genuinely combine; the
    // oracle is the full recompute the incremental path must equal ──
    QuerySpec("q85_incremental_rollup",
      (s, dir) => {
        val m = graft.operators.AggMaintain
        val base = t(s, dir, "orders").select(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_totalprice").cast("decimal(18,4)").as("price"),
          col("o_orderdate"))
        def state(f: DataFrame) =
          m.summarize(f.drop("o_orderdate"), Seq("month"), Seq("price"))
        val stored = state(base.filter(col("o_orderdate") < lit("1995-06-15")))
        val delta = state(base.filter(col("o_orderdate") >= lit("1995-06-15")))
        m.merge(stored, delta, Seq("month"), Seq("price"))
          .select(col("month"), col("n_rows"),
            col("sum_price").cast("double").as("sum_price"))
      },
      Some("""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_price
        FROM orders GROUP BY 1"""),
      "incremental rollup maintenance: mergeable per-group state " +
        "(count + DECIMAL sums) summarized per delta and merged — " +
        "equals the full recompute exactly, state shuffle only")
  )
}
