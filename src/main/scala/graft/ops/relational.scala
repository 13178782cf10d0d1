package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * Reusable relational operator shapes — the engine's equivalents of the
 * reference's hand-rolled join/lookup loops, re-expressed as declarative
 * DataFrame compositions that Catalyst can push down, reorder and broadcast.
 * See SURVEY.md §2.3/§2.4/§2.5 for the operator inventory (J4–J9, A1–A3).
 */
object relational {

  /**
   * J4/J6 — keep-first-match left join. The reference probes a build-side
   * array with `.find(...)` (first match wins, `Pembelian/run.js:191-195`) or
   * issues a per-row query keeping `result[0]` (`ProductionOrderStatus/
   * run.js:101-125`). Here: deterministically rank the right side per key
   * and keep rank 1, then ordinary left join — one shuffle on the join key,
   * broadcastable when `right` is a dim.
   *
   * @param tiebreak ordering that defines "first" (the reference is
   *                 nondeterministic; we require an explicit order).
   */
  def keepFirstMatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                     tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    val firstOnly = right
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    left.join(firstOnly, keys, "left")
  }

  /**
   * A1/A2 — argmax per group: the whole row holding the max of `ordCol`
   * within each group (`$group {$first: "$$ROOT"}` after `$sort`,
   * `MigrationLogFunc/index.js:32-42`; `top(1) ... order by finish desc`,
   * `Pembelian/run.js:44-46`). Single shuffle on the group keys.
   *
   * @param tiebreak extra ordering columns to make the pick deterministic.
   */
  def argmaxPerGroup(df: DataFrame, groupKeys: Seq[String], ordCol: Column,
                     tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*)
      .orderBy((ordCol.desc +: tiebreak): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * J8 — as-of (point-in-time) join: for each left row, the single right row
   * with the greatest `rightTs <= leftTs` within the same key (latest
   * currency rate at-or-before the document date,
   * `GarmentTotalHutang/run.js:121-133`). Left-preserving: unmatched left
   * rows survive with nulls.
   *
   * Plan shape: equi-join on `keys` (shuffle or broadcast) + range predicate,
   * then a window keeping the latest right match per left row. At scale the
   * equi-key carries the shuffle; the range filter prunes within partitions.
   *
   * @param leftId   unique left row id (tie scope for the window)
   * @param tiebreak deterministic pick among equal `rightTs` values
   */
  def asOfJoin(left: DataFrame, right: DataFrame, on: Column,
               leftTs: Column, rightTs: Column, leftId: Column,
               tiebreak: Seq[Column] = Nil): DataFrame = {
    val joined = left.join(right, on && rightTs <= leftTs, "left")
    val w = Window.partitionBy(leftId)
      .orderBy((rightTs.desc_nulls_last +: tiebreak): _*)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** P4 — NOT-IN (anti) filter on a literal list
    * (`createdby not in ('dev','unit-test')`, `Pembelian/run.js:166-167`).
    * Reference semantics: NULLs are *kept* (SQL NOT IN would drop them —
    * the reference's JS `.indexOf` check keeps them; encode deliberately). */
  def notInKeepNulls(df: DataFrame, c: Column, values: Seq[String]): DataFrame =
    df.filter(c.isNull || !c.isin(values: _*))

  /** S2/P2 — incremental watermark scan: rows strictly newer than the last
    * successful run (`lastmodifiedutc > :watermark`,
    * `Pembelian/run.js:120-170`). The predicate is a plain Catalyst filter
    * so it pushes down to parquet/JDBC scans. */
  def incrementalScan(df: DataFrame, tsCol: Column, watermark: Column,
                      inclusive: Boolean = false): DataFrame =
    df.filter(if (inclusive) tsCol >= watermark else tsCol > watermark)

  /**
   * A5 at scale — contiguous global row counter WITHOUT the
   * single-reducer sort (`TotalHutang/run.js:205-217` emits a running
   * insert counter; `row_number().over(Window.orderBy(...))` reproduces
   * it but moves every row to one reducer — fine for a nightly delta,
   * fatal for a backfill). Bit-identical to that window when `order` is
   * a unique total order (required; ties may be numbered either way
   * otherwise).
   *
   * Two private branches, picked by ONE measured rule:
   *  - in memory: [[bucketedRunning]] with `row_number`/`count` — the
   *    input plan executes once, and the wide row moves through one
   *    hash exchange on a sampled range bucket;
   *  - spilling: [[keysOnlyRowNumber]] — the same counter over a
   *    (keys, synthetic id) projection, joined back by the id, so the
   *    sort's disk bandwidth is paid on the key columns only.
   *
   * The crossover is measured on q63 (BASELINE.md r15/r16): the
   * in-memory branch wins while its sort fits memory (sf0.1: 4.98 vs
   * 6.3 s — the join-back costs more than an in-memory sort saves),
   * the keys-only branch wins 1.6× once the payload sort spills (sf16:
   * 127.2 vs 79.8 s), and the gap grows with payload bytes per sorted
   * row. "Would it spill" is [[counterSortEstimate]]. Both branches are
   * bit-identical (spec'd against the window, plus symmetric-diff 0 at
   * sf16 / 75 M rows), so a wrong pick costs time, never correctness.
   * Deployments near the boundary pin
   * `spark.graft.counter.sortBudgetBytes`.
   */
  def contiguousRowNumber(df: DataFrame, order: Seq[Column], as: String,
                          numPartitions: Option[Int] = None): DataFrame = {
    val (est, budget) = counterSortEstimate(df)
    if (est > budget) keysOnlyRowNumber(df, order, as, numPartitions)
    else bucketedRowNumber(df, order, as, numPartitions)
  }

  private def bucketedRowNumber(df: DataFrame, order: Seq[Column], as: String,
                                numPartitions: Option[Int]): DataFrame =
    bucketedRunning(df, order, as, numPartitions, df,
      row_number().over(_), count(lit(1)))

  /** The spill-regime branch of [[contiguousRowNumber]]: the counter is
    * computed over a PROJECTION of (order columns, synthetic row id)
    * and joined back by the id, so the bucket exchange and the
    * per-bucket sort only ever carry the narrow rows; the payload moves
    * once through a hash exchange with no sort. The synthetic id is
    * minted on a pinned copy of the input so both the narrow pass and
    * the join-back see identical ids. */
  private def keysOnlyRowNumber(df: DataFrame, order: Seq[Column], as: String,
                                numPartitions: Option[Int]): DataFrame = {
    val mid = "__graft_mid"
    val withMid = graft.ops.materialize(
      df.withColumn(mid, monotonically_increasing_id()))
    val aliased = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val counter = bucketedRowNumber(
        withMid.select(aliased :+ col(mid): _*),
        order.indices.map(i => col(s"__o$i")), as, numPartitions)
      .select(col(mid), col(as))
    withMid.join(counter, mid).drop(mid)
  }

  /**
   * The (estimated sort bytes, budget bytes) pair [[contiguousRowNumber]]
   * dispatches on. Analysis-only; runs no jobs.
   *
   * The estimate is the SCAN bytes feeding the plan — the sum of the
   * optimized plan's leaf statistics (file sizes for parquet scans) —
   * times a columnar→row expansion factor
   * (`spark.graft.counter.scanExpansion`, default 10: the q63 fact
   * measures ~12× — 2.5 GB of parquet decodes to ~30 GB of unsafe rows,
   * which is what the sort actually buffers). The budget is the
   * `spark.graft.counter.sortBudgetBytes` conf, else HALF the cluster's
   * aggregate BlockManager capacity (the unified memory manager
   * guarantees execution only `1 − storageFraction` = 50% of the region
   * against storage eviction). Calibration anchor (BASELINE r16): at
   * sf16 with a 57 GB region, est 3.4 GB × 10 = 34 GB > 28.5 GB budget
   * correctly picks the keys-only branch.
   *
   * Leaf sums, NOT the root estimate: without column statistics
   * Catalyst propagates join sizes multiplicatively (q63's 3-way join at
   * sf0.1 estimated 1.2e20 bytes, which routed every join-fed pipeline
   * to the keys-only branch). Leaves double-count a table scanned twice,
   * which errs toward the keys-only branch — whose worst case is a
   * modest join-back, never a spill.
   */
  private def counterSortEstimate(df: DataFrame): (BigInt, BigInt) = {
    val spark = df.sparkSession
    val budget: BigInt = BigInt(
      counterConf(spark, "spark.graft.counter.sortBudgetBytes", _.toLong)
        .getOrElse(spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._1).sum / 2))
    val expansion =
      counterConf(spark, "spark.graft.counter.scanExpansion", _.toDouble)
        .getOrElse(10.0)
    val scanBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    ((BigDecimal(scanBytes) * expansion).toBigInt, budget)
  }

  /** A numeric `spark.graft.counter.*` conf; a malformed value fails
    * with the key and the value instead of a bare NumberFormatException. */
  private def counterConf[T](spark: org.apache.spark.sql.SparkSession,
                             key: String, parse: String => T): Option[T] =
    spark.conf.getOption(key).map { v =>
      try parse(v)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$key must be a number, got '$v'")
      }
    }

  /** Driver-side ordering matching Spark's ascending-nulls-first sort
    * EXACTLY — Catalyst's own interpreted ordering over converted rows
    * ([[org.apache.spark.sql.graft.RowOrderingBridge]]), not a
    * hand-rolled approximation. Exactness is load-bearing for the
    * binary-search bucket: the in-plan search is monotone only if the
    * driver-sorted boundary sequence is sorted under the EXECUTOR's
    * comparison (a Java `String.compareTo` driver sort diverges from
    * UTF8String's unsigned-UTF-8-byte order on supplementary
    * characters, and `Double.compare` on two longs past 2^53 can call
    * distinct keys equal). */
  private def sortKeyOrdering(schema: org.apache.spark.sql.types.StructType)
      : Ordering[org.apache.spark.sql.Row] =
    org.apache.spark.sql.graft.RowOrderingBridge.externalRowOrdering(schema)

  /** Boundary-sampling bucket of the bucketed counters, returned with
    * the number of buckets it can produce: a bounded deterministic
    * sample of the order key (smallest `xxhash64(key)` via TakeOrdered —
    * one map pass + driver merge, 64 candidates per target bucket) from
    * a COLUMN-PRUNED projection of `keyed` (Catalyst drops every other
    * column, so expensive expressions elsewhere in the row are NOT
    * evaluated by the sampling pass), sorted driver-side with Spark's
    * EXACT ascending-nulls-first semantics ([[sortKeyOrdering]]), cut
    * into quantile boundaries, and a pure BINARY-SEARCH bucket
    * expression: ⌈log₂(m+1)⌉ struct comparisons per row for m
    * boundaries. The search computes exactly #{boundaries ≤ key}:
    * boundaries ascend under the SAME total order the executor's `>=`
    * uses, so the predicate `key >= b(i)` is monotone in i. Rows whose
    * key holds a NULL field are excluded from the BOUNDARY SET
    * (`lit(null)` renders as NullType, so a null boundary field would
    * ride NullType coercion instead of nulls-first semantics — and any
    * boundary subset is correctness-neutral); null-keyed DATA rows
    * still bucket fine: every comparison against a null-free boundary
    * resolves, and an all-null key descends to bucket 0.
    *
    * Plan growth is BOUNDED: the bucket count is capped at
    * `min(n, spark.graft.counter.maxBoundaries)` (default 1024), and at
    * one bucket per 64 drawn keys when the input is smaller than the
    * sample limit, so the
    * embedded struct literals, the when-tree and the driver-side sample
    * stay flat as shuffle partitions grow to production counts (10³–10⁵
    * would otherwise blow the 64 KB Janino method limit). The returned
    * count never exceeds `n`; callers size the bucketed exchange by it,
    * so a large `n` runs no empty tasks (AQE never coalesces an
    * explicit-count repartition). */
  private def sampledBoundaryBucket(keyed: DataFrame, order: Seq[Column],
                                    n: Int): (Column, Int) = {
    val maxB = counterConf(keyed.sparkSession,
      "spark.graft.counter.maxBoundaries", _.toInt).getOrElse(1024)
    val cap = math.min(n, math.max(1, maxB))
    val aliased = order.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }
    val kCols = order.indices.map(i => col(s"__k$i"))
    val drawn = keyed.select(aliased: _*)
      .select(struct(kCols: _*).as("__k"))
      .orderBy(xxhash64(col("__k")))
      .limit(cap * 64)
      .collect()
    // a sample short of its limit is the whole input: cut it into
    // buckets of ~64 keys, not into near-empty ones
    val nb = math.min(cap, math.max(1, drawn.length / 64))
    val sample = drawn.map(_.getStruct(0)).filter(r => !r.anyNull)
    val boundaries: IndexedSeq[org.apache.spark.sql.Row] =
      if (sample.length < 2 || nb < 2) IndexedSeq.empty
      else {
        implicit val rowOrd: Ordering[org.apache.spark.sql.Row] =
          sortKeyOrdering(sample.head.schema)
        val sorted = sample.sorted
        (1 until nb).map(i => sorted(i * sorted.length / nb))
          .distinct.filter(_ != sorted.head).toIndexedSeq
      }
    val sk = struct(order: _*)
    def structLit(r: org.apache.spark.sql.Row): Column =
      struct(r.toSeq.map(v => lit(v)): _*)
    // balanced when-tree over the bucket range [lo, hi]: testing
    // boundary mid−1 splits it; depth ⌈log₂(m+1)⌉ for m boundaries
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(sk >= structLit(boundaries(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    (search(0, boundaries.length), boundaries.length + 1)
  }

  /**
   * The body both counters share: a running window value over a unique
   * total `order`, made global without a single reducer. Each row's
   * bucket is a pure function of its key ([[sampledBoundaryBucket]],
   * boundaries sampled from `sampleSource`), so the row moves through
   * ONE hash exchange on the bucket id and the input plan executes
   * once. `running` is evaluated within each bucket in key order;
   * the bucket's `total` feeds a driver-side prefix-summed offset map
   * (one entry per bucket) that is added back as a literal lookup.
   *
   * Values do not depend on the boundaries at all: offsets accumulate
   * in BUCKET order (a hash partition may hold several buckets; the
   * window partitions by bucket), equal keys share a bucket by
   * construction, and the window orders by the full key. Boundaries
   * only govern balance; the hash-of-key sample effectively samples
   * DISTINCT keys, which biases balance on heavily duplicated keys — a
   * slow task, never a wrong number. The windowed intermediate is
   * pinned: it feeds both the totals and the final projection.
   */
  private def bucketedRunning(df: DataFrame, order: Seq[Column], as: String,
                              numPartitions: Option[Int],
                              sampleSource: DataFrame,
                              running: WindowSpec => Column,
                              total: Column): DataFrame = {
    val n = numPartitions.getOrElse(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val (bucket, buckets) = sampledBoundaryBucket(sampleSource, order, n)
    val local = graft.ops.materialize(
      df.withColumn("__bk", bucket)
        .repartition(buckets, col("__bk"))
        .withColumn("__run", running(
          Window.partitionBy(col("__bk")).orderBy(order: _*))))
    val totals = local.groupBy(col("__bk")).agg(total.as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = totals
      .scanLeft((-1, 0L, 0L)) { case ((_, _, cum), (b, t)) => (b, cum, cum + t) }
      .drop(1).map { case (b, off, _) => b -> off }.toMap
    local
      .withColumn(as, (col("__run") + element_at(typedLit(offsets), col("__bk")))
        .cast("long"))
      .drop("__bk", "__run")
  }

  /**
   * The [[contiguousRowNumber]] pattern generalized to a running SUM:
   * inclusive prefix sum of `value` over a unique total `order`, without
   * `sum().over(Window.orderBy)`'s single reducer — [[bucketedRunning]]
   * with `sum`/`sum`. Bit-identical to that window (integer values sum
   * associatively; double values would not reassociate identically, so
   * `value` must be integral). `value` is evaluated exactly once, in the
   * bucketed pass; the boundary sample evaluates only the order columns.
   *
   * `sampleSource` (default `df`) is where the boundary sample is read:
   * the pruned sample pass on `df` itself still evaluates any FILTER
   * above the scan, and a caller filtering on an expensive derived value
   * (packTokenSequences: `size(ids) > 0` over the whole BPE encode)
   * passes a key-only superset so the sample is a pure column-pruned
   * scan. Output is the same for ANY boundary choice.
   */
  def contiguousPrefixSum(df: DataFrame, order: Seq[Column], value: Column,
                          as: String,
                          numPartitions: Option[Int] = None,
                          sampleSource: Option[DataFrame] = None): DataFrame =
    bucketedRunning(df.withColumn("__v", value.cast("long")), order, as,
        numPartitions, sampleSource.getOrElse(df),
        w => sum(col("__v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        sum(col("__v")))
      .drop("__v")
}
