package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor operators over an embedding column
 * (`array<float>` / `array<double>`).
 *
 * - [[cosineTopK]] — brute-force baseline: broadcast the (small) query set
 *   against the corpus; exact, one pass, no shuffle of the corpus side.
 * - [[lshTopK]] — random-hyperplane LSH: bucket both sides by sign
 *   signature, search only same-bucket candidates. The scale path: corpus
 *   is hash-partitioned by bucket, query fan-out is bucket-local.
 *
 * All arithmetic is double (embeddings are cast up) and expressed with
 * `zip_with`/`aggregate`, which fold left-to-right — deterministic across
 * engines and partitionings.
 */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns, via the
    * codegen'd [[graft.plans.DotProduct]] expression (bit-identical to the
    * interpreted `aggregate(zip_with(...))` formulation, ~an order of
    * magnitude faster per element). */
  def dot(a: Column, b: Column): Column = graft.plans.Kernels.dot(a, b)

  /** The interpreted HOF formulation — kept as the reference semantics
    * [[dot]] is tested against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /**
   * Exact top-k cosine neighbors for each row of `queries` within `corpus`
   * (self-matches by id excluded). Output: query_id, rank (1..k),
   * neighbor_id, cosine.
   *
   * Plan: `corpus ⨯ broadcast(queries)` — the corpus side streams through
   * executors untouched — then the mergeable `graft_topk` aggregate
   * ([[graft.plans.TopKByScore]]): each map task forwards at most k pairs
   * per query into the exchange, so shuffle volume is k·|queries|·
   * nPartitions instead of the full |corpus|·|queries| scored set a
   * window formulation would move. Ids are surfaced as bigint.
   */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame =
    topK(scoredPairs(corpus, queries, idCol, vecCol), k)

  /** Exact L2 nearest neighbours — the metric twin of [[cosineTopK]]
    * and the baseline the PQ/ADC family approximates. The score IS
    * `−‖q−c‖²` (a real value a caller may threshold or compare across
    * queries), expanded as `2·q·c − |c|² − |q|²` with both norms
    * computed once per ROW on their own side of the join — the pair
    * loop pays exactly one dot product; same broadcast scan +
    * mergeable top-k aggregate as the cosine twin, no global window. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("c2", dot(col("cv"), col("cv")))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("q2", dot(col("qv"), col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (lit(2.0) * dot(col("qv"), col("cv")) - col("c2") - col("q2"))
          .as("cosine"))
    topK(scored, k).withColumnRenamed("cosine", "neg_sq_l2")
  }

  /** The window formulation of the same top-k — the reference semantics
    * [[cosineTopK]] is asserted bit-identical to in tests. Shuffles every
    * scored row; do not use on a large query set. */
  def cosineTopKWindow(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    val scored = scoredPairs(corpus, queries, idCol, vecCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  private def scoredPairs(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
  }

  /** Collapse scored (query_id, neighbor_id, cosine) rows to per-query
    * top-k via the partial-merge aggregate; output matches the window
    * formulation exactly (rank 1..k, ties to the smaller id). */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.Kernels.topK(col("cosine"), col("neighbor_id"),
        lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))

  /**
   * Embedding-cosine near-duplicate pairs, exact: every (id_a < id_b)
   * pair whose cosine ≥ `threshold`. Norms are computed once per row
   * (not per pair), so a pair costs one codegen'd dot product.
   *
   * Plan: `corpus ⨯ broadcast(corpus)` — the BASELINE the LSH variant's
   * recall is measured against; all-pairs is O(n²) and only viable when
   * one side fits in a broadcast. At scale use [[cosineNearDupLsh]].
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    // The op's contract already bounds it: all-pairs is only viable
    // when one side fits in a broadcast. Given that, the right
    // execution is a broadcast of the (normalized) corpus plus a tight
    // per-partition loop over the strict upper triangle — the
    // BroadcastNestedLoopJoin formulation (kept below as
    // [[cosineNearDupPairsDeclarative]], the reference semantics this
    // kernel is spec-tested bit-identical to) pays join-row machinery
    // per PAIR, measured ~6× the arithmetic cost at 200M pairs. This
    // is the one place the engine drops to mapPartitions: a dense
    // BLAS-shaped O(n²) kernel no relational operator expresses well.
    val spark = df.sparkSession
    val rows = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)
      .collect()
    // sorted by id so each partition walks j > i with id_j >= id_i and
    // only equal-id neighbors need skipping (strict id_a < id_b)
    val n = rows.length
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val masks = new Array[Array[Boolean]](n) // null-element mask, usually null
    val order = rows.map(_.getLong(0)).zipWithIndex.sortBy(_._1).map(_._2)
    var oi = 0
    while (oi < n) {
      val r = rows(order(oi))
      ids(oi) = r.getLong(0)
      val s = r.getSeq[Any](1)
      val len = s.length
      val vv = new Array[Double](len)
      var mask: Array[Boolean] = null
      var i = 0
      s.foreach { e =>
        if (e == null) {
          if (mask == null) mask = new Array[Boolean](len)
          mask(i) = true
        } else vv(i) = e.asInstanceOf[Double]
        i += 1
      }
      vecs(oi) = vv
      masks(oi) = mask
      oi += 1
    }
    // same fold as graft_dot: index order, null elements skipped
    def dotArr(a: Array[Double], am: Array[Boolean],
               b: Array[Double], bm: Array[Boolean]): Double = {
      val m = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      if (am == null && bm == null) {
        while (i < m) { s += a(i) * b(i); i += 1 }
      } else {
        while (i < m) {
          if ((am == null || !am(i)) && (bm == null || !bm(i)))
            s += a(i) * b(i)
          i += 1
        }
      }
      s
    }
    val nrms = new Array[Double](n)
    var k = 0
    while (k < n) {
      nrms(k) = math.sqrt(dotArr(vecs(k), masks(k), vecs(k), masks(k)))
      k += 1
    }
    val bc = spark.sparkContext.broadcast((ids, vecs, masks, nrms))
    val parts = math.max(1, math.min(n, spark.sparkContext.defaultParallelism))
    // strided row assignment: work for row i is ∝ (n − i), so contiguous
    // chunks would load the first partition ~2× the last
    val strided = (0 until parts).flatMap(p => p until n by parts)
    val pairRdd = spark.sparkContext
      .parallelize(strided, parts)
      .mapPartitions { it =>
        val (bIds, bVecs, bMasks, bNrms) = bc.value
        val t = threshold
        it.flatMap { i =>
          val out = scala.collection.mutable.ArrayBuffer.empty[
            org.apache.spark.sql.Row]
          var j = i + 1
          while (j < bIds.length) {
            if (bIds(j) != bIds(i)) {
              val s = dotArr(bVecs(i), bMasks(i), bVecs(j), bMasks(j))
              val d = bNrms(i) * bNrms(j)
              // ANSI division: a zero divisor (zero-norm vector) is a
              // runtime error in the declarative formulation —
              // replicate, don't silently emit NaN
              if (d == 0.0) throw new ArithmeticException(
                "[DIVIDE_BY_ZERO] cosineNearDupPairs: zero-norm vector " +
                  s"(id ${if (bNrms(i) == 0.0) bIds(i) else bIds(j)})")
              val c = s / d
              // Spark's ordering ranks NaN above every value, so a NaN
              // cosine (NaN components) PASSES the declarative `>=`
              // filter — replicate that too
              if (c >= t || java.lang.Double.isNaN(c))
                out += org.apache.spark.sql.Row(bIds(i), bIds(j), c)
            }
            j += 1
          }
          out
        }
      }
    spark.createDataFrame(pairRdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cosine",
        org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** The declarative `corpus ⨯ broadcast(corpus)` formulation — the
    * reference semantics [[cosineNearDupPairs]] is asserted
    * bit-identical to in SimilaritySpec. */
  private[graft] def cosineNearDupPairsDeclarative(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = normed(df, idCol, vecCol)
    val a = base.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Embedding-cosine near-duplicate pairs, LSH-bucketed — the 100 TB
   * shape: `nTables` independent hyperplane signatures are computed in
   * ONE corpus pass (posexplode of an L-element bucket array), candidate
   * pairs come from same-(table, bucket) self-joins — a shuffle on the
   * bucket key, never all-pairs — and survivors are verified with the
   * exact cosine. Collision probability per table is
   * (1 − θ/π)^nPlanes, so recall ≈ 1 − (1 − p)^nTables; measured vs
   * [[cosineNearDupPairs]] in tests.
   *
   * GEOMETRY RULE — nPlanes must scale with the corpus: a table has
   * 2^nPlanes buckets and the verify step pays Σ n_b² candidate dots,
   * so the default 8 planes (256 buckets) is sized for gate-scale
   * fixtures. Choose nPlanes ≈ log₂(n / targetBucketSize) (a few
   * hundred rows per bucket) and re-buy per-table recall
   * ((1 − θ/π)^nPlanes) with nTables. Measured on the 160× fixture:
   * 6 planes = 64 buckets over 320 k vectors ⇒ ~5 k rows/bucket ⇒
   * ~1.3e10 verified candidates (minutes, single box); 12 planes keeps
   * buckets at ~80 rows and the same job runs in seconds
   * (numbers in BASELINE.md).
   *
   * SCALE PATH — read before shipping this operator on a real corpus:
   * the output is the PAIR LIST, which is Ω(true near-dup pairs) by
   * definition — on a heavily duplicated crawl that is itself O(n²)
   * (measured on the scale fixtures: 16× the pairs for 4× the vectors;
   * ~13.8 M pairs at sf16, unpinnable by output size alone). Keep this
   * operator for workloads that genuinely consume pairs (audits,
   * cluster construction, oracle replay). A deduplication pipeline that
   * only needs per-vector keep/drop decisions must use
   * [[cosineNearDupCoverageLsh]] instead: identical buckets, identical
   * verification, O(n) output, and the pair stream never feeds an
   * exchange — flat 0.26–0.37 s across sf0.1→sf16 where this pair
   * enumerator takes 66–78 s at sf4 and cannot complete at sf16.
   *
   * AUTO-GEOMETRY COST — with the default `nPlanes = AutoPlanes` and no
   * `corpusCount`, plan CONSTRUCTION runs one narrow `count()` job over
   * the corpus to derive the geometry. For a one-shot query that is a
   * single cheap scan; a service calling this repeatedly should pass
   * `corpusCount = Some(n)` (e.g. from [[graft.operators.AnnIndex]]
   * stats or its own catalog) or pin an explicit `nPlanes` — either
   * keeps construction action-free.
   */
  def cosineNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, threshold: Double, nTables: Int = 8,
                       nPlanes: Int = AutoPlanes, seed: Long = 42L,
                       corpusCount: Option[Long] = None): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val base = normed(df, idCol, vecCol)
    val np = resolvePlanes(nPlanes,
      () => corpusCount.getOrElse(base.count()), NearDupTargetBucket)
    val buckets = (0 until nTables).map(t =>
      lshBucket(col("v"), hyperplanes(np, dim, seed + t)))
    // vectors + norms ride THROUGH the bucket self-join, so candidate
    // pairs are verified inline in the join's output stage and the
    // candidate stream never reaches an exchange. The earlier shape —
    // bare (id, tbl, bucket) join, then two rejoins to fetch vectors —
    // shuffled the CANDIDATE-proportional pair list twice; on a
    // collision-heavy corpus (or whenever the corpus outgrows the
    // broadcast threshold, seen at sf1 where AQE demoted both rejoins
    // to shuffle joins and the q61-config pass went from seconds to
    // ~50 s) that is the whole operator's cost. This shape shuffles
    // nTables copies of the corpus rows exactly once, on the
    // (table, bucket) key — corpus-proportional, candidate-independent
    // — and both sides of the self-join reuse ONE exchange.
    val exploded = base.select(col("id"), col("v"), col("nrm"),
      posexplode(array(buckets: _*)).as(Seq("tbl", "bucket")))
    // a pair can collide in up to nTables tables; verify FIRST and
    // dedupe the SURVIVORS (≪ candidates at any tight threshold), so
    // the global distinct exchange carries verified pairs, not every
    // duplicate candidate. The cosine is deterministic per pair, so
    // the distinct collapses cross-table duplicates exactly.
    exploded.as("x")
      .join(exploded.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /**
   * Bounded-output near-dedup over embeddings: per-vector keep/drop
   * coverage WITHOUT ever materializing the verified pair list.
   *
   * [[cosineNearDupLsh]] emits raw (id_a, id_b) pairs — on a heavily
   * duplicated crawl that output is itself O(n²) (measured: 16× the
   * pairs for 4× the vectors on the scale fixtures), so a caller who
   * only wants SURVIVORS pays a pair-proportional shuffle for an
   * O(n)-sized answer. This variant folds the verified stream straight
   * into a per-victim aggregate: one row per corpus vector with
   *  - `kept`  — no verified (cosine ≥ t) partner with a smaller id
   *    (the same keep-first policy as [[graft.operators.Dedup.nearDedupKeep]]);
   *  - `dup_min_partner` / `dup_max_cosine` — the smallest such partner
   *    id and the strongest similarity (NULL when kept).
   *
   * Scale shape: the bucket self-join verifies candidates inline (one
   * corpus-proportional exchange on the (table, bucket) key, exactly as
   * [[cosineNearDupLsh]]), and the ONLY downstream exchange is the
   * per-id aggregation, whose map-side partial combine collapses each
   * partition's pair stream to ≤ one row per victim id BEFORE the
   * shuffle. min/max are duplicate-insensitive, so cross-table repeats
   * of the same pair need no distinct — the pair list never feeds an
   * exchange (plan-asserted in PlanSpec).
   */
  def cosineNearDupCoverageLsh(df: DataFrame, idCol: String, vecCol: String,
                               dim: Int, threshold: Double, nTables: Int = 8,
                               nPlanes: Int = AutoPlanes,
                               seed: Long = 42L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // EXACT-DUPLICATE COLLAPSE (r13) — the fix for the quadratic truth
    // the r12 bench missed: on a duplicate-heavy corpus, identical
    // vectors share every LSH bucket, so the member-level self-join
    // pays |group|² verified candidates per duplicate cluster (the 160×
    // replica fixture: >10 minutes at sf16 where the honest plan below
    // runs in seconds; the old 0.37 s reading was a count() benchmark
    // artifact — Catalyst eliminates the left join under count). The
    // LSH work belongs at the DISTINCT-VECTOR level; member-level facts
    // then follow from three observations, each giving bit-identical
    // output to the pair formulation (the DuckDB oracle replays THAT):
    //  - within a group (identical vectors, group min id g), every
    //    member x > g has partner g with cosine sc = dot(v,v)/(nrm·nrm)
    //    — the same float expression the pair form evaluates, and the
    //    smallest same-group partner is always g;
    //  - the smallest CROSS-group partner of x is the smallest partner
    //    GROUP min below x (a group's members all share its buckets and
    //    cosine, so the group's min id represents it exactly);
    //  - the strongest cross similarity below x is the running max of
    //    event cosines over partner-group mins < x — duplicate events
    //    from multi-table collisions drop out of min/max for free.
    // One window keyed on the vector (group ids), a rep-level bucket
    // join (distinct-vector-sized), and one union window keyed on the
    // group: every exchange is corpus- or distinct-proportional; no
    // candidate pair ever multiplies by duplicate-cluster size.
    val base = normed(df, idCol, vecCol)
    val wv = Window.partitionBy(col("v"))
    val mem0 = graft.ops.materialize(
      base.withColumn("gid", min(col("id")).over(wv)))
    val reps = mem0.filter(col("id") === col("gid"))
      .select(col("gid"), col("v"), col("nrm"))
    // auto geometry counts the DISTINCT-vector reps (the level the LSH
    // actually runs at) — a cached read, mem0 is already pinned
    val np = resolvePlanes(nPlanes, () => reps.count(), NearDupTargetBucket)
    val buckets = (0 until nTables).map(t =>
      lshBucket(col("v"), hyperplanes(np, dim, seed + t)))
    val exploded = reps.select(col("gid"), col("v"), col("nrm"),
      posexplode(array(buckets: _*)).as(Seq("tbl", "bucket")))
    // distinct-vector candidate pairs, verified inline (cosine is
    // direction-insensitive bit-for-bit: products commute, the dot sums
    // in the same index order)
    val events0 = exploded.as("x")
      .join(exploded.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.gid") < col("y.gid"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    // one directed event per side: (group, partner-group min, cosine)
    val events = events0.select(col("ga").as("gid"), col("gb").as("pmin"),
        col("cosine"))
      .unionAll(events0.select(col("gb").as("gid"), col("ga").as("pmin"),
        col("cosine")))
    // union members and events on the id axis; running min/max per
    // group deliver, at each member row, the smallest partner-group min
    // and the strongest cross cosine among groups whose min id is below
    // this member (rows ordered by that id axis; ids are unique so no
    // member ever ties an event)
    val memRows = mem0.select(col("gid"), col("id").as("ord"),
      lit(1).as("is_mem"), col("id"),
      (dot(col("v"), col("v")) / (col("nrm") * col("nrm"))).as("sc"),
      lit(null).cast("long").as("pmin"),
      lit(null).cast("double").as("cosine"))
    val evtRows = events.select(col("gid"), col("pmin").as("ord"),
      lit(0).as("is_mem"), lit(null).cast("long").as("id"),
      lit(null).cast("double").as("sc"), col("pmin"), col("cosine"))
    val wg = Window.partitionBy(col("gid"))
      .orderBy(col("ord"), col("is_mem"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = memRows.unionAll(evtRows)
      .withColumn("cross_min", min(col("pmin")).over(wg))
      .withColumn("cross_max", max(col("cosine")).over(wg))
      .filter(col("is_mem") === 1)
    // assemble the pair-formulation facts: same-group partner g exists
    // for x > g when the identical-pair cosine passes the threshold.
    // (Zero-norm vectors are outside the contract — ANSI division
    // rejects them here exactly as in the pair form and every other
    // cosine operator in the engine.)
    val hasGrp = (col("id") > col("gid")) && (col("sc") >= threshold)
    val hasCross = col("cross_min").isNotNull
    // NULL-vector rows: sc is null, so hasGrp is null for id > gid and
    // !(null || false) stays null — but the direct/pair form KEEPS such
    // rows (a null cosine never passes the verify filter, the left join
    // misses). coalesce pins the collapse to the same answer; hasCross
    // is never null, so the coalesce only ever fires on null-vector rows
    val kept = coalesce(!(hasGrp || hasCross), lit(true))
    folded.select(col("id"), kept.as("kept"),
      when(kept, lit(null).cast("long")).otherwise(
        least(when(hasGrp, col("gid")), col("cross_min")))
        .as("dup_min_partner"),
      when(kept, lit(null).cast("double")).otherwise(
        greatest(when(hasGrp, col("sc")), col("cross_max")))
        .as("dup_max_cosine"))
  }

  /** The direct pair formulation of [[cosineNearDupCoverageLsh]] — the
    * exact shape the DuckDB oracle replays, kept as the parity baseline
    * for the collapse form (SimilaritySpec asserts bit-identical
    * output). Do NOT ship this on a duplicate-heavy corpus: the member-
    * level self-join pays |group|² verified candidates per exact-
    * duplicate cluster. */
  private[graft] def cosineNearDupCoverageLshDirect(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nTables: Int = 8,
      nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val base = normed(df, idCol, vecCol)
    val buckets = (0 until nTables).map(t =>
      lshBucket(col("v"), hyperplanes(nPlanes, dim, seed + t)))
    val exploded = base.select(col("id"), col("v"), col("nrm"),
      posexplode(array(buckets: _*)).as(Seq("tbl", "bucket")))
    val dropped = exploded.as("x")
      .join(exploded.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("y.id").as("id"), col("x.id").as("partner"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy("id")
      .agg(min(col("partner")).as("dup_min_partner"),
        max(col("cosine")).as("dup_max_cosine"))
    base.select(col("id"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("dup_min_partner").isNull.as("kept"),
        col("dup_min_partner"), col("dup_max_cosine"))
  }

  /**
   * Symmetric per-vector int8 quantization: `struct(scale, codes)` with
   * `code = floor(x / scale · 127 + 0.5)` and `scale = max |x|` — 4×
   * storage/shuffle reduction for embedding columns, the difference
   * between fitting a corpus's vectors in executor memory or not at
   * 100 TB. Round-half-up via `floor(+0.5)` because engines disagree on
   * `round`'s tie rule but agree bit-exactly on `floor`. Zero/empty
   * vectors quantize against scale 1 (all-zero codes). Reconstruction
   * error is bounded by `scale/254` per component ([[dequantizeInt8]]).
   */
  def quantizeInt8(vec: Column): Column = {
    // ONE compiled two-pass kernel ([[graft.plans.QuantizeInt8]]) — the
    // declarative chain below ran three interpreted HOF passes per
    // vector and re-evaluated the scale subtree per element (q70 at
    // sf0.1: numbers in BASELINE.md). Bit-parity incl. null/empty/
    // all-zero vectors and null elements is spec'd in
    // InterpretedParitySpec; works on any session (the Column carries
    // the expression itself — no registry lookup).
    graft.plans.Kernels.quantizeInt8(vec.cast("array<double>"))
  }

  /** The declarative HOF formulation of [[quantizeInt8]] — the parity
    * baseline the kernel is spec'd against; never on a hot path. */
  private[graft] def quantizeInt8Reference(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = when(maxAbs.isNull || maxAbs === 0.0, lit(1.0))
      .otherwise(maxAbs)
    struct(scale.as("scale"),
      transform(v, x => floor(x / scale * 127.0 + 0.5).cast("int"))
        .as("codes"))
  }

  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => c.cast("double") * q.getField("scale") / 127.0)

  /** Sentinel `nPlanes` value: derive the LSH geometry from the corpus
    * size at call time ([[autoPlanes]]). r13 measured the cost of a
    * FIXED geometry shipped past its design scale: 6 planes (64
    * buckets) is right for 2 k vectors and catastrophic at 320 k
    * (≈5 k vectors/bucket ⇒ ~1.3e10 verified candidates, ≥20 min,
    * vs ~35 s at the derived 12 planes). The derivation costs one
    * narrow count of the corpus (or a cached read where the operator
    * already pinned it); passing an explicit positive `nPlanes` skips
    * the count and pins the geometry (the oracle-replay configs do). */
  val AutoPlanes: Int = 0

  /** Target mean bucket occupancy for the near-dup operators: small,
    * because every bucket pays |bucket|² verification and recall is
    * re-bought with `nTables`. log₂(320 k/128) ⇒ the 12-plane geometry
    * r13 measured at ~35 s where 6 planes could not finish. */
  val NearDupTargetBucket: Int = 128

  /** Target bucket for single-table [[lshTopK]]: larger, because the
    * bucket IS the candidate set per query (recall floor) and only
    * query-bucket pairs are verified, not bucket self-joins. */
  val TopKTargetBucket: Int = 1024

  /** nPlanes ≈ ⌈log₂(n / targetBucket)⌉, clamped to [4, 24] — the
    * BASELINE.md scale rule as an executable default. */
  private[graft] def autoPlanes(n: Long, targetBucket: Int): Int = {
    val ratio = math.max(1.0, n.toDouble / targetBucket)
    math.min(24, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)
      - 1e-9).toInt))
  }

  private def resolvePlanes(nPlanes: Int, count: () => Long,
                            targetBucket: Int): Int = {
    require(nPlanes >= 0 && nPlanes <= 63,
      s"nPlanes must be in [0, 63] (0 = auto), got $nPlanes")
    if (nPlanes > 0) nPlanes else autoPlanes(count(), targetBucket)
  }

  private def normed(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** Deterministic pseudo-random hyperplanes: `planes(i)(d)` in [-1, 1),
    * derived from a fixed seed so plans are reproducible.
    *
    * The generator is pure modular arithmetic (two fixed-multiplier
    * mixes, then an exact division by 2¹⁹) rather than a JVM PRNG:
    * every component is `(((seed + i·dim + d)·2654435761 + 1013904223)
    * mod (2³¹−1) · 1597334677 mod 2²⁰) / 2¹⁹ − 1`, which an external
    * engine can regenerate bit-exactly in SQL (all intermediates fit
    * 63 bits; the division by a power of two and the −1 are exact in
    * IEEE doubles). That makes LSH bucket ids — and therefore the q41/
    * q61 candidate sets — replayable by the driver's DuckDB oracle. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    Seq.tabulate(nPlanes, dim) { (i, d) =>
      val x = ((BigInt(seed) + i.toLong * dim + d) * 2654435761L + 1013904223L)
        .mod(BigInt(2147483647L))
      ((x * 1597334677L).mod(BigInt(1048576L))).toDouble / 524288.0 - 1.0
    }

  /** Cell-assignment argmax over literal centroids — ties to the
    * smaller centroid id. THE single definition behind IVF assignment,
    * SemDeDup cells, and the persisted-index build ([[ivfTopK]],
    * [[semanticDedup]], `ProductQuant.ivfPqTopK`,
    * `AnnIndex.encodeCorpus`): the q43b/q91/q122 oracles replay this
    * exact float form, so one shared expression keeps build, search
    * and replay bit-aligned. */
  private[operators] def cellArgmax(cents: Seq[(Long, Seq[Double])],
                                    v: Column): Column = {
    val best = greatest(cents.map { case (cid, cv) =>
      struct(cosine(v, typedLit(cv)).as("csim"), lit(-cid).as("neg_id"))
    }.toIndexedSeq: _*)
    -best.getField("neg_id")
  }

  /** Sign-signature bucket id (0 .. 2^nPlanes-1) of a vector column. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    // ONE compiled kernel for all sign bits ([[graft.plans.LshBucket]]),
    // not a dot-per-plane expression chain: whole-stage codegen inlines
    // every dot loop into the consume method, and at 8 tables × 6+
    // planes the method blows past HotSpot's HugeMethodLimit — the
    // hottest stage of every LSH operator then runs as INTERPRETED
    // bytecode (profiled r13: ~140 ns/element at sf16, ~15× compiled
    // speed). Bit-identical arithmetic: d-ascending sum per plane,
    // null elements contribute 0, sign test keeps Spark's
    // NaN-is-largest / -0.0 == 0.0 comparison semantics.
    require(planes.nonEmpty && planes.size <= 63,
      s"1..63 planes per table, got ${planes.size}")
    val dim = planes.head.size
    require(planes.forall(_.size == dim), "ragged hyperplane matrix")
    graft.plans.Kernels.lshBucket(vec.cast("array<double>"),
      typedLit(planes.flatten), lit(dim))
  }

  /**
   * Coarse-quantizer fit for IVF: spherical k-means (Lloyd) on a
   * deterministic corpus sample. The sample is the `sampleSize` rows
   * with the smallest `xxhash64(id)` — an order-free pseudo-random
   * reservoir computed as a distributed top-N (per-partition heaps, no
   * full sort, one narrow scan of (id, vec)); the Lloyd iterations then
   * run driver-side on the tiny sample, exactly the shape of a
   * k-means|| model fit, and the result is a model artifact of
   * `nCentroids` unit vectors. Fully deterministic: hash-ordered
   * sample, first-k init, fixed iteration count; empty cells keep
   * their previous centroid.
   */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int, iters: Int = 8,
                   sampleSize: Int = 2048,
                   init: String = "auto"): Array[Array[Double]] = {
    require(init == "auto" || init == "farthest" || init == "kmeans||",
      s"init must be 'auto', 'farthest' or 'kmeans||', got '$init'")
    // Farthest-point init is O(sample² · k) on the DRIVER — fine at the
    // 2048 default (~4M dot products) and the form the q43b/q91/q122
    // oracles replay; "auto" switches to the linear deterministic
    // kmeans|| seeding ([[kmeansParSeed]]) past 10⁴ ACTUAL samples so
    // the default can never go quadratic on a big fit. Every shipped
    // oracle config samples ≤ 2048, so "auto" ≡ "farthest" for them —
    // an explicit init always wins.
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def dotArr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col("id")))
      .limit(sampleSize)
      .select("v").collect().map(r => normalize(r.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "cannot fit centroids on an empty corpus")
    val effectiveInit =
      if (init == "auto") {
        if (sample.length > 10000) "kmeans||" else "farthest"
      } else init
    // farthest-point (k-center) init: deterministic and spread across
    // the sample regardless of its order — a naive first-k init
    // degenerates exactly when it matters (leading corpus rows sharing
    // a cluster, the common crawl-batch correlation)
    val init0 =
      if (effectiveInit == "kmeans||")
        scala.collection.mutable.ArrayBuffer(
          kmeansParSeed(sample, nCentroids): _*)
      else {
        val fp = scala.collection.mutable.ArrayBuffer(sample.head)
        while (fp.length < math.min(nCentroids, sample.length)) {
          var best: Array[Double] = null
          var bestMaxSim = Double.MaxValue
          sample.foreach { v =>
            var maxSim = -2.0
            fp.foreach(c => maxSim = math.max(maxSim, dotArr(v, c)))
            if (maxSim < bestMaxSim - 1e-12) { bestMaxSim = maxSim; best = v }
          }
          if (best == null) fp += fp.head else fp += best
        }
        fp
      }
    var cents = init0.toArray
    for (_ <- 0 until iters) {
      val dim = sample.head.length
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = -2.0
        var c = 0
        while (c < cents.length) {
          val s = dotArr(v, cents(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old else normalize(sums(i))
      }
    }
    cents
  }

  /**
   * Deterministic k-means‖ seeding (Bahmani et al., "Scalable
   * k-means++", VLDB 2012) over a normalized sample — LINEAR in the
   * sample where farthest-point is quadratic, so it is the init for
   * large `sampleSize` fits. Five oversampling rounds draw ~2k
   * candidates each with probability ∝ d²(x, C) (d² = 2·(1 − cos) on
   * unit vectors); the draw replaces the paper's RNG with a pure
   * integer hash of (point index, round) — same distributional intent,
   * bit-reproducible everywhere. Candidates are weighted by how many
   * sample points they win, and a weighted Lloyd over the tiny
   * candidate set (top-k by weight as its own init) yields the k
   * seeds.
   */
  private[operators] def kmeansParSeed(sample: Array[Array[Double]],
                                       k: Int): Seq[Array[Double]] = {
    def dotArr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // hashFrac(i, r) in [0, 1): the deterministic stand-in for the
    // paper's uniform draw (same mix family as [[hyperplanes]])
    def hashFrac(i: Int, r: Int): Double = {
      val x = ((BigInt(i.toLong) * 2654435761L + r.toLong * 1229782938L +
        1013904223L).mod(BigInt(2147483647L)) * 1597334677L)
        .mod(BigInt(1 << 30))
      x.toDouble / (1 << 30).toDouble
    }
    def d2(v: Array[Double], cs: Seq[Array[Double]]): Double = {
      var maxSim = -2.0
      cs.foreach(c => maxSim = math.max(maxSim, dotArr(v, c)))
      2.0 - 2.0 * maxSim
    }
    val kEff = math.min(k, sample.length)
    var cand = Vector(sample.head)
    val ell = 2.0 * kEff
    for (r <- 1 to 5) {
      // one pass: per-point distance to the current candidate set
      val dists = sample.map(d2(_, cand))
      val cost = dists.sum
      if (cost > 0) {
        val picked = sample.indices.filter(i =>
          hashFrac(i, r) < ell * dists(i) / cost).map(sample)
        cand = cand ++ picked
      }
    }
    // weight candidates by the sample points they win (ties to the
    // lower candidate index — deterministic)
    val weights = new Array[Long](cand.length)
    sample.foreach { v =>
      var bi = 0; var bs = -2.0
      var c = 0
      while (c < cand.length) {
        val s = dotArr(v, cand(c))
        if (s > bs) { bs = s; bi = c }
        c += 1
      }
      weights(bi) += 1
    }
    // weighted Lloyd over the candidate set: init = top-k by weight
    // (index tiebreak), 8 fixed iterations, empty cells keep their seed
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var seeds = cand.indices.sortBy(i => (-weights(i), i)).take(kEff)
      .map(cand).toArray
    for (_ <- 0 until 8) {
      val sums = Array.fill(seeds.length)(new Array[Double](dim))
      val wsum = new Array[Double](seeds.length)
      cand.indices.foreach { ci =>
        val v = cand(ci); val w = weights(ci).toDouble
        if (w > 0) {
          var bi = 0; var bs = -2.0
          var c = 0
          while (c < seeds.length) {
            val s = dotArr(v, seeds(c))
            if (s > bs) { bs = s; bi = c }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(bi)(i) += w * v(i); i += 1 }
          wsum(bi) += w
        }
      }
      seeds = seeds.zipWithIndex.map { case (old, i) =>
        if (wsum(i) == 0.0) old else normalize(sums(i))
      }
    }
    // the count contract matches the farthest-point branch: exactly
    // min(k, sample) seeds. A degenerate sample (all-identical vectors
    // → zero cost, no oversampling draws) or hash-unlucky rounds can
    // leave fewer candidates — pad with the head seed, the same
    // degenerate behavior farthest-point has
    val padded =
      if (seeds.length >= kEff) seeds.toSeq
      else seeds.toSeq ++ Seq.fill(kEff - seeds.length)(seeds.head)
    padded
  }

  /**
   * IVF (inverted-file) approximate top-k: the corpus is assigned to
   * `nCentroids` Voronoi cells (centroids fit by [[fitCentroids]] —
   * sampled spherical k-means; `centroidIters = 0` falls back to the
   * first-vectors-by-id stand-in, kept as the recall comparison
   * baseline); each query probes only its `nProbe` nearest cells.
   *
   * The scale shape: the centroids are a tiny model artifact
   * (`nCentroids` rows — k-means output in a real deployment), collected
   * once at plan build and re-embedded as literal arrays, so corpus cell
   * assignment is a **per-row argmax expression**: zero shuffle, zero
   * extra corpus pass, fully codegen'd (`greatest` over
   * (csim, -centroid_id) structs; ties resolve to the smaller centroid
   * id). Per-query work drops by ~nCentroids/nProbe. Recall vs
   * [[cosineTopK]] is measured in tests.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int = 16,
              nProbe: Int = 4, centroidIters: Int = 8,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    require(nCentroids >= 2, s"need >= 2 centroids, got $nCentroids")
    // the one driver action here, inherent to IVF (centroids are model
    // parameters, same class as a control-table read) — NOT a per-row
    // collect. `centroids` (a persisted model read back, or the
    // caller's own fit — the q43b oracle dumps exactly these) skips it.
    val cents: Array[(Long, Seq[Double])] =
      if (centroids.isDefined)
        centroids.get.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      else if (centroidIters <= 0)
        corpus.orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      else
        fitCentroids(corpus, idCol, vecCol, nCentroids, centroidIters)
          .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    // validate the RESOLVED set: with the `centroids` override the
    // nCentroids check above cannot see a too-small model, and
    // greatest() would otherwise fail deep in plan construction
    require(cents.length >= 2,
      s"need >= 2 resolved centroids, got ${cents.length}")
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val assigned = c.withColumn("centroid_id",
      cellArgmax(cents.toSeq, col("cv")))
    // query side: tiny (broadcast) set — explode the literal centroid
    // array, keep each query's nProbe best cells
    val centArr = typedLit(cents)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"), col("qv"), explode(centArr).as("cent"))
      .select(col("query_id"), col("qv"),
        col("cent._1").as("centroid_id"),
        cosine(col("qv"), col("cent._2")).as("csim"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val probes = q.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val scored = assigned.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topK(scored, k)
  }

  /**
   * LSH-bucketed approximate top-k: only candidates sharing the query's
   * hyperplane-sign bucket are scored. Trades recall for a corpus-side
   * scan reduction of ~2^nPlanes; recall is measured against
   * [[cosineTopK]] in the test suite.
   *
   * `dim` is the embedding dimensionality — a schema-level fact the
   * caller declares (no `first()` probe of the corpus at build time).
   *
   * AUTO-GEOMETRY COST — with the default `nPlanes = AutoPlanes` and no
   * `corpusCount`, plan CONSTRUCTION runs one narrow `count()` job over
   * the corpus to derive the geometry, and the query itself scans the
   * corpus again (the count does not pin it). A search service calling
   * this per request must pass `corpusCount = Some(n)` (read once from
   * [[graft.operators.AnnIndex]] state stats or the caller's catalog)
   * or pin an explicit `nPlanes` — either keeps plan construction
   * action-free.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, nPlanes: Int = AutoPlanes,
              seed: Long = 42L, corpusCount: Option[Long] = None): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val c0 = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    // single-table search: target a LARGER bucket than the near-dup
    // ops (verification is per-query-bucket, and recall has no nTables
    // to re-buy it) — explicit nPlanes pins the recall/cost point
    val np = resolvePlanes(nPlanes,
      () => corpusCount.getOrElse(c0.count()), TopKTargetBucket)
    val planes = hyperplanes(np, dim, seed)
    val c = c0
      .withColumn("bucket", lshBucket(col("cv"), planes))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topK(scored, k)
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
   * deduplication by clustering embeddings with k-means and removing
   * all but one member of every within-cluster near-duplicate group
   * (cosine ≥ `eps`). The paper's insight is that the cluster step
   * bounds the quadratic: pairs are only scored inside a cell, so cost
   * is Σ|cell|² instead of n² — with balanced cells that is n²/k.
   *
   * Shape at scale: centroids are a model artifact (sampled spherical
   * k-means via [[fitCentroids]]); cell assignment is a per-row argmax
   * EXPRESSION over the literal centroids — zero shuffle, exactly the
   * IVF corpus pass; the within-cell self-join shuffles once on the
   * cell id. Kept member per duplicate group = smallest id (the paper
   * keeps an arbitrary representative; smallest-id is deterministic).
   * Returns the surviving rows of `df`.
   *
   * The drop set is one id column, proportional to the DUPLICATE
   * count — the anti-join is hint-free for the same backfill reason as
   * [[graft.operators.Dedup.nearDedupKeep]].
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    eps: Double, nCentroids: Int = 16,
                    centroidIters: Int = 8,
                    centroids: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    // fitCentroids needs >= 2, and greatest() needs >= 2 struct args
    require(nCentroids >= 2, s"need >= 2 centroids, got $nCentroids")
    // precomputed centroids (a persisted model table read back, or the
    // caller's own deterministic fit — the q91 oracle dumps exactly
    // these as data) skip the internal fit
    val cents = centroids
      .getOrElse(fitCentroids(df, idCol, vecCol, nCentroids, centroidIters))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    require(cents.length >= 2,
      s"need >= 2 resolved centroids, got ${cents.length}")
    // normalized vectors + cell ids feed both sides of the pair join —
    // pin so normalization and assignment run once. The id rides RAW
    // (no long cast): non-numeric ids would cast to NULL and silently
    // survive the final anti-join
    val base = graft.ops.materialize(
      df.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("nrm", l2Norm(col("v")))
        .withColumn("cell", cellArgmax(cents.toSeq, col("v"))))
    val a = base.select(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("cell"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val drop = a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= eps)
      .select(col("id_b").as("__drop_id")).distinct()
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }
}
