package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for document corpora, designed for the 100 TB
 * path: everything is expressed as shuffle-on-key DataFrame plans (hash
 * partitioned by content key / shingle / band bucket), no driver-side
 * pairwise loops.
 *
 * - exact: hash-groupBy on content (one shuffle on the hash)
 * - near:  n-gram shingle Jaccard, either exact (shingle-join) or
 *          MinHash+LSH banding (the scale path: candidate generation cost
 *          proportional to true near-duplicates, not to n²)
 * - SimHash: 64-bit per-doc signature for Hamming-distance near-dup
 */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest id.
    * Equivalent of a `GROUP BY md5(text)` — single shuffle on the digest. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of `textCol` as an array column.
    * Documents shorter than n tokens get an empty set.
    *
    * Built by zipping the token array with its own shifted slices —
    * strictly linear per row. (The tempting
    * `transform(sequence(...), i -> element_at(split(text), i))`
    * formulation re-evaluates `split` for every element — O(len²) per
    * document, which at corpus scale turns a seconds-long scan into
    * hours.) `zip_with` null-pads the shorter side and `concat`
    * propagates nulls, so the incomplete tail grams drop out in the
    * final filter with no length bookkeeping. */
  def shingles(textCol: Column, n: Int): Column =
    shinglesOfTokens(split(textCol, " "), n)

  /** Same, over an already-tokenized array<string> column: the distinct
    * SET of [[TextAnalysis.ngrams]] (which keeps frequencies). */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngrams(toks, n))

  /** MinHash signature agreement count — positions where two k-long
    * signatures match, the banded-LSH verification estimator. One
    * compiled pass ([[graft.plans.EqCount]]); bit-identical to
    * `size(filter(zip_with(a, b, _ === _), identity))` (parity spec'd),
    * which paid two interpreted HOF passes and two array allocations
    * per verified candidate pair. */
  private def sigAgreement(a: Column, b: Column): Column =
    graft.plans.Kernels.eqCount(a, b)

  /** Sorted distinct xxhash64 shingle set via the fused
    * [[graft.plans.SortedShingleHashes]] kernel — bit-identical to
    * `array_sort(transform(shinglesOfTokens(toks, n), xxhash64))` (the
    * reference semantics it is tested against) at a fraction of the
    * interpreted-HOF cost. The entry point of every set-similarity
    * plan. */
  def sortedShingleHashes(toks: Column, n: Int): Column = {
    graft.plans.Kernels.shingleHashes(toks, lit(n))
  }

  /**
   * Exact n-gram Jaccard pairs with similarity ≥ threshold, via
   * prefix-filtered set-similarity join (PPJoin-style candidate
   * generation):
   *
   *  1. order every doc's shingles by global rarity (doc-frequency asc,
   *     shingle asc — one consistent total order);
   *  2. keep only each doc's *prefix* — the first
   *     `|d| - ⌈t·|d|⌉ + 1` shingles. Any pair with J ≥ t must share a
   *     prefix shingle (its first common shingle in the global order
   *     falls inside both prefixes), so joining prefixes loses nothing;
   *  3. equi-join prefixes → distinct candidate pairs;
   *  4. verify candidates exactly with `array_intersect` on the full
   *     shingle sets.
   *
   * The naive shingle self-join costs Σ_s df(s)² and melts down on hot
   * shingles (skewed corpora); rarity-ordered prefixes exclude exactly
   * those, so candidate generation is driven by rare shingles. At 100 TB
   * this is the difference between a bounded shuffle and a cross join.
   */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val (sets, cand) = jaccardCandidatePairs(docs, idCol, textCol, n,
      threshold)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.plans.Kernels.intersectCount(col("set_a"), col("set_b"))
          .cast("long").as("n_common"),
        (size(col("set_a")) + size(col("set_b"))).as("size_sum"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") / (col("size_sum") - col("n_common")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The candidate-generation stage of [[jaccardPairs]], exposed for
    * scale measurement: returns (pinned shingle sets, distinct
    * candidate pairs after the prefix + length + positional filters).
    * `cand.count()` against corpus size answers the PPJoin scaling
    * question directly — whether the filters keep candidates
    * O(true pairs) as the corpus grows. */
  private[graft] def jaccardCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // Work on xxhash64'd shingles throughout: long join keys shuffle
    // ~10× lighter than n-gram strings, and verification becomes a
    // codegen'd sorted-merge count (graft_intersect_count) instead of
    // interpreted array_intersect over strings — which dominated the
    // whole query. Hash collisions would perturb a count by 1 with
    // p≈|set|²/2⁶⁴ — immaterial.
    // Eagerly materialized because the sets feed three subtrees (explode
    // + both sides of the verification join) — see [[graft.ops.materialize]]
    // for why a pinned persist beats a lazy localCheckpoint here.
    val sets = graft.ops.materialize(
      docs.select(col(idCol).as("doc_id"),
          sortedShingleHashes(split(col(textCol), " "), n).as("sh_set"))
        .filter(size(col("sh_set")) > 0))
    // prefix length: |d| - ceil(t*|d|) + 1; the 1e-9 guard keeps double
    // rounding (e.g. 0.3*50 → 15.000000000000002) from shortening the
    // prefix below the provably-safe length. set_size rides through the
    // explode (it is just size(sh_set)) rather than a second
    // count-over-partition window — the unordered count shares no sort
    // order with the row_number window, so it cost a second WindowExec
    // buffering pass over the full exploded table (40M rows at 40×).
    // df itself is a count window over the SAME shuffle the old
    // dfreq equi-join needed anyway (both hash-partition the exploded
    // table by s): the window form deletes the separate
    // explode→aggregate subtree and the join's second sorted side —
    // at 40× that was a full extra pass over the corpus.
    val wDf = Window.partitionBy("s")
    val wPos = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    // materialized because BOTH sides of the candidate self-join read
    // it: left as a lazy plan, the whole explode→df-window→prefix-window
    // pipeline executed twice (plan-verified — the self-join duplicated
    // the subtree), which at sf4 meant four ~28M-row exchange+sorts
    // spilling on slow disk instead of two.
    val prefix = graft.ops.materialize(sets
      .select(col("doc_id"), size(col("sh_set")).as("set_size"),
        explode(col("sh_set")).as("s"))
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("pos", row_number().over(wPos))
      .filter(col("pos") <=
        col("set_size") - ceil(col("set_size") * threshold - 1e-9) + 1)
      .select("doc_id", "s", "set_size", "pos"))
    // Candidate pruning INSIDE the join (PPJoin, Xiao et al. 2008):
    // prefix matching alone barely prunes templated corpora at low
    // thresholds (t=0.3 keeps ~70% of every set in the prefix) — at sf4
    // the raw matched-pair stream was ~3 GB of shuffle and the distinct
    // spilled 12 GB. Both classic filters are row-local predicates the
    // join evaluates before any pair materializes:
    //  - length filter: J ≥ t ⇒ t·|x| ≤ |y| and t·|y| ≤ |x|;
    //  - positional filter: overlap ≥ α = t·(|x|+|y|)/(1+t), and a
    //    match at positions (px, py) bounds the remaining overlap by
    //    1 + min(|x|−px, |y|−py). For any true pair its FIRST common
    //    prefix shingle satisfies the bound (every common shingle sorts
    //    at-or-after it in both sets), so dropping rows that fail it
    //    never loses a qualifying pair — completeness is covered by the
    //    brute-force property test in PropertySpec.
    // The 1e-9 slack mirrors the prefix-length guard: double rounding
    // must never flip a boundary case toward dropping a true pair.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id")
          && col("y.set_size") >= col("x.set_size") * threshold - 1e-9
          && col("x.set_size") >= col("y.set_size") * threshold - 1e-9
          && (lit(1) + least(col("x.set_size") - col("x.pos"),
                             col("y.set_size") - col("y.pos"))) >=
             (col("x.set_size") + col("y.set_size"))
               * (threshold / (1.0 + threshold)) - 1e-9)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    (sets, cand)
  }

  /** Survivors after near-dedup: drop the higher-id member of every pair
    * at or above `threshold`. The anti-join is deliberately hint-free:
    * the drop set is proportional to the DUPLICATE count, which on a
    * lightly-duplicated corpus broadcasts (AQE picks that at runtime)
    * but on a heavily-duplicated crawl — 30-50% dup rates are normal —
    * is a sizable fraction of the corpus and must shuffle. A forced
    * broadcast here is the same backfill-killer pattern as forcing the
    * merge key set in the upsert sink. */
  def nearDedupKeep(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double): DataFrame = {
    val drop = jaccardPairs(docs, idCol, textCol, n, threshold)
      .select(col("doc_b").as(idCol)).distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /**
   * Duplicate clusters from a pair list: connected components via
   * iterative min-label propagation (each node adopts the smallest label
   * among itself and its neighbors until fixpoint). Returns
   * (doc_id, cluster_id) where cluster_id = min doc id of the component.
   *
   * Two physical strategies behind one contract, picked by the EDGE
   * count (known for free — the pair list is pinned with a count
   * before anything else):
   *
   *  - **Bounded edge list** (≤ `localEdgeLimit`, default 2M pairs ≈
   *    64 MB): union-find on the driver, O(E·α). Near-dup pair lists
   *    are proportional to the duplicate count, not the corpus, so
   *    this is the overwhelmingly common case — and it replaces
   *    diameter-many distributed jobs with one collect of data that
   *    already fit one JVM's eye. This is the same bounded-driver-read
   *    class as the IVF centroid model or a watermark probe.
   *  - **Huge edge list** (a heavily-duplicated crawl can exceed any
   *    driver bound): iterative min-label propagation. The loop is
   *    driver-coordinated but every step is a distributed join+groupBy
   *    — the standard Spark shape for iterative graph algorithms;
   *    iterations ≤ the component diameter (near-dup clusters are
   *    shallow). Cost profile: exactly ONE Spark action per iteration —
   *    the job that pins the new label table also carries the
   *    convergence metric (`Dataset.observe` counting changed labels),
   *    so there is no second pass. The pair list is pinned up front;
   *    recomputing an upstream similarity join per iteration would
   *    multiply the whole pipeline by the iteration count.
   */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
                        localEdgeLimit: Long = 2000000L): DataFrame = {
    // pin the DIRECTED pair list — the expensive upstream (a similarity
    // join, typically); the symmetric edge view is two cheap cache scans,
    // so union-ing it lazily avoids running that upstream twice
    val p = graft.ops.materialize(pairs.select(col("doc_a"), col("doc_b")))
    val idType = p.schema.head.dataType
    if (p.count() <= localEdgeLimit && localOrdering(idType).isDefined)
      return localClusters(p, idType)
    val edges = p.union(p.select(col("doc_b"), col("doc_a")))
    // each iteration REBASES its plan on the pinned previous result's
    // RDD (a LogicalRDD leaf): without the cut, the logical plan grows
    // a join layer per iteration and its rendering/analysis cost grows
    // exponentially with the component diameter — persist caches the
    // DATA but does not truncate the LINEAGE
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    def cut(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, labelSchema)
    var labels = graft.ops.materialize(
      edges.select(col("doc_a").as("node")).distinct()
        .withColumn("label", col("node")))
    var labelsCut = cut(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = edges.join(labelsCut, edges("doc_b") === labelsCut("node"))
        .groupBy(edges("doc_a").as("pnode"))
        .agg(min(col("label")).as("nlabel"))
      val obs = org.apache.spark.sql.Observation()
      // materialize = ONE action: pins `next` AND fires the metric
      val next = graft.ops.materialize(
        labelsCut.withColumnRenamed("label", "old")
          .join(prop, col("node") === col("pnode"), "left")
          .select(col("node"),
            least(col("old"), coalesce(col("nlabel"), col("old"))).as("label"),
            col("old"))
          .observe(obs, count(when(col("label") =!= col("old"), lit(1)))
            .as("changed"))
          .select("node", "label"))
      converged =
        graft.ops.observed(obs, "duplicateClusters")("changed")
          .asInstanceOf[Long] == 0L
      graft.ops.materialize.release(labels)
      labels = next
      labelsCut = cut(next)
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters: no fixpoint after $maxIter iterations; " +
          "emitting the partially-propagated labels (components wider " +
          s"than $maxIter hops may carry several labels)")
    // the final label table is pinned; the edge list has served its
    // purpose — release it so repeated operator calls in a long-lived
    // session don't accumulate CacheManager entries
    graft.ops.materialize.release(p)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver orderings for the id types the union-find fast path
    * supports; anything else routes to the distributed loop. */
  private def localOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = dt match {
    case org.apache.spark.sql.types.LongType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
    case org.apache.spark.sql.types.IntegerType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
    case org.apache.spark.sql.types.StringType =>
      // must match the distributed loop's min(label), which compares
      // UTF8String (UTF-8 bytes) — Java String ordering (UTF-16 code
      // units) disagrees for BMP-private-use vs supplementary chars
      Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String]))
      })
    case _ => None
  }

  /** Union-find over a collected (bounded) edge list; emits the same
    * (doc_id, cluster_id = min member) contract as the loop. */
  private def localClusters(p: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = localOrdering(idType).get
    val edges = p.collect()
    graft.ops.materialize.release(p)
    val index = new java.util.HashMap[Any, Int](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Any](edges.length)
    def idxOf(v: Any): Int =
      if (index.containsKey(v)) index.get(v)
      else { index.put(v, ids.length); ids += v; ids.length - 1 }
    val parent = new scala.collection.mutable.ArrayBuffer[Int](edges.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { r =>
      val a = idxOf(r.get(0)); val b = idxOf(r.get(1))
      while (parent.length < ids.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min member per root, then one row per node
    val minOf = new java.util.HashMap[Int, Any]()
    ids.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(ids(i), cur)) minOf.put(r, ids(i))
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    ids.indices.foreach { i =>
      rows.add(org.apache.spark.sql.Row(ids(i), minOf.get(find(i))))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    p.sparkSession.createDataFrame(rows, schema)
  }

  // ───────────────────────── MinHash + LSH ─────────────────────────

  /** Universal-hash parameters (a·x + b mod p) for `k` permutations,
    * deterministic from `seed`. p = 2^61 - 1 (Mersenne prime).
    *
    * The schedule is two fixed-multiplier Weyl sequences rather than a
    * JVM PRNG: every parameter is plain modular arithmetic, so an
    * external engine (the driver's DuckDB oracle) can regenerate the
    * exact values in SQL — `a_i = ((seed+i+1)·2654435761) mod (2³¹−2) + 1`,
    * `b_i = ((seed+i+1)·1229782938247303441) mod (2⁶¹−1)` (the b product
    * needs 128-bit arithmetic: BigInt here, HUGEINT in SQL). */
  private val P: Long = (1L << 61) - 1
  private def hashParams(k: Int, seed: Long): Seq[(Long, Long)] =
    Seq.tabulate(k) { i =>
      val j = BigInt(seed) + i + 1
      val a = ((j * 2654435761L).mod(BigInt(Int.MaxValue.toLong - 1))).toLong + 1
      val b = ((j * BigInt("1229782938247303441")).mod(BigInt(P))).toLong
      (a, b)
    }

  /** SQL-portable 60-bit content hash: the first 15 hex digits of the
    * md5 digest as a non-negative long. ~6× slower than xxhash64, but
    * bit-replicable by any engine with an md5 (the DuckDB oracle parses
    * the same hex prefix), which turns the MinHash/SimHash family from
    * "trust the recall spec" into driver-hash-verified. Production
    * paths keep the fused xxhash64 kernel; the driver-oracled registry
    * entries pass this as `baseHash`. */
  /** A `val` (stable function instance), not a `def`: callers pass
    * `Some(md5Hash60)` as a base hash, and [[minHashSignatures]]
    * recognizes THIS instance by reference to take the fused
    * `graft_minhash` kernel path (which embeds the identical md5
    * arithmetic). Any other function still works via the aggregate
    * formulation. */
  val md5Hash60: Column => Column = c => {
    // ONE digest-to-long kernel ([[graft.plans.Md5Hash60]]) — the
    // declarative chain allocated a 32-char hex string, substring'd it
    // and re-parsed 15 hex chars per hashed value; parity spec'd
    // against [[md5Hash60Reference]] in InterpretedParitySpec
    graft.plans.Kernels.md5h60(c.cast("binary"))
  }

  /** The declarative hex-string formulation of [[md5Hash60]] — the
    * parity baseline the kernel is spec'd against. */
  private[graft] val md5Hash60Reference: Column => Column = c =>
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Per-shingle base hashes in [0, 2^31): keeps the a·x+b products of
    * the signature aggregates below the 2^63 overflow budget. The pmod
    * runs AFTER the explode (codegen'd, per row) rather than inside an
    * interpreted array transform. `baseHash = None` uses the fused
    * xxhash64 kernel (production default); `Some(f)` hashes each raw
    * shingle string with `f` (e.g. [[md5Hash60]] for oracle parity). */
  private def explodedShingleHashes(docs: DataFrame, idCol: String,
                                    textCol: String, n: Int,
                                    baseHash: Option[Column => Column]): DataFrame =
    baseHash match {
      case None =>
        docs.select(col(idCol).as("doc_id"),
            explode(sortedShingleHashes(split(col(textCol), " "), n)).as("h"))
          .select(col("doc_id"),
            pmod(col("h"), lit(Int.MaxValue.toLong)).as("x"))
      case Some(f) =>
        docs.select(col(idCol).as("doc_id"),
            explode(shingles(col(textCol), n)).as("s"))
          .select(col("doc_id"),
            pmod(f(col("s")), lit(Int.MaxValue.toLong)).as("x"))
    }

  /**
   * MinHash signatures as a DataFrame: (doc_id, sig array<bigint>[k]).
   *
   * A signature is a per-row function of the row's shingle set, so the
   * default path is the fused [[graft.plans.MinHashSigs]] kernel: one
   * narrow scan → project pass, all k mins per row in a single loop,
   * ZERO shuffle and zero row amplification — at corpus scale the
   * aggregate formulation's exploded exchange (a shuffled row per
   * shingle) IS the signature stage's cost. The kernel path serves
   * `baseHash = None` (pre-hashed via the fused xxhash64 shingle
   * kernel) and `Some(md5Hash60)` (the md5 arithmetic is embedded in
   * the kernel, bit-identical — recognized by function-instance
   * reference); any other base hash falls back to
   * [[minHashSignaturesAgg]]. Docs with no shingles (shorter than n
   * tokens) are dropped on every path.
   */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, seed: Long = 42L,
                        baseHash: Option[Column => Column] = None): DataFrame = {
    val elems: Option[Column] = baseHash match {
      case None => Some(sortedShingleHashes(split(col(textCol), " "), n))
      case Some(f) if f eq md5Hash60 => Some(shingles(col(textCol), n))
      case Some(_) => None
    }
    elems match {
      case Some(e) =>
        val params = typedLit(hashParams(k, seed).map { case (a, b) =>
          Seq(a, b)
        })
        docs.select(col(idCol).as("doc_id"),
            graft.plans.Kernels.minHash(e, params).as("sig"))
          .filter(col("sig").isNotNull)
      case None =>
        minHashSignaturesAgg(docs, idCol, textCol, n, k, seed, baseHash)
    }
  }

  /**
   * The aggregate formulation of [[minHashSignatures]] — explode →
   * groupBy(doc) with k codegen'd `min` aggregates — kept as the
   * reference semantics the fused kernel is spec-tested bit-identical
   * to (MinHashKernelSpec), and as the fallback for caller-supplied
   * base hashes the kernel doesn't embed.
   */
  private[graft] def minHashSignaturesAgg(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, seed: Long = 42L,
      baseHash: Option[Column => Column] = None): DataFrame = {
    val params = hashParams(k, seed)
    val ex = explodedShingleHashes(docs, idCol, textCol, n, baseHash)
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("x") * lit(a % Int.MaxValue) + lit(b), lit(P))).as(s"m$i")
    }
    ex.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /**
   * LSH banding: split the k-wide signature into `bands` bands of
   * k/bands rows; docs sharing any band hash become candidate pairs.
   * Shuffle key = (band index, band hash) — candidate generation is a
   * plain groupBy-join, no n² comparison. The returned pairs still carry
   * the estimated Jaccard (signature agreement rate) for post-filtering.
   */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int, seed: Long = 42L,
                        baseHash: Option[Column => Column] = None,
                        sigs: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    // The signature aggregation (explode + k min-aggregates — the
    // expensive stage) feeds three subtrees: the banding and both sides
    // of the post-candidate rejoin. Without pinning, the dominant stage
    // runs 3× (measured 12.9 s vs 2.9 s at sf0.1); an eager persist
    // guarantees exactly one run (see [[graft.ops.materialize]]).
    // `sigs` (caller-pinned (doc_id, sig) rows for exactly `docs`, e.g.
    // one shared pass feeding several minhash consumers) skips it.
    val sig = sigs.getOrElse(graft.ops.materialize(
      minHashSignatures(docs, idCol, textCol, n, k, seed, baseHash)))
    // bare (doc, band, hash) rows only — signatures rejoin *after* the
    // distinct, so the shuffle carries ids, not 8-byte×k arrays
    val banded = bandedSigs(sig, bands, rows)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (sigAgreement(col("sig_a"), col("sig_b")).cast("double") / k)
          .as("est_jaccard"))
  }

  /**
   * 64-bit SimHash over token xxhash64s: per bit, majority vote of token
   * hash bits. Near-duplicates land within small Hamming distance. Pure
   * expression work (transform over a 0..63 sequence + aggregate).
   */
  def simHash64(textCol: Column): Column =
    simHash64OfHashes(transform(TextAnalysis.tokens(textCol),
      t => xxhash64(t)))

  /** SimHash over a pre-hashed token array. Null input propagates null
    * (a null document must not receive the all-zero signature — a
    * legitimate-looking value that near-matches genuinely negative-
    * voting docs).
    *
    * All 64 majority votes run in ONE compiled pass over the array
    * ([[graft.plans.SimHash64]]) — the declarative formulation was 64
    * independent `aggregate()` HOFs, i.e. 64 interpreted array passes
    * per document with a boxed lambda call per element (the r13
    * LshBucket lesson again; measured deltas in BASELINE.md). Works on
    * any session (the Column carries the expression directly);
    * bit-parity with the HOF reference is spec'd in
    * InterpretedParitySpec. */
  def simHash64OfHashes(hashes: Column): Column =
    graft.plans.Kernels.simHash64(hashes)

  /** The declarative 64-HOF formulation of [[simHash64OfHashes]] — the
    * parity baseline the kernel is spec'd against; never on a hot
    * path. */
  private[graft] def simHash64OfHashesReference(hashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val mask = lit(1L << i)
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0L, 1L).otherwise(-1L))
      when(vote > 0, mask).otherwise(lit(0L))
    }
    when(hashes.isNotNull, bits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** LSH band hashes of a (doc_id, sig) signature table: one
    * (doc_id, band, band_hash) row per band. */
  private def bandedSigs(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

  /**
   * Incremental MinHash near-dedup — the nightly-ingest shape at
   * 100 TB: dedup a NEW batch against everything already processed
   * WITHOUT touching the historical documents again. The state is the
   * signature table (doc_id, sig: array<long> of k minima) — k·8 bytes
   * per document, orders of magnitude smaller than the text, and the
   * only thing the next batch joins against.
   *
   * A batch document is dropped when LSH banding pairs it with ANY
   * smaller-id document (historical or same-batch) at estimated
   * Jaccard ≥ `threshold` — exactly the keep-first rule of the
   * one-shot dedup over the accumulated corpus. Because banding is
   * per-document, running batches through this incrementally yields
   * BIT-IDENTICAL survivors to one big batch over the union (asserted
   * in DedupSpec), provided ids are assigned monotonically across
   * batches (older docs have smaller ids — the natural ingest order).
   *
   * The state keeps signatures of every processed doc (dropped ones
   * too: the keep-first rule lets an already-dropped doc shadow later
   * copies). On a real lake the state would be written bucketed by
   * band hash so the nightly candidate join is Exchange-free on the
   * state side.
   *
   * @param seenSigs previous state, or None for the first batch
   * @return (surviving batch rows, updated signature state)
   */
  def incrementalNearDedup(batch: DataFrame, idCol: String, textCol: String,
                           seenSigs: Option[DataFrame], n: Int, k: Int,
                           bands: Int, threshold: Double, seed: Long = 42L,
                           baseHash: Option[Column => Column] = None,
                           precomputedBatchSigs: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    // the batch signatures feed banding, the verify rejoin, and the
    // state union — pin once (same reasoning as minHashCandidates);
    // `precomputedBatchSigs` (caller-pinned signatures of exactly
    // `batch`) skips the pass
    val batchSigs = precomputedBatchSigs.getOrElse(graft.ops.materialize(
      minHashSignatures(batch, idCol, textCol, n, k, seed, baseHash)))
    val all = seenSigs.map(_.unionByName(batchSigs)).getOrElse(batchSigs)
    // candidate side x ranges over the WHOLE state, y only over the
    // batch: the join output is bounded by the batch's collisions, not
    // the corpus's
    val cand = bandedSigs(all, bands, rows).as("x")
      .join(bandedSigs(batchSigs, bands, rows).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val drop = cand
      .join(all.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(batchSigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .filter((sigAgreement(col("sig_a"), col("sig_b")).cast("double") / k)
        >= threshold)
      .select(col("id_b").as("__drop_id")).distinct()
    val survivors = batch
      .join(drop, col(idCol) === col("__drop_id"), "left_anti")
    (survivors, all)
  }

  /**
   * Persist near-dedup signature state in the pre-shuffled layout the
   * nightly ingest wants at warehouse scale — two bucketed tables:
   *
   *   `<base>_sigs`  (doc_id, sig)             bucketed+sorted by doc_id
   *   `<base>_bands` (doc_id, band, band_hash) bucketed+sorted by (band, band_hash)
   *
   * Every state-side join of [[incrementalNearDedupBucketed]] (the
   * banded candidate join AND the verify rejoin) then reads data
   * already partitioned on its join keys: the only thing shuffled each
   * night is the NEW batch, orders of magnitude smaller than the
   * accumulated corpus. Append-only — each batch adds its own bucket
   * files (Spark appends per-bucket), history is never rewritten. The
   * first call creates the tables.
   */
  def writeDedupState(state: DataFrame, base: String, k: Int, bands: Int,
                      buckets: Int = 64): Unit = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    import org.apache.spark.sql.SaveMode
    // re-append guard (r19): a tombstoned doc_id written back into the
    // state would be hidden forever by the live-read anti-join —
    // deleted ids never return (a corrected doc re-ingests under a NEW
    // monotonic id, the keep-first ordering contract)
    StandingState.requireNotTombstoned(state.sparkSession,
      s"${base}_tombstones", state, "doc_id",
      "compactDedupState (drops the dead signature/band rows and " +
        "clears the tombstones); deleted ids should normally re-ingest " +
        "under a fresh monotonic id instead")
    state.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").mode(SaveMode.Append).saveAsTable(s"${base}_sigs")
    bandedSigs(state, bands, k / bands).write
      .bucketBy(buckets, "band", "band_hash").sortBy("band", "band_hash")
      .format("parquet").mode(SaveMode.Append).saveAsTable(s"${base}_bands")
  }

  /**
   * DELETE from the near-dedup signature state — the
   * [[AnnIndex.tombstoneAnnIds]] discipline applied to the third
   * standing state (r19, closing the delete-symmetry gap): a document
   * removed from the corpus (takedown, correction, decontamination
   * hit) must stop SHADOWING future near-duplicates — its signature
   * would otherwise suppress every later copy forever — and must stop
   * generating candidate collisions. Tombstoned ids ride a tiny
   * `<base>_tombstones` (doc_id) table; both state reads of
   * [[incrementalNearDedupBucketed]] anti-join it (broadcast — a
   * delete set is small next to the corpus), [[compactDedupState]]
   * applies it physically to `_sigs` AND `_bands` and clears it, and
   * [[resetDedupState]] (a rebuild) drops it. One table append =
   * atomic; re-tombstoning is a no-op. No scalar bookkeeping rides
   * along — unlike the lexical twin, dedup state has no corpus
   * aggregates to keep exact.
   *
   * Reference anchor: the reference warehouse rows are correctable /
   * removable through the upsert MERGE
   * (`/root/reference/Pembelian/run.js:328`); a curation pipeline
   * needs the same for its dedup memory.
   */
  def tombstoneDedupDocs(spark: org.apache.spark.sql.SparkSession,
                         base: String, ids: DataFrame): Unit = {
    val t = s"${base}_tombstones"
    val keyed = StandingState.keyedIds(ids, "doc_id")
    StandingState.appendTombstones(spark, t,
      StandingState.freshTombstones(spark, t, keyed, "doc_id"))
  }

  /** Drop every [[writeDedupState]] table (and tombstones) — the
    * rebuild reset: the next ingest starts an empty dedup memory. */
  def resetDedupState(spark: org.apache.spark.sql.SparkSession,
                      base: String): Unit =
    for (t <- Seq("sigs", "bands", "tombstones"))
      StandingState.dropStale(spark, s"${base}_$t")

  /**
   * Bucket-preserving compaction of the [[writeDedupState]] tables —
   * the third standing-state compactor (codes:
   * [[AnnIndex.compactAnnIndex]], postings:
   * [[LexIndex.compactLexIndex]]): every nightly batch appends its own
   * per-bucket files to `_sigs` and `_bands`, so after months the
   * candidate join's state side pays file-open cost. Each table is
   * rewritten to exactly one file per non-empty bucket with NO shuffle
   * (bucketed scan pinned on — one read partition per bucket; the
   * `repartition` formulation silently fails to collapse, see
   * compactAnnIndex's Scaladoc) behind [[StandingState.stagedSwap]]'s
   * crash-safety window (r19: a crash between DROP and RENAME is
   * recovered by promoting the staging table). Tombstoned docs' rows
   * ([[tombstoneDedupDocs]]) are dropped physically from BOTH tables;
   * the tombstone table is cleared only after both swaps committed —
   * a crash anywhere in between leaves the anti-join re-applying a
   * (possibly already-applied) filter, never resurrecting rows.
   * Candidate/survivor results are bit-identical before/after
   * (DedupSpec) because the reads already excluded them logically.
   */
  def compactDedupState(spark: org.apache.spark.sql.SparkSession,
                        base: String, buckets: Int = 64): Unit = {
    for ((table, bucketCols) <- Seq(
        (s"${base}_sigs", Seq("doc_id")),
        (s"${base}_bands", Seq("band", "band_hash")))) {
      StandingState.compactBucketed(spark, table, bucketCols, buckets,
        StandingState.minusTombstones(spark, spark.table(table),
          s"${base}_tombstones", "doc_id"))
    }
    StandingState.dropStale(spark, s"${base}_tombstones")
  }

  /**
   * [[incrementalNearDedup]] against [[writeDedupState]] tables — the
   * same keep-first drop rule with the same bit-identical-survivors
   * guarantee (DedupSpec), re-planned so nothing state-sized moves:
   *
   *  - state×batch candidates join the bucketed band table on exactly
   *    its bucket keys — the state side plans NO Exchange, only the
   *    batch's bands shuffle (to the bucket count);
   *  - batch×batch candidates (same-night duplicates) never touch the
   *    state;
   *  - the verify rejoin reads `_sigs` bucketed on doc_id — again only
   *    the candidate pairs move, and the batch's own signatures
   *    broadcast.
   *
   * Tombstoned docs ([[tombstoneDedupDocs]]) are excluded from BOTH
   * state reads by a broadcast anti-join (below the bucketed scan's
   * partitioning — no Exchange appears), so a deleted doc neither
   * shadows future near-duplicates nor generates candidates: survivors
   * equal a state that never ingested it (DedupSpec asserts against a
   * physical twin).
   *
   * Returns (survivors, batchSigs); after the survivors are committed
   * downstream, append the batch with
   * `writeDedupState(batchSigs, base, k, bands, buckets)`.
   */
  def incrementalNearDedupBucketed(spark: org.apache.spark.sql.SparkSession,
                                   batch: DataFrame, idCol: String,
                                   textCol: String, base: String,
                                   n: Int, k: Int, bands: Int,
                                   threshold: Double, seed: Long = 42L,
                                   baseHash: Option[Column => Column] = None)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val batchSigs = graft.ops.materialize(
      minHashSignatures(batch, idCol, textCol, n, k, seed, baseHash))
    val batchBands = bandedSigs(batchSigs, bands, rows)
    val stateBands = StandingState.minusTombstones(spark,
      spark.table(s"${base}_bands"), s"${base}_tombstones", "doc_id")
    val stateSigs = StandingState.minusTombstones(spark,
      spark.table(s"${base}_sigs"), s"${base}_tombstones", "doc_id")
    def pairs(x: DataFrame, y: DataFrame): DataFrame =
      x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val cand = pairs(stateBands, batchBands)
      .union(pairs(batchBands, batchBands)).distinct()
    // sig_a lives in the state OR the batch (ids are disjoint); the
    // state lookup is the bucketed join, the batch lookup broadcasts
    val drop = cand
      .join(stateSigs.select(col("doc_id").as("id_a"),
        col("sig").as("sig_state")), Seq("id_a"), "left")
      .join(broadcast(batchSigs.select(col("doc_id").as("id_a"),
        col("sig").as("sig_batch"))), Seq("id_a"), "left")
      .select(col("id_b"),
        coalesce(col("sig_state"), col("sig_batch")).as("sig_a"))
      .join(broadcast(batchSigs.select(col("doc_id").as("id_b"),
        col("sig").as("sig_b"))), Seq("id_b"))
      .filter((sigAgreement(col("sig_a"), col("sig_b")).cast("double") / k)
        >= threshold)
      .select(col("id_b").as("__drop_id")).distinct()
    val survivors = batch
      .join(drop, col(idCol) === col("__drop_id"), "left_anti")
    (survivors, batchSigs)
  }

  /**
   * Corpus-global repeated token spans — the distributed shape of
   * ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
   * Makes Language Models Better", which removes any 50-token span that
   * appears verbatim elsewhere in the corpus; their suffix-array build
   * is single-machine, this is the shuffle formulation). Every
   * `window`-token sliding span of every document is hashed; spans
   * whose hash occurs in at least `minDocs` DISTINCT documents come
   * back with their positions: (doc_id, span_pos, span_hash, n_docs).
   *
   * Scale shape: the gram table is linear in corpus tokens and carries
   * only (id, pos, hash) — never the span text — through the one
   * hash-keyed shuffle; the hot-span table after the HAVING filter
   * scales with the DUPLICATED content, not the corpus, so AQE turns
   * the join back into a broadcast in the common case.
   *
   * `baseHash`: None = fused xxhash64 (production); [[md5Hash60]] for
   * the driver-oracle entries (DuckDB replays the exact hashes).
   */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, minDocs: Int = 2,
                    baseHash: Option[Column => Column] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // production path: the fused positional-window-hash kernel (one
    // long[] per document, no interpreted HOF chain) — bit-identical
    // to posexplode(ngrams)+xxhash64 (WindowHashesParity in DedupSpec);
    // a custom baseHash (the md5 oracle basis) keeps the declarative
    // form
    val grams = baseHash match {
      case None =>
        docs.select(col(idCol).as("doc_id"),
            posexplode(graft.plans.Kernels.windowHashes(
              TextAnalysis.tokens(col(textCol)), lit(window))))
          .select(col("doc_id"), col("pos").as("span_pos"),
            col("col").as("span_hash"))
      case Some(h) =>
        docs.select(col(idCol).as("doc_id"),
            posexplode(TextAnalysis.ngrams(
              TextAnalysis.tokens(col(textCol)), window)))
          .select(col("doc_id"), col("pos").as("span_pos"),
            h(col("col")).as("span_hash"))
    }
    // the tokenize+window-hash explode is the dominant cost and feeds
    // BOTH the countDistinct aggregate and the probe side of the
    // hot-span join — pin it so it runs once (r13 bench: the unpinned
    // shape re-ran the explode per consumer; q115/q116/q118 together
    // paid ~13% of the whole registry on the duplicate stage). The pin
    // carries (id, pos, hash) only — never span text — so it is
    // token-proportional and MEMORY_AND_DISK-spillable at scale.
    val pinned = graft.ops.materialize(grams)
    val hot = pinned.groupBy("span_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    // stamp the window on span_pos so the reuse path
    // ([[dupSpanCoverageFromSpans]]) can fail loudly on a geometry
    // mismatch instead of computing plausible-but-wrong coverage
    val posMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SpanWindowMetaKey, window.toLong).build()
    pinned.join(hot, Seq("span_hash"))
      .select(col("doc_id"), col("span_pos").as("span_pos", posMeta),
        col("span_hash"), col("n_docs"))
  }

  /** Metadata key stamped on [[repeatedSpans]]' `span_pos` column
    * recording the window the spans were built with. */
  private[graft] val SpanWindowMetaKey = "graft.span_window"

  /**
   * ExactSubstr's per-document deliverable: what fraction of each
   * document's tokens is covered by some corpus-duplicated
   * `window`-token span ([[repeatedSpans]]). A pipeline drops or trims
   * documents above a coverage threshold instead of substring-editing
   * them (the conservative variant of Lee et al.'s span removal).
   *
   * The position expansion (`sequence` + explode, a `window`× blowup)
   * runs AFTER the hot-span filter, so it scales with the duplicated
   * content only.
   */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
                      window: Int, minDocs: Int = 2,
                      baseHash: Option[Column => Column] = None): DataFrame =
    dupSpanCoverageFromSpans(docs, idCol, textCol, window,
      repeatedSpans(docs, idCol, textCol, window, minDocs, baseHash))

  /**
   * [[dupSpanCoverage]] over a PRECOMPUTED span table — the reuse path
   * for pipelines that already ran [[repeatedSpans]] (e.g. a curation
   * flow that reports the span list AND gates on coverage): the
   * expensive tokenize+window-hash stage is not re-derived. `spans`
   * must carry `doc_id` and `span_pos` for the same corpus and the
   * same `window` (the output of [[repeatedSpans]] qualifies as-is).
   */
  def dupSpanCoverageFromSpans(docs: DataFrame, idCol: String,
                               textCol: String, window: Int,
                               spans: DataFrame): DataFrame = {
    // loud contract check: the spans frame must carry doc_id/span_pos,
    // and when it is a [[repeatedSpans]] output (window stamped as
    // column metadata) the stamp must match `window` — a mismatch would
    // otherwise yield plausible-but-wrong coverage fractions
    Seq("doc_id", "span_pos").foreach { c =>
      require(spans.schema.exists(_.name.equalsIgnoreCase(c)),
        s"dupSpanCoverageFromSpans: spans frame lacks column $c " +
          s"(got [${spans.schema.fieldNames.mkString(", ")}]); pass a " +
          "repeatedSpans output for the same corpus and window")
    }
    spans.schema.find(_.name.equalsIgnoreCase("span_pos"))
      .filter(_.metadata.contains(SpanWindowMetaKey))
      .map(_.metadata.getLong(SpanWindowMetaKey)).foreach { w =>
        require(w == window.toLong,
          s"dupSpanCoverageFromSpans: spans were built with window=$w " +
            s"but coverage was requested with window=$window — the " +
            "interval sweep needs the span length the hashes were cut at")
      }
    // interval union as a per-doc sweep, NOT explode+distinct: each span
    // covers [pos, pos+window); sorted by pos, a span's new coverage is
    // its exclusive end minus the running max end so far (clamped at its
    // own start) — identical counts to exploding every covered token and
    // distinct-counting, without multiplying rows by `window` or paying
    // the (doc, token) distinct exchange. One doc-keyed exchange feeds
    // both the window and the final sum (r13: q116 was 3.5 s at sf0.1
    // once the bench stopped count()-eliminating its left join; this
    // shape re-measures at a fraction. Duplicate span positions — a
    // span hot under several hashes — contribute 0 on the second pass
    // of the sweep, exactly like the distinct they replace).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("span_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val covered = spans
      .select(col("doc_id"), col("span_pos").cast("long").as("span_pos"))
      .withColumn("__prev_end",
        max(col("span_pos") + window).over(w))
      .withColumn("__contrib", greatest(lit(0L),
        col("span_pos") + window -
          greatest(coalesce(col("__prev_end"), col("span_pos")),
            col("span_pos"))))
      .groupBy("doc_id").agg(sum(col("__contrib")).as("covered_tokens"))
    docs.select(col(idCol).as("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).as("total_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("total_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("total_tokens")).as("dup_coverage"))
  }
}
