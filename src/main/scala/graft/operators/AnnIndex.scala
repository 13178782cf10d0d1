package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ProductQuant.PqModel

/**
 * Persisted IVF+PQ index state — the `writeDedupState` pattern
 * ([[Dedup.writeDedupState]]) applied to similarity search. The
 * per-call [[Similarity.ivfTopK]]/[[ProductQuant.ivfPqTopK]] re-fit
 * the model and re-assign the whole corpus on every query run, which
 * is the right plan per call but dies at warehouse scale under a
 * nightly query load. Here the fit is a one-time (or periodic) BUILD,
 * and searches move only the queries:
 *
 *   `<base>_centroids` (centroid_id, v)       — IVF coarse quantizer
 *   `<base>_codebooks` (subspace, code, v)    — PQ codebooks (m × k)
 *   `<base>_codes`     (neighbor_id, centroid_id, codes)
 *                       bucketed+sorted by centroid_id
 *
 * The model tables are a few KB (model artifacts, same class as a
 * control-table read); the codes table carries `m` ints per corpus row
 * — the 32× PQ memory cut — pre-partitioned on exactly the key every
 * search joins on. [[ivfPqTopKBucketed]] plans NO Exchange and NO
 * re-fit on the state side: probed cells prune the bucketed scan, the
 * probe set broadcasts, and only k·|Q| aggregate rows ever shuffle.
 * New corpus rows append through [[appendToAnnIndex]] using the
 * persisted model — encode-and-append, never re-fit, mirroring the
 * incremental near-dedup ingest.
 *
 * Build determinism: both fits are hash-ordered-sample + fixed-
 * iteration Lloyd, so a rebuild over the same corpus is bit-identical
 * — and the ADC search over the persisted state is replayable by an
 * external SQL engine reading the model tables back as data (the
 * driver oracle does exactly that).
 */
object AnnIndex {

  /** One corpus pass: cell assignment ([[Similarity.cellArgmax]], the
    * one shared argmax) + PQ encoding side by side, both pure
    * codegen'd per-row expressions — the exact rows the codes table
    * stores, and the pass `ProductQuant.ivfPqTopK` runs per call. */
  def encodeCorpus(rows: DataFrame, idCol: String, vecCol: String,
                   cents: Seq[(Long, Seq[Double])],
                   model: PqModel): DataFrame =
    rows.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("neighbor_id"),
        Similarity.cellArgmax(cents, col("__v")).as("centroid_id"),
        ProductQuant.encode(col("__v"), model).as("codes"))

  /**
   * Fit and persist the index over `corpus`. A build is a full refresh
   * (drop + rewrite) — the fits are deterministic, so rebuilding over
   * an unchanged corpus is idempotent; rows that arrive AFTER a build
   * go through [[appendToAnnIndex]].
   */
  def writeAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    base: String, dim: Int, nCentroids: Int = 16,
                    m: Int = 16, pqK: Int = 16, buckets: Int = 16,
                    centroidIters: Int = 8, sampleSize: Int = 2048): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(nCentroids >= 2, s"need >= 2 centroids, got $nCentroids")
    // tombstones describe rows of the PREVIOUS index generation; a
    // rebuild starts from the corpus as given, so they are cleared too
    for (t <- Seq("centroids", "codebooks", "codes", "tombstones"))
      StandingState.dropStale(spark, s"${base}_$t")
    val cents = Similarity.fitCentroids(corpus, idCol, vecCol, nCentroids,
        centroidIters, sampleSize)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
    val model = ProductQuant.fit(corpus, vecCol, dim, m, pqK, sampleSize,
      idCol = Some(idCol))
    // model tables: single-file artifacts, coalesce(1) by design
    cents.toDF("centroid_id", "v").coalesce(1)
      .write.mode(SaveMode.Overwrite).saveAsTable(s"${base}_centroids")
    ProductQuant.codebookRows(model).toDF("subspace", "code", "v")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).saveAsTable(s"${base}_codebooks")
    encodeCorpus(corpus, idCol, vecCol, cents, model)
      .write.bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").mode(SaveMode.Overwrite)
      .saveAsTable(s"${base}_codes")
  }

  /** Read the persisted model back (centroids ordered by id; PqModel
    * dimensions derived from the codebook table itself). */
  def readModel(spark: SparkSession,
                base: String): (Seq[(Long, Seq[Double])], PqModel) = {
    val cents = spark.table(s"${base}_centroids")
      .orderBy(col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    require(cents.length >= 2, // a corrupt/truncated model table must
      s"centroid table ${base}_centroids holds ${cents.length} rows; " +
        "need >= 2") // fail here, not inside greatest()
    val cb = spark.table(s"${base}_codebooks")
      .orderBy(col("subspace"), col("code")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(cb.nonEmpty, s"empty codebook table ${base}_codebooks")
    val m = cb.map(_._1).max + 1
    val subDim = cb.head._3.length
    val codebooks = Array.tabulate(m) { j =>
      cb.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    (cents, PqModel(m * subDim, m, codebooks.map(_.length).max, codebooks))
  }

  /**
   * Build-if-needed: rebuild the persisted index ONLY when it is absent
   * or was built over a DIFFERENT corpus or with different build
   * parameters, so a standing retrieval service pays the build once and
   * every later query goes straight to the bucketed search. The key
   * rides a one-row `<base>_corpuskey` table (n, fp, ncentroids, m,
   * pqk, buckets): the caller's corpus key (row count + a cheap content
   * fingerprint — the [[graft.queries]] dump-key discipline; it must
   * fold in a value term, not just ids) plus the geometry, because an
   * index built with other `nProbe`-relevant geometry over the same
   * corpus is a different index. `key` is by-name: steady state skips
   * the corpus-sized aggregation. Freshness, crash-safety and
   * concurrency are [[StandingState.ensure]]'s. Returns the corpus key
   * in force (for oracle-dump partitioning).
   */
  def ensureAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     base: String, dim: Int, key: => (Long, Long),
                     nCentroids: Int = 16, m: Int = 16, pqK: Int = 16,
                     buckets: Int = 16): (Long, Long) =
    StandingState.ensure(corpus, s"${base}_corpuskey", key,
      Seq("ncentroids" -> nCentroids.toLong, "m" -> m.toLong,
        "pqk" -> pqK.toLong, "buckets" -> buckets.toLong)) {
      writeAnnIndex(corpus, idCol, vecCol, base, dim, nCentroids, m, pqK,
        buckets)
    }

  /**
   * Encode new corpus rows with the PERSISTED model — no re-fit, no
   * touch of existing state — and append them to the bucketed codes
   * table (Spark appends per-bucket files; `buckets` must match the
   * build). The nightly ingest shape: only the batch is scanned,
   * assigned, and written.
   */
  def appendToAnnIndex(spark: SparkSession, rows: DataFrame, idCol: String,
                       vecCol: String, base: String,
                       buckets: Int = 16): Unit = {
    // re-append guard (r19): a tombstoned id's new codes row would be
    // hidden forever by the live-read anti-join — refuse loudly
    StandingState.requireNotTombstoned(spark, s"${base}_tombstones",
      rows, idCol,
      "compactAnnIndex (applies the delete physically and clears the " +
        "tombstones), then append")
    val (cents, model) = readModel(spark, base)
    encodeCorpus(rows, idCol, vecCol, cents, model)
      .write.bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").mode(SaveMode.Append)
      .saveAsTable(s"${base}_codes")
    // the write invalidates only the WRITING session's relation cache
    // (rows may live in another session); refresh the caller's session
    // too, or its cached file-list snapshot keeps serving the
    // pre-append table
    spark.catalog.refreshTable(s"${base}_codes")
    rows.sparkSession.catalog.refreshTable(s"${base}_codes")
  }

  /**
   * DELETE from the standing index without touching the corpus-sized
   * codes table (r18): curation removes documents from a standing
   * retrieval corpus all the time (decontamination hits, dedup
   * losers, takedowns), and rewriting terabytes of codes per delete
   * batch is not a plan. Tombstoned ids are excluded from every
   * search by a broadcast anti-join against the tiny
   * `<base>_tombstones` table — semantically the row was never
   * appended (the frozen model is untouched, exactly the append
   * discipline) — and [[compactAnnIndex]] applies them
   * PHYSICALLY (drops the rows, clears the table) on its normal
   * schedule. One table append per call = atomic; re-tombstoning an
   * id is a no-op (anti-join against the existing tombstones), so
   * redelivery is safe. A rebuild ([[writeAnnIndex]] /
   * [[ensureAnnIndex]]) clears tombstones — they described the
   * previous index generation.
   */
  def tombstoneAnnIds(spark: SparkSession, base: String,
                      ids: DataFrame): Unit = {
    val t = s"${base}_tombstones"
    val keyed = StandingState.keyedIds(ids, "neighbor_id")
    StandingState.appendTombstones(spark, t,
      StandingState.freshTombstones(spark, t, keyed, "neighbor_id"))
  }

  /** The codes table minus tombstoned rows — every search's state
    * side. The anti-join broadcasts the tombstones (a delete set is
    * tiny next to the corpus) and costs nothing when none exist. */
  private def liveCodes(spark: SparkSession, base: String): DataFrame =
    StandingState.minusTombstones(spark, spark.table(s"${base}_codes"),
      s"${base}_tombstones", "neighbor_id")

  /**
   * Compact the bucketed codes table (r18, VERDICT task 3). Nightly
   * [[appendToAnnIndex]] batches each add per-bucket files; after
   * months of ingest a bucket is thousands of small files and the
   * bucket-pruned search scan pays file-open cost, not byte cost.
   * This rewrites `<base>_codes` into one file per bucket with NO
   * shuffle at all: the staging read pins
   * `spark.sql.sources.bucketing.autoBucketedScan.enabled = false`,
   * so the scan keeps the table's bucketing (one read partition per
   * bucket, every file of that bucket in it) and the bucketed write
   * emits exactly one file per task = per bucket. The earlier
   * `repartition(buckets, centroid_id)` formulation was UNRELIABLE:
   * Catalyst elides the repartition against the bucketed scan's
   * matching partitioning, and `DisableUnnecessaryBucketedScan` then
   * un-buckets the scan (nothing left in the plan demands the
   * distribution), leaving arbitrary file-packed read partitions whose
   * tasks each hold several buckets — the write stays CORRECT (the
   * writer splits by bucket id), but the file count lands at
   * tasks×buckets instead of buckets (caught in LexIndexSpec; the
   * r18 fix applies to both twins). The bucket spec, the model
   * tables and `_corpuskey` are untouched:
   * compaction is a LAYOUT operation, not a state change, so search
   * results are bit-identical before/after (asserted in AnnIndexSpec).
   *
   * Crash-safety is [[StandingState.stagedSwap]] (r19 — previously
   * inlined here, with a destructive-retry window the shared helper
   * closes): ALL compute lands in a staging table first; the live
   * swap is two catalog operations (drop + rename, which moves the
   * managed directory and keeps the bucket spec); a crash between
   * them is detected on the next run and the staging table — then
   * the only copy — is PROMOTED, never dropped.
   *
   * When to run: on a file-count signal (this is the small-FILE fix),
   * or on tombstone MASS through [[StandingState.compactIfDead]].
   */
  def compactAnnIndex(spark: SparkSession, base: String,
                      buckets: Int = 16): Unit = {
    // tombstoned rows are dropped here — the physical application of
    // [[tombstoneAnnIds]]; searches are bit-identical before/after
    // because they already excluded these rows logically. The
    // tombstone table is cleared only AFTER the swap commits: a crash
    // in between re-applies an (empty) filter, never resurrects rows.
    StandingState.compactBucketed(spark, s"${base}_codes",
      Seq("centroid_id"), buckets, liveCodes(spark, base))
    StandingState.dropStale(spark, s"${base}_tombstones")
  }

  /**
   * IVF+PQ search against the persisted index. The state side is
   * exactly one bucketed scan of `<base>_codes`: the probed-cell
   * `isin` predicate prunes buckets/row-groups at the scan, the probe
   * set (query_id, centroid_id, ADC tables) broadcasts, and the
   * mergeable `graft_topk` aggregate bounds the one exchange at
   * k·|Q| rows per map task. Nothing corpus-sized moves, and nothing
   * is fitted — with the same build parameters the result is
   * bit-identical to the per-call [[ProductQuant.ivfPqTopK]]
   * (asserted in AnnIndexSpec).
   *
   * The query batch is collected driver-side only while it holds at
   * most [[Retrieval.ProbeBound]] rows (one bounded job,
   * [[Retrieval.collectWithin]]). A bigger batch plans its probes as
   * per-row columns instead ([[ivfPqTopKBucketedDF]], bit-identical),
   * so it never funnels through the driver.
   */
  def ivfPqTopKBucketed(spark: SparkSession, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, base: String,
                        nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val (cents, model) = readModel(spark, base)
    Retrieval.collectWithin(queries.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>")), Retrieval.ProbeBound) match {
      case None =>
        ivfPqTopKBucketedDF(spark, queries, idCol, vecCol, k, base, nProbe)
      case Some(batch) =>
        val probeRows: Seq[(Long, Long, Seq[Seq[Double]])] =
          batch.toSeq.flatMap { r =>
            val (qid, qv) = (r.getLong(0), r.getSeq[Double](1).toArray)
            val tables = ProductQuant.distTables(qv, model)
            cents.sortBy { case (cid, v) => (-ProductQuant.cosArr(qv, v), cid) }
              .take(nProbe).map { case (cid, _) => (qid, cid, tables) }
          }
        val probes = probeRows.toDF("query_id", "centroid_id", "tables")
        val probedCells = probeRows.map(_._2).distinct
        // the isin predicate is driver-known, so the bucketed scan
        // prunes to the probed cells' buckets — the disk-level IVF win
        val state = liveCodes(spark, base)
          .filter(col("centroid_id").isin(probedCells: _*))
        val scored = state.join(broadcast(probes), "centroid_id")
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            (-ProductQuant.adcDist(model)).as("neg_dist"))
        ProductQuant.pqTopK(scored, k)
    }
  }

  /**
   * [[ivfPqTopKBucketed]]'s plan above the probe bound — no query-batch
   * collect: probe cells and ADC tables are computed as per-row COLUMN
   * expressions on the query DataFrame, so a million-query nightly
   * batch never funnels through the driver. Only the MODEL is still
   * read driver-side — a bounded artifact (nCentroids + m·k rows, a few
   * KB) of the same standing as a control-table read.
   *
   * Bit-parity with the driver path (asserted in AnnIndexSpec): the
   * probe cosine decomposes into three `graft_dot` sequential folds —
   * `dot(q,c)/sqrt(dot(q,q)·dot(c,c))`, the exact accumulation order of
   * the driver's `cosArr` — and probe ranking sorts (−cos, cid) structs,
   * the driver's exact tiebreak; tables come from
   * [[ProductQuant.distTablesCol]]. Probe selection is pure per-row
   * expression work: NO shuffle anywhere before the final k·|Q| top-k
   * exchange, and the state side is still one bucketed scan.
   *
   * Tradeoffs vs the driver path, which serves every batch within the
   * bound: the probed-cell set is not driver-known, so the codes scan
   * cannot isin-prune to the probed buckets (at large |Q| most cells
   * are probed anyway); and the broadcast carries |Q|·nProbe probe rows
   * — chunk batches beyond the broadcast budget.
   */
  private[graft] def ivfPqTopKBucketedDF(spark: SparkSession,
                                         queries: DataFrame, idCol: String,
                                         vecCol: String, k: Int, base: String,
                                         nProbe: Int = 4): DataFrame = {
    val (cents, model) = readModel(spark, base)
    def cos(v: Column, cv: Seq[Double]): Column = {
      val c = typedLit(cv)
      Similarity.dot(v, c) /
        sqrt(Similarity.dot(v, v) * Similarity.dot(c, c))
    }
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("tables", ProductQuant.distTablesCol(col("__qv"), model))
      // rank centroids per row: ascending struct sort on (−cos, cid)
      // ≡ the driver's sortBy(−cosArr, cid)
      .withColumn("__probe", slice(array_sort(array(cents.map {
        case (cid, cv) =>
          struct((-cos(col("__qv"), cv)).as("negc"), lit(cid).as("cid"))
      }: _*)), 1, nProbe))
      .select(col("query_id"), col("tables"),
        explode(col("__probe.cid")).as("centroid_id"))
    val state = liveCodes(spark, base)
    val scored = state.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-ProductQuant.adcDist(model)).as("neg_dist"))
    ProductQuant.pqTopK(scored, k)
  }
}
