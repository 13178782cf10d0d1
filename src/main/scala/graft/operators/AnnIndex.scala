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

  /** Run `body` with auto-bucketed-scan conversion OFF, restoring the
    * session's previous setting after — the compaction read-side pin
    * (see [[compactAnnIndex]]). Session-scoped like any conf toggle:
    * concurrent queries on the SAME session during the window read
    * bucketed plans too (correct, possibly slower); other sessions are
    * unaffected. */
  private[operators] def withBucketedScanPinned[T](spark: SparkSession)
                                                  (body: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Drop a managed table AND its warehouse location: a location left
    * by a previous session is invisible to a fresh in-memory catalog,
    * so Overwrite alone would refuse the "orphaned directory" case. */
  private[graft] def dropStale(spark: SparkSession, table: String): Unit = {
    // the warehouse/<name> orphan-path derivation below only holds for
    // unqualified names in the default database; a qualified base would
    // compute the wrong path (deleting a sibling, missing the orphan)
    require(!table.contains("."),
      s"index base must be an unqualified default-database table name, " +
        s"got '$table'")
    // if the table IS registered, trust the catalog for its location
    // (one metadata call — getTableMetadata throws for absent tables
    // and the Try converts that to None; this runs 4× per build)
    val catalogLoc =
      scala.util.Try(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location))
        .toOption
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    val p = catalogLoc.getOrElse(
      new org.apache.hadoop.fs.Path(wh, table.toLowerCase))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

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
    for (t <- Seq("centroids", "codebooks", "codes", "stats", "tombstones"))
      dropStale(spark, s"${base}_$t")
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
    // build-time model-fit baseline: appends encode with THIS frozen
    // model, so recall decay under drift shows up as appended batches
    // whose vectors the model reconstructs worse than the corpus it was
    // fitted on. The rows are in hand during the build — no re-read.
    writeFitStats(spark, corpus, vecCol, model, base,
      generation = 0, overwrite = true)
  }

  /** Append (or seed) one `<base>_stats` generation row: mean/p90 of
    * the relative squared PQ reconstruction error
    * `|v − decode(encode(v))|² / |v|²` over `rows`, computed while they
    * are in hand — THE model-quality measure for a product quantizer
    * (assignment-gap metrics are blind to drift on near-isotropic
    * corpora, where any rotation leaves the cell-gap distribution
    * unchanged; reconstruction error is not). Zero vectors yield null
    * and are excluded.
    *
    * Staged projections, deliberately: a single nested
    * `decode(encode(v))` expression inlines one copy of the whole
    * encode argmax per decode part (m copies), blows past the codegen
    * method limit, and falls back to interpreted eval — measured 15× on
    * the build pass. Each stage's alias is referenced by non-cheap
    * expressions, so CollapseProject keeps them apart and every
    * sub-expression evaluates once per row. */
  private def writeFitStats(spark: SparkSession, rows: DataFrame,
                            vecCol: String, model: PqModel, base: String,
                            generation: Int, overwrite: Boolean): Unit = {
    import spark.implicits._
    val r = rows
      .select(col(vecCol).cast("array<double>").as("__v"))
      .select(col("__v"), ProductQuant.encode(col("__v"), model).as("__codes"))
      .select(col("__v"), ProductQuant.decode(col("__codes"), model).as("__dec"))
      .select(col("__v"),
        zip_with(col("__v"), col("__dec"), (a, b) => a - b).as("__diff"))
      .select(Similarity.dot(col("__diff"), col("__diff")).as("__num"),
        Similarity.dot(col("__v"), col("__v")).as("__den"))
      .select(when(col("__den") > 0.0, col("__num") / col("__den")).as("__e"))
      .agg(avg(col("__e")), percentile_approx(col("__e"), lit(0.9),
        lit(10000)), count(col("__e")))
      .head()
    val row = (generation,
      if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0.0 else r.getDouble(1),
      r.getLong(2))
    Seq(row).toDF("generation", "mean_err", "p90_err", "n").coalesce(1)
      .write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .saveAsTable(s"${base}_stats")
  }

  /** Staleness of the persisted index: reconstruction error of the
    * appended generations vs the build-time baseline. ~1.0 = appends
    * still look like the corpus the model was fitted on. */
  final case class Staleness(baselineMean: Double, baselineP90: Double,
                             appendedMean: Double, appendedP90: Double,
                             builtRows: Long, appendedRows: Long) {
    /** Worse of the mean- and p90-error ratios; 1.0 with no appends;
      * +∞ when the index has NO build-time baseline (NaN sentinel). */
    def ratio: Double = {
      if (baselineMean.isNaN) Double.PositiveInfinity
      else if (appendedRows == 0L) 1.0
      else {
        def r(c: Double, b: Double) =
          if (b > 0.0) c / b
          else if (c > 0.0) Double.PositiveInfinity else 1.0
        math.max(r(appendedMean, baselineMean), r(appendedP90, baselineP90))
      }
    }
  }

  def staleness(spark: SparkSession, base: String): Staleness = {
    // an index persisted before fit-stats existed — no stats table, or
    // stats holding only appended generations — has no baseline to
    // compare against: report it infinitely stale (NaN baseline), so
    // the caller rebuilds (which seeds gen-0) instead of crashing on
    // the missing row
    val rows: Array[(Int, Double, Double, Long)] =
      if (!spark.catalog.tableExists(s"${base}_stats")) Array.empty
      else spark.table(s"${base}_stats").collect() // one row per batch
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val app = rows.filter(t => t._1 > 0 && t._4 > 0)
    val an = app.map(_._4).sum
    val aMean = if (an == 0) 0.0
      else app.map(t => t._2 * t._4).sum / an
    // p90s of disjoint batches don't combine exactly; take the worst
    // batch (conservative — a single drifted batch should raise alarms)
    val aP90 = if (app.isEmpty) 0.0 else app.map(_._3).max
    rows.find(_._1 == 0) match {
      case Some((_, bMean, bP90, bN)) =>
        Staleness(bMean, bP90, aMean, aP90, bN, an)
      case None =>
        Staleness(Double.NaN, Double.NaN, aMean, aP90, 0L, an)
    }
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
   * Build-if-needed (r17): rebuild the persisted index ONLY when it is
   * absent or was built over a DIFFERENT corpus — the corpus identity
   * rides a one-row `<base>_corpuskey` table (n, fp) written after a
   * successful build, so a standing retrieval service pays the build
   * once and every later query goes straight to the bucketed search.
   * The caller supplies the key (row count + a cheap content
   * fingerprint — the [[graft.queries]] dump-key discipline); two
   * corpora with the same key are treated as identical, so the
   * fingerprint must fold in a value term, not just ids. Returns true
   * when a build ran. Staleness from APPENDS is a different question —
   * that remains the [[staleness]] reconstruction-error signal;
   * this is the corpus-swap guard appends never see.
   *
   * The persisted key also carries the BUILD PARAMETERS
   * (nCentroids, m, pqK, buckets): an index built with different
   * geometry over the same corpus is a different index, and the
   * freshness check must say so — otherwise a caller changing
   * `nProbe`-relevant geometry would silently search stale state.
   *
   * Crash-safety: the key table is dropped BEFORE the rebuild and
   * written only AFTER every index table committed. `writeAnnIndex`
   * overwrites centroids/codebooks/codes as separate table commits,
   * so a crash mid-build leaves a mixed index — but never a key:
   * the next `ensureAnnIndex` call finds no key and rebuilds. A
   * stale key surviving over a half-written index was the one
   * ordering that could serve wrong results as "fresh".
   *
   * Concurrency: last-writer-wins like [[writeAnnIndex]] itself —
   * deterministic fits make concurrent same-corpus builders converge
   * on identical tables; serialize externally for mixed-corpus racers.
   */
  def ensureAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     base: String, dim: Int, key: (Long, Long),
                     nCentroids: Int = 16, m: Int = 16, pqK: Int = 16,
                     buckets: Int = 16): Boolean = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val params = (nCentroids.toLong, m.toLong, pqK.toLong, buckets.toLong)
    val fresh = scala.util.Try {
      val r = spark.table(s"${base}_corpuskey").head()
      (r.getLong(0), r.getLong(1)) == key &&
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == params
    }.getOrElse(false)
    if (fresh) false
    else {
      // invalidate FIRST: no key may exist while the index tables are
      // in a partially-overwritten state (see Scaladoc)
      dropStale(spark, s"${base}_corpuskey")
      writeAnnIndex(corpus, idCol, vecCol, base, dim, nCentroids, m,
        pqK, buckets)
      Seq((key._1, key._2, params._1, params._2, params._3, params._4))
        .toDF("n", "fp", "ncentroids", "m", "pqk", "buckets").coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .saveAsTable(s"${base}_corpuskey")
      true
    }
  }

  /**
   * [[ensureAnnIndex]] with the caller's corpus-key aggregation gated
   * behind [[StandingState.ensureWithSnapshot]] (r20): `key` — the
   * corpus-sized (count, fingerprint) scan — evaluates only when the
   * corpus's physical snapshot is not already verified against the
   * persisted `<base>_corpuskey` row, so a steady-state probe call
   * plans NO corpus-sized scan at all. Returns the corpus key in
   * force (for oracle-dump partitioning); correctness contract and
   * crash-safety are [[ensureAnnIndex]]'s, freshness semantics are
   * [[StandingState.ensureWithSnapshot]]'s.
   */
  def ensureAnnIndexSnap(corpus: DataFrame, idCol: String, vecCol: String,
                         base: String, dim: Int, key: => (Long, Long),
                         nCentroids: Int = 16, m: Int = 16, pqK: Int = 16,
                         buckets: Int = 16): (Long, Long) =
    StandingState.ensureWithSnapshot(corpus, s"${base}_corpuskey", key) {
      k =>
        ensureAnnIndex(corpus, idCol, vecCol, base, dim, k, nCentroids,
          m, pqK, buckets)
        ()
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
    // Pin the batch before ANY consumer runs, and record the fit stats
    // BEFORE the codes append. Both orderings matter: a lazy batch plan
    // that itself references `<base>_codes` (say, an anti-join against
    // it for idempotency) would — evaluated after
    // the append — describe a different, empty row set, recording n=0
    // stats and silently blinding the drift signal. The pin is not
    // enough on its own: the post-append refreshTable invalidates every
    // cached plan that references the codes table, INCLUDING the pinned
    // batch, so any read after the refresh re-evaluates. Stats-first
    // sidesteps that entirely, and the pin still guarantees the stats
    // and the appended codes describe the same rows even when the batch
    // plan is non-deterministic.
    val batch = graft.ops.materialize(rows)
    try {
      // drift signal for [[staleness]], from the
      // pinned rows (the stats table is not referenced by the batch
      // plan, so this write invalidates nothing the append needs)
      writeFitStats(spark, batch, vecCol, model, base, generation = 1,
        overwrite = false)
      spark.catalog.refreshTable(s"${base}_stats")
      rows.sparkSession.catalog.refreshTable(s"${base}_stats")
      encodeCorpus(batch, idCol, vecCol, cents, model)
        .write.bucketBy(buckets, "centroid_id").sortBy("centroid_id")
        .format("parquet").mode(SaveMode.Append)
        .saveAsTable(s"${base}_codes")
      // the write invalidates only the WRITING session's relation cache
      // (rows may live in another session); refresh the
      // caller's session too, or its cached file-list snapshot keeps
      // serving the pre-append table
      spark.catalog.refreshTable(s"${base}_codes")
      rows.sparkSession.catalog.refreshTable(s"${base}_codes")
    } finally graft.ops.materialize.release(batch)
  }

  /**
   * DELETE from the standing index without touching the corpus-sized
   * codes table (r18): curation removes documents from a standing
   * retrieval corpus all the time (decontamination hits, dedup
   * losers, takedowns), and rewriting terabytes of codes per delete
   * batch is not a plan. Tombstoned ids are excluded from every
   * search by a broadcast anti-join against the tiny
   * `<base>_tombstones` table — semantically the row was never
   * appended (the frozen model and `_stats` are untouched, exactly
   * the append discipline) — and [[compactAnnIndex]] applies them
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
   * tables, `_stats` generations, and `_corpuskey` are untouched:
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
   * When to run: on a file-count signal (this is the small-FILE fix;
   * model-vs-corpus DRIFT remains [[staleness]]'s signal, and
   * tombstone MASS [[compactIfDead]]'s).
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
    dropStale(spark, s"${base}_tombstones")
  }

  /** Dead-mass fraction of the standing index: tombstoned ids / live
    * ids. The drift signal [[staleness]] cannot see — heavy deletes
    * skew cell populations and grow every search's anti-join without
    * moving reconstruction error. 0 with no tombstones. */
  def tombstoneFraction(spark: SparkSession, base: String): Double =
    StandingState.deadFraction(spark, s"${base}_tombstones",
      spark.table(s"${base}_codes").count())

  /**
   * Compact iff the tombstone mass crossed `maxDeadFraction` — the
   * automatic trigger closing the delete loop: deletes accumulate
   * through [[tombstoneAnnIds]], this notices when the dead set has
   * grown past the policy bound (both counts are cheap scalars), and
   * [[compactAnnIndex]] applies them physically (search results are
   * bit-identical before/after — the rows were already excluded
   * logically). Returns true when a compaction ran.
   */
  def compactIfDead(spark: SparkSession, base: String,
                    maxDeadFraction: Double = 0.3,
                    buckets: Int = 16): Boolean = {
    val dead = tombstoneFraction(spark, base) > maxDeadFraction
    if (dead) compactAnnIndex(spark, base, buckets)
    dead
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
   */
  def ivfPqTopKBucketed(spark: SparkSession, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, base: String,
                        nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val (cents, model) = readModel(spark, base)
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeRows: Seq[(Long, Long, Seq[Seq[Double]])] = qRows.toSeq.flatMap {
      case (qid, qv) =>
        val tables = ProductQuant.distTables(qv, model)
        cents.sortBy { case (cid, v) => (-ProductQuant.cosArr(qv, v), cid) }
          .take(nProbe).map { case (cid, _) => (qid, cid, tables) }
    }
    val probes = probeRows.toDF("query_id", "centroid_id", "tables")
    val probedCells = probeRows.map(_._2).distinct
    // the isin predicate is driver-known, so the bucketed scan prunes
    // to the probed cells' buckets — the disk-level IVF win
    val state = liveCodes(spark, base)
      .filter(col("centroid_id").isin(probedCells: _*))
    val scored = state.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-ProductQuant.adcDist(model)).as("neg_dist"))
    ProductQuant.pqTopK(scored, k)
  }

  /**
   * [[ivfPqTopKBucketed]] without the query-batch collect: probe cells
   * and ADC tables are computed as per-row COLUMN expressions on the
   * query DataFrame, so a million-query nightly batch never funnels
   * through the driver. Only the MODEL is still read driver-side — a
   * bounded artifact (nCentroids + m·k rows, a few KB) of the same
   * standing as a control-table read.
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
   * Tradeoffs vs the driver path, which remains the default for small
   * |Q|: the probed-cell set is not driver-known, so the codes scan
   * cannot isin-prune to the probed buckets (at large |Q| most cells
   * are probed anyway); and the broadcast carries |Q|·nProbe probe rows
   * — chunk batches beyond the broadcast budget.
   */
  def ivfPqTopKBucketedDF(spark: SparkSession, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          base: String, nProbe: Int = 4): DataFrame = {
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
