package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Shared lifecycle for the three persisted standing states — the
 * IVF+PQ codes ([[AnnIndex]]), the BM25 postings ([[LexIndex]]) and
 * the near-dedup signature/band tables ([[Dedup]]). Each of them
 * re-implemented the same four invariants before r19; this module is
 * the single home so a fix lands once:
 *
 *  1. **Staged-swap compaction** ([[stagedSwap]]): all compute lands
 *     in a `<table>_compacting` staging table first; the live swap is
 *     two catalog operations (DROP + RENAME, which moves the managed
 *     directory and keeps the bucket spec). r19 closes the
 *     destructive-retry window the r18 compactors had: a crash
 *     BETWEEN the DROP and the RENAME leaves the staging table as the
 *     only copy of the state, and the old re-run began with
 *     [[dropStale]](staging) — permanently deleting that sole copy before
 *     failing on the missing live table. On entry this helper detects
 *     the crashed-swap fingerprint (live absent, staging present) and
 *     PROMOTES the staging table via RENAME before anything is
 *     dropped; only then is a leftover staging table (live still
 *     present — a crash during the staging WRITE, where live is
 *     intact and staging is garbage) cleared.
 *  2. **One-file-per-bucket compaction** ([[compactBucketed]]): the
 *     staging read pins `autoBucketedScan.enabled = false` so each
 *     task reads ALL of one bucket's files and the bucketed write
 *     emits exactly one file per non-empty bucket, with no shuffle
 *     (the `repartition` formulation silently fails to collapse —
 *     see [[AnnIndex.compactAnnIndex]]'s Scaladoc for the trap).
 *     [[compactIfDead]] runs a compactor once the tombstones' dead
 *     mass crosses a bound.
 *  3. **Tombstone-table management** ([[appendTombstones]],
 *     [[minusTombstones]]): deletes ride a tiny side table that
 *     searches anti-join (broadcast — a delete set is small next to
 *     the corpus); re-tombstoning is a no-op (anti-join against the
 *     existing rows), so redelivery is safe; compaction applies them
 *     physically.
 *  4. **Re-append guard** ([[requireNotTombstoned]]): appending a
 *     tombstoned key would be silently invisible — the live-read
 *     anti-join hides the new rows while per-index bookkeeping (the
 *     lexical N/T generations) drifts — so every append path asserts
 *     the batch is disjoint from the standing tombstones and fails
 *     LOUDLY with the recovery action instead of corrupting.
 *
 * Reference anchor: the reference warehouse loads stage into `*_Temp`
 * tables and promote via a stored-proc MERGE inside one transaction
 * (`/root/reference/Pembelian/run.js:299-379`) — the same
 * window-shrink discipline, re-expressed as catalog operations over
 * bucketed parquet tables.
 */
object StandingState {

  /** Process-local snapshot memo for [[ensure]]: key table name →
    * (corpus snapshot fingerprint, the corpus key verified with it). */
  private val snapshotMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, (Long, Long))]()

  /** Test hook: forget every snapshot (forces the next ensure call to
    * re-derive its corpus key from data). */
  private[graft] def clearSnapshotMemo(): Unit = snapshotMemo.clear()

  /**
   * Metadata-only fingerprint of a corpus DataFrame's PHYSICAL
   * snapshot: the sorted list of backing files with their lengths and
   * modification times, plus the canonicalized logical plan's semantic
   * hash (two corpora reading the same files through different
   * filters/projections must not collide). None when the plan exposes
   * no input files (non-file sources, empty relations) — callers then
   * fall back to the data-derived key.
   *
   * No executor work and no data bytes are read: the file listing is
   * the same driver-side metadata every scan of the frame plans with
   * anyway. The identity assumption is the standard incremental-build
   * one — same path + length + mtime ⇒ same bytes (Spark's own
   * FileStreamSource discipline); any out-of-band change that touches
   * a file's content changes its length or mtime and invalidates the
   * snapshot.
   */
  def corpusSnapshot(df: DataFrame): Option[String] = scala.util.Try {
    val files = df.inputFiles
    if (files.isEmpty) None
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val md = java.security.MessageDigest.getInstance("MD5")
      files.sorted.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        md.update(s"$f:${st.getLen}:${st.getModificationTime}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      Some(df.queryExecution.analyzed.semanticHash().toString + "/" +
        md.digest().map("%02x".format(_)).mkString)
    }
  }.toOption.flatten

  /**
   * Build-if-needed (r17, snapshot gate r20) — the one freshness rule
   * of every standing state. The state is current iff the one-row
   * `keyTable` holds exactly (n, fp, params…): the caller's corpus key
   * (row count plus a cheap content fingerprint that folds in a value
   * term — two corpora with equal keys are treated as identical) and
   * the build parameters (`params`, column name → value: the same
   * corpus built with other geometry is another index). Otherwise:
   *
   *  - the key table is dropped FIRST, `build` runs, and the key is
   *    written only AFTER every table `build` writes has committed. A
   *    crash mid-build leaves a mixed state but never a key, so the
   *    next call rebuilds; a stale key surviving over a half-written
   *    state is the one ordering that could serve wrong results as
   *    fresh.
   *  - `key` (the corpus-sized aggregation) is BY-NAME and evaluated
   *    only when the corpus's physical snapshot ([[corpusSnapshot]])
   *    is not the one this process last verified against the same key
   *    row: first call per process, any file-level change (path set,
   *    length, mtime), any plan change, or a non-file source. Steady
   *    state re-checks only the persisted one-row key table — a scalar
   *    compare that still detects out-of-band warehouse mutation
   *    (table dropped, rebuilt by another session over a different
   *    corpus, other parameters) — so a probe call plans NO
   *    corpus-sized scan.
   *
   * Returns the corpus key in force — equal by construction to what
   * `key` would compute (snapshot equality ⇒ identical corpus bytes
   * and plan ⇒ identical aggregate), so callers that partition oracle
   * dumps by it read it here instead of re-aggregating. The memo is
   * process-local and never persisted. Concurrency is last-writer-wins:
   * deterministic builds make concurrent same-corpus builders converge
   * on identical tables; serialize externally for mixed-corpus racers.
   */
  def ensure(corpus: DataFrame, keyTable: String, key: => (Long, Long),
             params: Seq[(String, Long)] = Nil)
            (build: => Unit): (Long, Long) = {
    val spark = corpus.sparkSession
    def row(k: (Long, Long)): Seq[Any] = Seq(k._1, k._2) ++ params.map(_._2)
    def stored: Option[Seq[Any]] =
      if (!spark.catalog.tableExists(keyTable)) None
      else scala.util.Try(spark.table(keyTable).head().toSeq).toOption
    val snap = corpusSnapshot(corpus)
    val hit = snap.flatMap { sn =>
      Option(snapshotMemo.get(keyTable)).collect {
        case (s, k) if s == sn && stored.contains(row(k)) => k
      }
    }
    hit.getOrElse {
      val k = key
      if (!stored.contains(row(k))) {
        dropStale(spark, keyTable)
        build
        val schema = StructType(("n" +: "fp" +: params.map(_._1))
          .map(StructField(_, LongType, nullable = false)))
        spark.createDataFrame(java.util.List.of(Row.fromSeq(row(k))), schema)
          .coalesce(1).write.mode(SaveMode.Overwrite).saveAsTable(keyTable)
      }
      snap.foreach(sn => snapshotMemo.put(keyTable, (sn, k)))
      k
    }
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

  /** Run `body` with auto-bucketed-scan conversion OFF, restoring the
    * session's previous setting after — the compaction read-side pin
    * (see [[compactBucketed]]). Session-scoped like any conf toggle:
    * concurrent queries on the SAME session during the window read
    * bucketed plans too (correct, possibly slower); other sessions are
    * unaffected. */
  private def withBucketedScanPinned[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /**
   * Crash-safe staged swap: `write` must create `staging` (a full
   * Overwrite `saveAsTable`); on success the live table is dropped and
   * the staging table renamed into its place. Recovery on entry — see
   * the object Scaladoc invariant 1: a live-absent/staging-present
   * state is a crashed swap whose only copy of the data is the staging
   * table, so it is promoted, never dropped. The promoted table then
   * goes through the normal compaction again (idempotent: compaction
   * is a layout operation).
   */
  def stagedSwap(spark: SparkSession, live: String, staging: String)
                (write: => Unit): Unit = {
    if (!spark.catalog.tableExists(live) &&
        spark.catalog.tableExists(staging)) {
      spark.sql(s"ALTER TABLE $staging RENAME TO $live")
      spark.catalog.refreshTable(live)
    }
    // live exists (or neither does): a leftover staging table is
    // garbage from a crash during the staging WRITE — safe to clear
    dropStale(spark, staging)
    write
    spark.sql(s"DROP TABLE $live")
    spark.sql(s"ALTER TABLE $staging RENAME TO $live")
    spark.catalog.refreshTable(live)
  }

  /**
   * Rewrite `table` to exactly one file per non-empty bucket with NO
   * shuffle, behind [[stagedSwap]]. `rows` builds the frame to persist
   * (defaults to the table itself; compactors that apply tombstones
   * pass their live-view read) — it is planned AFTER crash recovery
   * and executed into the staging table before anything live is
   * touched.
   */
  def compactBucketed(spark: SparkSession, table: String,
                      bucketCols: Seq[String], buckets: Int,
                      rows: => DataFrame): Unit = {
    val staging = s"${table}_compacting"
    stagedSwap(spark, table, staging) {
      withBucketedScanPinned(spark) {
        rows.write.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .format("parquet").mode(SaveMode.Overwrite)
          .saveAsTable(staging)
      }
    }
  }

  /** Normalize a caller-supplied id frame to one distinct LONG column
    * named `keyCol` — every tombstone table's schema prefix. */
  def keyedIds(ids: DataFrame, keyCol: String): DataFrame =
    ids.select(ids.columns.head).toDF(keyCol)
      .select(col(keyCol).cast("long")).distinct()

  /** The subset of `keyed` not already tombstoned — the idempotent-
    * redelivery filter every tombstone append runs first. */
  def freshTombstones(spark: SparkSession, table: String,
                      keyed: DataFrame, keyCol: String): DataFrame =
    if (spark.catalog.tableExists(table))
      keyed.join(spark.table(table).select(col(keyCol)),
        Seq(keyCol), "left_anti")
    else keyed

  /** Append `rows` (already deduplicated via [[freshTombstones]]) to
    * the tombstone table — ONE table append = atomic. */
  def appendTombstones(spark: SparkSession, table: String,
                       rows: DataFrame): Unit = {
    rows.write.format("parquet").mode(SaveMode.Append).saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** `state` minus tombstoned keys — every search/candidate read's
    * state side. Broadcast anti-join; costs nothing when no tombstone
    * table exists. */
  def minusTombstones(spark: SparkSession, state: DataFrame,
                      table: String, keyCol: String): DataFrame =
    if (spark.catalog.tableExists(table))
      state.join(broadcast(spark.table(table).select(col(keyCol))),
        Seq(keyCol), "left_anti")
    else state

  /**
   * Loud re-append guard (object Scaladoc invariant 4): throw when any
   * batch id is still tombstoned. One broadcast anti-join + isEmpty —
   * model-parameter-sized work next to the append itself. `recovery`
   * names the index-specific action ("compact then re-append" /
   * "rebuild") the error message tells the operator to take.
   */
  def requireNotTombstoned(spark: SparkSession, table: String,
                           batch: DataFrame, idCol: String,
                           recovery: String): Unit = {
    if (spark.catalog.tableExists(table)) {
      val dead = spark.table(table)
      val deadKey = dead.columns.head
      val hit = batch.select(col(idCol).cast("long").as("__id"))
        .join(broadcast(dead.select(col(deadKey).as("__id"))), Seq("__id"))
        .limit(1).collect()
      if (hit.nonEmpty)
        throw new IllegalStateException(
          s"append batch contains tombstoned id ${hit.head.getLong(0)} " +
            s"(tombstone table $table): appending it would be hidden by " +
            s"the live-read anti-join and corrupt the index bookkeeping. " +
            s"To re-add a deleted id: $recovery.")
    }
  }

  /**
   * Dead-mass fraction: tombstoned keys / live keys. Heavy deletes skew
   * cell/posting distributions and grow every search's anti-join
   * without moving any model-quality measure, so this is the signal
   * [[compactIfDead]] acts on. Returns 0 with no tombstones; rows with
   * a null key (the lexical index's folded N/T row, already applied
   * physically) are not dead weight and do not count. `totalKeys`
   * counts tombstoned keys too (live = total − dead), so the fraction
   * is dead/live.
   */
  def deadFraction(spark: SparkSession, tombTable: String,
                   totalKeys: => Long): Double = {
    val dead =
      if (!spark.catalog.tableExists(tombTable)) 0L
      else {
        val t = spark.table(tombTable)
        t.filter(col(t.columns.head).isNotNull).count()
      }
    if (dead == 0L) 0.0
    else {
      val live = totalKeys - dead
      if (live <= 0L) Double.PositiveInfinity
      else dead.toDouble / live.toDouble
    }
  }

  /**
   * Compact iff the dead mass ([[deadFraction]]) crossed
   * `maxDeadFraction` — the automatic trigger closing the delete loop
   * of any tombstoned state: deletes accumulate through the index's
   * tombstone append, this notices when the dead set has grown past the
   * policy bound (two scalar counts), and `compact` — the index's own
   * compactor ([[AnnIndex.compactAnnIndex]],
   * [[LexIndex.compactLexIndex]], [[Dedup.compactDedupState]]) applies
   * them physically. Results are bit-identical before/after: the rows
   * were already excluded logically. Returns true when a compaction ran.
   */
  def compactIfDead(spark: SparkSession, tombTable: String,
                    totalKeys: => Long, maxDeadFraction: Double = 0.3)
                   (compact: => Unit): Boolean = {
    val dead = deadFraction(spark, tombTable, totalKeys) > maxDeadFraction
    if (dead) compact
    dead
  }
}
