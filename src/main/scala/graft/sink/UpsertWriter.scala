package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Key-based upsert ("MERGE") into a parquet-backed fact table — the
 * engine's version of the reference's staging-table + `exec DL_UPSERT_*`
 * stored-proc transaction (S8/S11, `/root/reference/Pembelian/run.js:
 * 299-379`). Semantics: rows whose natural key appears in the incoming
 * batch are replaced; everything else is carried over; the swap is
 * all-or-nothing.
 *
 * Plan shape: `target ANTI JOIN batch ON keys` ∪ `batch` — one shuffle
 * on the key (or none when the batch is broadcastable, the common
 * incremental case: nightly deltas are small relative to the fact).
 * On a production lake this is exactly `MERGE INTO` on Delta/Iceberg,
 * which also removes the rewrite of untouched files; the parquet
 * implementation keeps the same contract for this environment, staging
 * the merged result and promoting it atomically via rename.
 *
 * [[upsertAll]] is the S12 dual-sink protocol (`DailyOperation/run.js:
 * 249-295` — two staging tables, ONE transaction): every batch is
 * computed and staged BEFORE any live table is touched, so a failure
 * anywhere in the expensive phase (the Spark jobs) leaves every target
 * untouched. Promotion is then a sequence of per-table metadata renames.
 */
object UpsertWriter {

  private final case class Staged(target: Path, staging: Path,
                                  backup: Path, rows: Long)

  // JVM-wide per-target-path merge locks: two concurrent merges into the
  // SAME table (e.g. two pipelines maintaining the shared dim-time sink
  // under the server's concurrent schedule) would both stage against the
  // same current state and silently lose one batch at promote. Striped
  // per path, so merges into DIFFERENT tables stay fully concurrent;
  // same-JVM serialization is the local-mode stand-in for a table-level
  // commit protocol (Delta/Iceberg transactions at production scale).
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withPathLocks[A](paths: Seq[String])(body: => A): A = {
    // sorted acquisition order keeps multi-target calls deadlock-free
    def loop(ls: List[Object]): A = ls match {
      case Nil => body
      case l :: rest => l.synchronized(loop(rest))
    }
    loop(paths.distinct.sorted
      .map(p => pathLocks.computeIfAbsent(p, _ => new Object)).toList)
  }

  /** `target ANTI JOIN batch-keys` ∪ `batch` — deliberately hint-free:
    * AQE broadcasts the key set when the batch is small (the nightly
    * delta case) and falls back to a shuffled join when it is not. A
    * forced `broadcast()` here was a backfill-killer: on first run the
    * watermark is epoch, the batch IS the full history, and the driver
    * would have to hold every key of the largest fact. */
  private[graft] def mergedPlan(current: DataFrame, batch: DataFrame,
                               keys: Seq[String]): DataFrame =
    current.join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(batch)

  private def stage(spark: SparkSession, fs: FileSystem, batch: DataFrame,
                    path: String, keys: Seq[String]): Staged = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    val target = new Path(path)
    val staging = new Path(path + "__staging")
    val backup = new Path(path + "__old")
    // crash recovery: a previous promote that died between its two
    // renames left the live history at __old and no target — without
    // the restore, this run would see "first write" and MERGE only the
    // batch, silently dropping the table
    if (!fs.exists(target) && fs.exists(backup)) fs.rename(backup, target)
    val merged =
      if (fs.exists(target)) mergedPlan(spark.read.parquet(path), batch, keys)
      else batch
    val obs = org.apache.spark.sql.Observation()
    merged.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    Staged(target, staging, backup,
      graft.ops.observed(obs, "upsert")("rows").asInstanceOf[Long])
  }

  private def promote(fs: FileSystem, s: Staged): Unit = {
    // staging → live (rename is atomic per path on HDFS-like FS)
    if (fs.exists(s.target)) {
      fs.delete(s.backup, true)
      fs.rename(s.target, s.backup)
    }
    fs.rename(s.staging, s.target)
    fs.delete(s.backup, true)
  }

  /** @return total rows in the fact after the merge, observed during the
    *         write job itself (`Dataset.observe` — no extra scan). */
  def upsert(spark: SparkSession, batch: DataFrame, targetPath: String,
             keys: Seq[String]): Long =
    upsertAll(spark, Seq((batch, targetPath, keys))).head

  /**
   * S12 — atomic multi-table upsert: stage every batch first (all the
   * Spark compute), promote only after every staging write succeeded.
   * A failure during any staging write leaves ALL live tables unchanged;
   * the crash window shrinks to the per-table metadata renames.
   *
   * @param batches (batch, targetPath, mergeKeys) per table
   * @return post-merge row count per table, in input order
   */
  def upsertAll(spark: SparkSession,
                batches: Seq[(DataFrame, String, Seq[String])]): Seq[Long] =
      withPathLocks(batches.map(_._2)) {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val sc = spark.sparkContext
    val tag = s"graft-upsert-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    val staged =
      try batches.map { case (b, p, k) => stage(spark, fs, b, p, k) }
      catch {
        case e: Throwable =>
          // roll back any staging leftovers; live tables were never
          // touched. A failed write job returns while the tasks it killed
          // may still be writing, and a task that opens its file after
          // the delete recreates the staging directory: wait them out.
          awaitTasksEnded(sc, tag)
          batches.foreach { case (_, p, _) =>
            fs.delete(new Path(p + "__staging"), true)
          }
          throw e
      } finally sc.removeJobTag(tag)
    staged.foreach(promote(fs, _))
    staged.map(_.rows)
  }

  /** Wait, at most 30 s, until every job tagged `tag` has ended and no
    * task of its stages still runs, as Spark's status store sees it. A
    * task reports its end only after its own abort cleanup. */
  private def awaitTasksEnded(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def ended: Boolean =
      st.getJobIdsForTag(tag).flatMap(st.getJobInfo(_)).forall { j =>
        j.status != JobExecutionStatus.RUNNING &&
          j.stageIds.forall(st.getStageInfo(_).forall(_.numActiveTasks == 0))
      }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ended && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
