package graft.control

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental-run bookkeeping — the engine's version of the reference's
 * `[migration-log]` control table (S1/S10):
 *
 *  - watermark read: `select top(1) start from [migration-log] where
 *    description = ? and status = 'Successful' order by finish desc`
 *    (`/root/reference/Pembelian/run.js:41-50`);
 *  - run log append: one row per run with status/duration either way
 *    (`/root/reference/Pembelian/run.js:14-37`, `52-63`).
 *
 * Stored as a small parquet directory (one control table for all
 * pipelines). At production scale this is a Delta table for atomic
 * appends; the API is storage-agnostic. The control table is tiny
 * (rows = runs), so driver-side `.first()` here is not a data-path
 * collect.
 */
class WatermarkManager(spark: SparkSession, path: String) {

  /** Epoch fallback used on first run (`Pembelian/run.js:121-122`). */
  val epoch: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")

  /** The whole control log, read with its declared schema
    * ([[WatermarkManager.logSchema]]): no schema-inference job, so a
    * watermark read is the one collect job. A missing or empty control
    * directory reads as the empty log. */
  def log: DataFrame =
    try spark.read.schema(WatermarkManager.logSchema).parquet(path)
    catch { case _: Exception => emptyLog }

  private def emptyLog: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      WatermarkManager.logSchema)

  /** Low watermark for `pipeline`: `start` of the latest successful run
    * (by `finish`), falling back to the epoch. Failed runs never advance
    * the watermark (status ≠ Successful is not picked). */
  def lastWatermark(pipeline: String): Timestamp = {
    val row = log
      .filter(col("description") === pipeline && col("status") === "Successful")
      .orderBy(col("finish").desc)
      .select(col("start"))
      .limit(1)
      .collect()
    if (row.isEmpty) epoch else row.head.getTimestamp(0)
  }

  /** Every pipeline's newest log row (by `finish`) with its
    * [[lastWatermark]], sorted by pipeline name — the `/api/status`
    * view, from ONE collect of the log instead of a read per pipeline.
    * The watermark rule is [[lastWatermark]]'s: `start` of the latest
    * Successful run, the epoch when there is none. */
  def latestRuns(): Seq[(org.apache.spark.sql.Row, Timestamp)] =
    log.orderBy(col("finish").desc).collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) => // newest finish first
        (rs.head, rs.find(_.getString(4) == "Successful")
          .map(_.getTimestamp(1)).getOrElse(epoch))
      }

  /** Append one run-outcome row (success or stringified failure — the
    * reference logs both, `Pembelian/run.js:14-37`). `note` rides in
    * the free-text executionTime column (e.g. the late-fire flag a
    * reference timer logs when `IsPastDue`, `PembelianTimer/index.js:
    * 6-9`) — never in `status`, which the watermark rule keys on. */
  def logRun(pipeline: String, start: Timestamp, finish: Timestamp,
             status: String, note: Option[String] = None): Unit = {
    import spark.implicits._
    val minutes = (finish.getTime - start.getTime) / 60000.0
    val exec = f"$minutes%.2f minutes" + note.map(", " + _).getOrElse("")
    // concurrent pipeline runs share one control directory, and parallel
    // parquet Append jobs to one path are mutually destructive (the
    // committer's shared _temporary root): serialize appends per control
    // path, JVM-wide — a run writes exactly one tiny row, so the lock
    // hold time is a single small write job
    WatermarkManager.appendLock(path).synchronized {
      Seq((pipeline, start, finish, exec, status))
        .toDF("description", "start", "finish", "executionTime", "status")
        .write.mode(SaveMode.Append).parquet(path)
    }
  }
}

object WatermarkManager {
  /** The control log's columns, as [[WatermarkManager.logRun]] writes them. */
  private val logSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "description STRING, start TIMESTAMP, finish TIMESTAMP, " +
      "executionTime STRING, status STRING")

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def appendLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
