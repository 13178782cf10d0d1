package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.WatermarkManager
import graft.ops.relational
import graft.sink.{DimTime, UpsertWriter}

/**
 * One incremental fact pipeline — the canonical dataflow every reference
 * function follows (`/root/reference/Pembelian/run.js:10-13`):
 *
 *   timestamp → extract(watermark) → join/transform → load(merge) → log
 *
 * A pipeline is a *pure function over DataFrames*: sources are injected,
 * so golden tests run on in-memory fixtures with zero infrastructure,
 * and the runner wires watermarks and the merge sink around the lazy
 * DAG. Unlike the reference there is no per-row JS loop and no chunked
 * INSERT plumbing — the transform is one declarative plan, and
 * incremental extraction is a pushed-down predicate.
 */
trait Pipeline {
  /** Control-table identity (the `description` column). */
  def name: String

  /** Source-table names this pipeline reads. */
  def sources: Seq[String]

  /** Name of the change-tracking column used for incremental extraction
    * on the *driving* source (first element of [[sources]]). */
  def watermarkColumn: String = "lastmodifiedutc"

  /** Watermark boundary semantics. The reference is deliberately
    * inconsistent: 13 pipelines extract strictly newer rows
    * (`lastmodifiedutc > ?`, e.g. `Pembelian/run.js:166`) while 9 re-read
    * the boundary instant (`lastmodifiedutc >= ?`, e.g.
    * `DailyOperation/run.js:106`, `MonitoringEvent/run.js:91`). Each
    * pipeline declares its reference's operator; default is strict. */
  def watermarkInclusive: Boolean = false

  /** Natural key of the produced fact (MERGE key). */
  def factKeys: Seq[String]

  /** Fact date columns that feed the shared dim-time dimension (S9,
    * `exec DL_INSERT_DIMTIME` — `Pembelian/run.js:331-333`). Empty =
    * this pipeline does not maintain dim-time. */
  def dateColumns: Seq[String] = Seq.empty

  /** The declarative transform: driving source (already watermark-
    * filtered) + full side sources → fact rows. */
  def transform(tables: Map[String, DataFrame]): DataFrame
}

/** Driver-side orchestration around a [[Pipeline]]'s DAG. */
class PipelineRunner(spark: SparkSession, control: WatermarkManager,
                     warehouseDir: String) {

  /** Run one pipeline incrementally: extract rows newer than the last
    * successful run's start, transform, merge into the fact, and log the
    * outcome (failures are logged and re-thrown; a failed run leaves the
    * watermark untouched).
    *
    * @param startAt logical run-start override (this run's future
    *                watermark); defaults to wall clock, exactly like the
    *                reference's `timestamp()` step. Tests inject it to
    *                replay deterministic nightly windows.
    * @param failureStatus maps a run failure to its control-row status —
    *                the server's deadline watchdog uses it to record
    *                `Failed-timeout` instead of the raw cancellation
    *                message (the reference host kills a run at
    *                `functionTimeout`, host.json:3)
    * @param runNote free-text note for the control row (e.g. the
    *                late-fire flag of a past-due timer tick)
    *
    * Every Spark job the run submits is described
    * `<pipeline>:<phase>` (watermark, transform, merge, append); the
    * calling thread's previous job description is restored afterwards. */
  def run(p: Pipeline, loadTable: String => DataFrame,
          startAt: Option[Timestamp] = None,
          failureStatus: Exception => String =
            e => s"Failed: ${e.getMessage}",
          runNote: Option[String] = None): Long = {
    val start = startAt.getOrElse(new Timestamp(System.currentTimeMillis()))
    val sc = spark.sparkContext
    def phase[A](name: String)(body: => A): A = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"${p.name}:$name")
      try body finally sc.setJobDescription(prev)
    }
    try {
      val wm = phase("watermark")(control.lastWatermark(p.name))
      val fact = phase("transform") {
        val tables = p.sources.map(s => s -> loadTable(s)).toMap
        val driving = p.sources.head
        p.transform(tables.updated(driving,
          relational.incrementalScan(tables(driving), col(p.watermarkColumn),
            lit(wm), inclusive = p.watermarkInclusive)))
      }
      // the fact row count comes back from the merge's own write job
      // (Dataset.observe) — no post-hoc re-scan of the fact
      val n = phase("merge") {
        if (p.dateColumns.isEmpty)
          UpsertWriter.upsert(spark, fact,
            s"$warehouseDir/${p.name}", p.factKeys)
        else {
          // S9: fact merge + dim-time maintenance in ONE atomic envelope,
          // like the reference's single DWH transaction around
          // DL_UPSERT_FACT_* + DL_INSERT_DIMTIME (Pembelian/run.js:328-337).
          // The batch feeds two sinks, so persist it across the two
          // staging jobs instead of recomputing the transform.
          fact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try UpsertWriter.upsertAll(spark, Seq(
            (fact, s"$warehouseDir/${p.name}", p.factKeys),
            (DimTime.derive(fact, p.dateColumns), s"$warehouseDir/dim-time",
              Seq("cal_date")))).head
          finally fact.unpersist()
        }
      }
      phase("append")(control.logRun(p.name, start,
        new Timestamp(System.currentTimeMillis()), "Successful", runNote))
      n
    } catch {
      case e: Exception =>
        // a deadline watchdog cancels via job-group cancel + thread
        // interrupt; the interrupt flag must not also kill this
        // failure-row write (a small Spark job of its own)
        Thread.interrupted(): Unit
        phase("append")(control.logRun(p.name, start,
          new Timestamp(System.currentTimeMillis()),
          failureStatus(e), runNote))
        throw e
    }
  }
}
