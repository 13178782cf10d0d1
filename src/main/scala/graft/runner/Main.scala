package graft.runner

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.control.WatermarkManager
import graft.pipelines._
import graft.sources.{Connector, CsvConnector, JdbcConnector, JsonLinesConnector, OrcConnector, ParquetConnector}

/**
 * Name → engine-pipeline registry: every reference Azure-Function entry
 * point (`/root/reference/<Name>/index.js` + its `<Name>Timer` twin)
 * resolved to the engine object that re-expresses its `run.js`. Aliases
 * carry the reference's function names so an operator can say
 * `pembelian` exactly as today.
 */
object Pipelines {
  val all: Seq[Pipeline] = Seq(
    PurchasingFact, GarmentPurchasingFact, ProductionOrderFact,
    ProductionOrderStatusFact, SalesContractFact, ShipmentFact,
    PackingFact, PackingReceiptFact, InventoryMovementFact,
    InventorySummaryFact, KanbanFact, DailyOperationFact, FabricQCFact,
    MonitoringEventFact, TotalHutangFact, GarmentTotalHutangFact,
    DealTrackingDealFact, DealTrackingActivityFact, DealTrackingBoardFact,
    DealTrackingStageFact, MigrationLogSync)

  /** Reference function name → engine pipeline name
    * (`Pembelian/index.js`, `ProductionOrder/index.js`, …). */
  val aliases: Map[String, String] = Map(
    "pembelian" -> "purchasing-fact",
    "garment-pembelian" -> "garment-purchasing-fact",
    "production-order" -> "production-order-fact",
    "production-order-status" -> "production-order-status-fact",
    "sales-contract" -> "sales-contract-fact",
    "shipment-document" -> "shipment-fact",
    "packing" -> "packing-fact",
    "packing-receipt" -> "packing-receipt-fact",
    "inventory-movement" -> "inventory-movement-fact",
    "inventory-summary" -> "inventory-summary-fact",
    "kanban" -> "kanban-fact",
    "daily-operation" -> "daily-operation-fact",
    "fabric-qc" -> "fabric-qc-fact",
    "monitoring-event" -> "monitoring-event-fact",
    "total-hutang" -> "total-hutang-fact",
    "garment-total-hutang" -> "garment-total-hutang-fact",
    "migration-log" -> "migration-log-sync")

  /** User-registered pipelines beyond the built-in reference set — the
    * extension seam for a deployment's own facts (and the hook specs
    * use to inject deliberately slow/failing pipelines). */
  @volatile private var registered: Seq[Pipeline] = Nil

  def register(p: Pipeline): Unit = synchronized {
    registered = registered.filterNot(_.name == p.name) :+ p
  }

  def unregister(name: String): Unit = synchronized {
    registered = registered.filterNot(_.name == name)
  }

  def allWithRegistered: Seq[Pipeline] = all ++ registered

  def byName(n: String): Pipeline = {
    val canonical = aliases.getOrElse(n, n)
    allWithRegistered.find(_.name == canonical).getOrElse(
      throw new IllegalArgumentException(
        s"unknown pipeline '$n'; known: " +
          allWithRegistered.map(_.name).mkString(", ")))
  }
}

/**
 * Operational entry point — the engine's replacement for the
 * reference's per-pipeline Azure Function mains
 * (`Pembelian/index.js:3-17` manual trigger, `PembelianTimer/index.js:
 * 1-22` nightly timer): ONE binary, pipeline selected by name, storage
 * bound by URI instead of seven hard-wired connection singletons.
 *
 *   runMain graft.runner.Main pembelian \
 *     --sources /data/lake --warehouse /data/dwh --control /data/dwh/control
 *
 * Each run is the full reference dataflow: watermark read → incremental
 * extract → transform → atomic MERGE (+ dim-time) → run log. A failed
 * pipeline logs its failure row and leaves the watermark untouched;
 * other requested pipelines still run (the reference's functions are
 * independently scheduled), and the exit code reports any failure.
 *
 * `--sources` binds the run's one source by URI ([[connectorFor]]): a
 * parquet directory (default), `jsonl:<dir>` (the document-store
 * connector), `csv:<dir>`, `orc:<dir>`, `binary:<dir>` (raw media),
 * `jdbc:<url>` or `bson:<host>:<port>[:<token>]` (the OP_MSG binary
 * document store).
 */
object Main {

  private[graft] def connectorFor(uri: String): Connector = uri match {
    case u if u.startsWith("jsonl:") => JsonLinesConnector(u.stripPrefix("jsonl:"))
    case u if u.startsWith("csv:") => CsvConnector(u.stripPrefix("csv:"))
    case u if u.startsWith("orc:") => OrcConnector(u.stripPrefix("orc:"))
    case u if u.startsWith("binary:") =>
      graft.sources.BinaryFileConnector(u.stripPrefix("binary:"))
    case u if u.startsWith("jdbc:") => JdbcConnector(u)
    case u if u.startsWith("bson:") =>
      // bson:<host>:<port>[:<token>] — the OP_MSG binary document store
      val parts = u.stripPrefix("bson:").split(":", 3)
      val port = parts.lift(1).flatMap(_.toIntOption)
        .filter(p => p >= 1 && p <= 65535)
      require(parts(0).nonEmpty && port.isDefined,
        s"bson source must be bson:<host>:<port>[:<token>] with a port " +
          s"in 1-65535, got '$u'")
      graft.sources.DocumentStoreConnector(
        graft.sources.BsonSocketDocumentStore(parts(0), port.get,
          authToken = if (parts.length > 2) parts(2) else ""))
    case dir => ParquetConnector(dir)
  }

  /** The value after the flag at `args(i)`; a flag given last fails
    * naming itself. */
  private[graft] def flagValue(args: Array[String], i: Int): String =
    if (i + 1 < args.length) args(i + 1)
    else throw new IllegalArgumentException(s"${args(i)} needs a value")

  /** Parse the value of a flag or environment variable `name`; a
    * malformed value fails naming `name` and the value. */
  private[graft] def parseFlag[A](name: String, v: String)(f: String => A): A =
    try f(v)
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(s"invalid value '$v' for $name")
    }

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  private[graft] def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS")
      .fold(default)(parseFlag("SPARK_GRAFT_CPUS", _)(_.toInt))

  def main(args: Array[String]): Unit =
    if (run(args) > 0) sys.exit(1)

  /** CLI body; returns the number of failed pipelines (the exit code
    * decision stays in [[main]] so embedded callers — tests, notebooks —
    * can invoke the runner without risking a JVM exit). */
  def run(args: Array[String]): Int = {
    var names = Vector.empty[String]
    var sources = "."
    var warehouse = "warehouse"
    var controlPath: Option[String] = None
    var startAt: Option[Timestamp] = None
    var cpus = envCpus(4)
    val usage =
      "usage: graft.runner.Main <pipeline ...|--all> [--sources <dir|jsonl:dir|" +
        "csv:dir|orc:dir|binary:dir|jdbc:url|bson:<host>:<port>[:<token>]>] " +
        "[--warehouse <dir>] [--control <path>] [--start-at <ts>] [--cpus N]"
    var i = 0
    while (i < args.length) {
      def value = flagValue(args, i)
      args(i) match {
        case "--sources" => sources = value; i += 2
        case "--warehouse" => warehouse = value; i += 2
        case "--control" => controlPath = Some(value); i += 2
        case "--start-at" =>
          startAt = Some(parseFlag("--start-at", value)(Timestamp.valueOf)); i += 2
        case "--cpus" => cpus = parseFlag("--cpus", value)(_.toInt); i += 2
        case "--all" => names = Pipelines.all.map(_.name).toVector; i += 1
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag '$f'; $usage")
        case n => names :+= n; i += 1
      }
    }
    require(names.nonEmpty, usage)

    // reuse an active session when embedded (tests, notebooks); own and
    // stop one only when launched standalone
    val active = SparkSession.getActiveSession
    val spark = active.getOrElse(graft.core.Sessions.local(cpus, "graft-runner"))
    val conn = connectorFor(sources)
    val control = new WatermarkManager(spark,
      controlPath.getOrElse(s"$warehouse/control"))
    val runner = new PipelineRunner(spark, control, warehouse)

    var failures = 0
    names.foreach { n =>
      val p = Pipelines.byName(n)
      try {
        // a successful run's start becomes its watermark
        val start = startAt.getOrElse(new Timestamp(System.currentTimeMillis()))
        val rows = runner.run(p, t => conn.read(spark, t), Some(start))
        System.err.println(s"[runner] ${p.name}: OK, fact rows=$rows, " +
          s"watermark=$start")
      } catch {
        case e: Exception =>
          failures += 1
          System.err.println(s"[runner] ${p.name}: FAILED — ${e.getMessage}")
      } finally {
        // operator-internal pinned intermediates must not accumulate
        // across pipelines in this long-lived session
        graft.ops.materialize.releaseAll()
      }
    }
    if (active.isEmpty) spark.stop()
    failures
  }
}
