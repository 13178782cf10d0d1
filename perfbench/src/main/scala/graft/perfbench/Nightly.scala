package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.WatermarkManager
import graft.ops.relational
import graft.pipelines._
import graft.queries.{PipelineQueries, Registry}
import graft.runner.{Pipelines, Serve}
import graft.sink.{DimTime, UpsertWriter}
import graft.sources.{Connector, ParquetConnector}

/** One pipeline request as the client saw it, plus its control row. */
final case class Req(pipeline: String, sendMs: Long, seconds: Double,
                     ok: Boolean, body: String)

/** Per-fact state after a night: rows, rows with a complete key, distinct
  * complete keys, files, and an order-independent content hash. */
final case class FactState(rows: Long, keyedRows: Long, distinctKeys: Long,
                           files: Int, hash: String)

/**
 * The nightly product path: per-pipeline source lakes built from the
 * registry's deterministic builders, seeded in-place deltas, and nights
 * of all 21 pipelines driven through `graft.runner.Serve` over HTTP on
 * localhost — plus a traced twin of `PipelineRunner.run` that calls the
 * same public functions in the same order with a span around each.
 */
final class Nightly(spark: SparkSession, seed: Long) {
  import Nightly._
  import Par.par

  private val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  val pipelines: Seq[Pipeline] = Pipelines.all

  def lakeConns(lakeRoot: String): Map[String, Connector] =
    pipelines.map(p => p.name -> (ParquetConnector(s"$lakeRoot/${p.name}"): Connector)).toMap

  /** One lake directory for `p` holding exactly its declared sources;
    * the driving source gains the watermark column (a fixed past
    * instant) when its builder does not carry one. */
  def writeLake(p: Pipeline, baseDir: String, lakeRoot: String): Unit = {
    val srcs = builders(p)(spark, baseDir)
    val lake = ParquetConnector(s"$lakeRoot/${p.name}")
    p.sources.foreach { name =>
      val df = srcs.getOrElse(name,
        sys.error(s"${p.name}: builder lacks declared source '$name'"))
      val out =
        if (name == p.sources.head && !df.columns.contains(p.watermarkColumn))
          df.withColumn(p.watermarkColumn, lit(BaseInstant))
        else df
      lake.write(out.coalesce(1), name, SaveMode.Overwrite)
    }
  }

  /** Set-up of the incremental state: on four threads, each pipeline's
    * lake is written and its backfill request (watermark at epoch) sent
    * as soon as the lake is ready, to a server with four run permits.
    * Returns the backfill requests. */
  def lakesAndBackfill(baseDir: String, lakeRoot: String, port: Int): Seq[Req] = {
    val http = HttpClient.newHttpClient()
    par(pipelines) { p =>
      writeLake(p, baseDir, lakeRoot)
      request(http, port, p.name)
    }
  }

  /** Update a seeded 1 % of every driving source in place: same rows and
    * ids, watermark column moved to `now`. Row choice hashes the other
    * columns with (seed, night), so it repeats exactly for a seed.
    * Returns the updated row count per pipeline. */
  def applyDelta(lakeRoot: String, night: Int, now: Timestamp): Map[String, Long] =
    par(pipelines) { p =>
      val path = s"$lakeRoot/${p.name}/${p.sources.head}.parquet"
      val df = spark.read.parquet(path)
      val wc = p.watermarkColumn
      val keyCols = df.columns.filter(_ != wc).map(col)
      val pick = pmod(xxhash64(lit(seed) +: lit(night) +: keyCols.toSeq: _*),
        lit(100L)) === 0
      val tmp = path + ".next"
      val obs = org.apache.spark.sql.Observation()
      df.withColumn(wc, when(pick, lit(now).cast(df.schema(wc).dataType))
          .otherwise(col(wc)))
        .observe(obs, sum(when(pick, 1L).otherwise(0L)).as("n"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      fs.delete(new Path(path), true)
      fs.rename(new Path(tmp), new Path(path))
      p.name -> Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    }.toMap

  def startServe(conns: Map[String, Connector], wh: String,
                 maxRuns: Int): Serve.Handle =
    Serve.start(spark, conns(pipelines.head.name), wh, s"$wh/control",
      port = 0, maxConcurrentRuns = maxRuns, conns = conns)

  /** One night: `clients` closed-loop client threads take pipeline
    * names in roster order and POST each to the server, waiting for the
    * reply before sending the next. Returns (night seconds, requests). */
  def night(port: Int, clients: Int,
            traced: Option[(Trace, Int)] = None): (Double, Seq[Req]) = {
    val queue = new ConcurrentLinkedQueue[String](pipelines.map(_.name).asJava)
    val done = new ConcurrentLinkedQueue[Req]()
    val http = HttpClient.newHttpClient()
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(clients)
    try (1 to clients).map(_ => pool.submit(new Runnable {
      def run(): Unit = {
        var n = queue.poll()
        while (n != null) {
          val name = n
          done.add(traced match {
            case Some((t, k)) => t.span("runner.request", s"$name#$k")(request(http, port, name))
            case None => request(http, port, name)
          })
          n = queue.poll()
        }
      }
    })).foreach(_.get())
    finally pool.shutdown()
    ((System.nanoTime() - t0) / 1e9, done.asScala.toSeq)
  }

  /** POST one pipeline run to the server and wait for its reply. */
  def request(http: HttpClient, port: Int, name: String): Req = {
    val sendMs = System.currentTimeMillis()
    val s0 = System.nanoTime()
    val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/$name"))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    Req(name, sendMs, (System.nanoTime() - s0) / 1e9,
      r.statusCode() == 200 && r.body().contains("\"status\":\"Successful\""),
      r.body())
  }

  /** Copy a directory tree (a warehouse: facts, dim-time, control). */
  def copyDir(from: String, to: String): Unit =
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to),
      false, spark.sparkContext.hadoopConfiguration): Unit

  def dimDates(wh: String): Set[String] =
    spark.read.parquet(s"$wh/dim-time")
      .select(col("cal_date").cast("string")).collect().map(_.getString(0)).toSet

  /** Control rows of the latest run per pipeline: (start, finish, status). */
  def latestControl(wh: String): Map[String, (Timestamp, Timestamp, String)] =
    new WatermarkManager(spark, s"$wh/control").log.collect()
      .groupBy(_.getString(0)).map { case (n, rs) =>
        val r = rs.maxBy(_.getTimestamp(2).getTime)
        n -> ((r.getTimestamp(1), r.getTimestamp(2), r.getString(4)))
      }

  /** Failures of the per-night run contract: every request Successful,
    * and each reported watermark equals its own control row's start. */
  def runFailures(wh: String, reqs: Seq[Req]): Seq[String] = {
    val ctl = latestControl(wh)
    reqs.flatMap { r =>
      val wm = WatermarkRe.findFirstMatchIn(r.body).map(_.group(1))
      if (!r.ok) Some(s"${r.pipeline}: ${r.body}")
      else ctl.get(r.pipeline) match {
        case Some((start, _, "Successful")) if wm.contains(start.toString) => None
        case other => Some(s"${r.pipeline}: watermark $wm vs control $other")
      }
    }
  }

  def factState(path: String, keys: Seq[String]): FactState = {
    val df = spark.read.parquet(path)
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
        count(when(keys.map(k => col(k).isNotNull).reduce(_ && _), 1)),
        count_distinct(col(keys.head), keys.tail.map(col): _*),
        sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)")))
      .collect().head
    val files = fs.listStatus(new Path(path)).count(_.getPath.getName.endsWith(".parquet"))
    FactState(r.getLong(0), r.getLong(1), r.getLong(2), files,
      Option(r.getDecimal(3)).map(_.toString).getOrElse("0"))
  }

  def facts(wh: String): Map[String, FactState] =
    par(pipelines)(p => p.name -> factState(s"$wh/${p.name}", p.factKeys)).toMap

  /** Registry pipeline queries over the same builders: (rows, hash) per
    * fact, hashed like [[factState]] (the lake's added watermark column
    * is not a fact column, so both sides hash the same columns). */
  def registryFacts(baseDir: String, ps: Seq[Pipeline]): Map[String, (Long, String)] =
    par(ps) { p =>
      val q = Registry.all.find(_.name.startsWith(registryQuery(p) + "_"))
        .getOrElse(sys.error(s"no registry query for ${p.name}"))
      val df = q.build(spark, baseDir)
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).collect().head
      p.name -> ((r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0")))
    }.toMap

  /** `PipelineRunner.run`'s steps, in its order, with a span around each
    * call into a layer's public functions. The one behaviour of the
    * server path kept here is its per-run `materialize.releaseAll()`. */
  def tracedRun(trace: Trace, p: Pipeline, conn: Connector,
                control: WatermarkManager, wh: String,
                runId: String): (Long, Timestamp) =
    trace.span("pipeline", runId) {
      val start = new Timestamp(System.currentTimeMillis())
      val wm = trace.span("control.watermark", runId)(control.lastWatermark(p.name))
      val tables = trace.span("sources.open", runId)(
        p.sources.map(s => s -> conn.read(spark, s)).toMap)
      val fact = trace.span("pipelines.transform", runId) {
        val driving = p.sources.head
        p.transform(tables.updated(driving, relational.incrementalScan(
          tables(driving), col(p.watermarkColumn), lit(wm),
          inclusive = p.watermarkInclusive)))
      }
      val n = trace.span("sink.merge", runId) {
        if (p.dateColumns.isEmpty)
          UpsertWriter.upsert(spark, fact, s"$wh/${p.name}", p.factKeys)
        else {
          fact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try UpsertWriter.upsertAll(spark, Seq(
            (fact, s"$wh/${p.name}", p.factKeys),
            (DimTime.derive(fact, p.dateColumns), s"$wh/dim-time",
              Seq("cal_date")))).head
          finally fact.unpersist()
        }
      }
      trace.span("control.append", runId)(control.logRun(p.name, start,
        new Timestamp(System.currentTimeMillis()), "Successful"))
      graft.ops.materialize.releaseAll()
      (n, wm)
    }
}

object Nightly {
  /** Tables the pipeline source builders read. */
  val InputTables: Set[String] = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  val BaseInstant: Timestamp = Timestamp.valueOf("2020-06-01 00:00:00")
  private val WatermarkRe = "\"watermark\":\"([^\"]*)\"".r

  val builders: Map[Pipeline, (SparkSession, String) => Map[String, DataFrame]] =
    Map(
      PurchasingFact -> (PipelineQueries.purchasingSources _),
      GarmentPurchasingFact -> (PipelineQueries.garmentPurchasingSources _),
      ProductionOrderFact -> (PipelineQueries.productionOrderSources _),
      ProductionOrderStatusFact -> (PipelineQueries.productionOrderStatusSources _),
      SalesContractFact -> (PipelineQueries.salesContractSources _),
      ShipmentFact -> (PipelineQueries.shipmentSources _),
      PackingFact -> (PipelineQueries.packingSources _),
      PackingReceiptFact -> (PipelineQueries.packingReceiptSources _),
      InventoryMovementFact -> (PipelineQueries.inventoryMovementSources _),
      InventorySummaryFact -> (PipelineQueries.inventorySummarySources _),
      KanbanFact -> (PipelineQueries.kanbanSources _),
      DailyOperationFact -> (PipelineQueries.dailyOpSources _),
      FabricQCFact -> (PipelineQueries.fabricQcSources _),
      MonitoringEventFact -> (PipelineQueries.monitoringEventSources _),
      TotalHutangFact -> (PipelineQueries.totalHutangSources _),
      GarmentTotalHutangFact -> (PipelineQueries.garmentTotalHutangSources _),
      DealTrackingDealFact -> (PipelineQueries.dealTrackingDealSources _),
      DealTrackingActivityFact -> (PipelineQueries.dealTrackingActivitySources _),
      DealTrackingBoardFact -> (PipelineQueries.dealTrackingBoardSources _),
      DealTrackingStageFact -> (PipelineQueries.dealTrackingStageSources _),
      MigrationLogSync -> (PipelineQueries.migrationLogSources _))

  /** The DuckDB-oracled registry query that applies each pipeline's
    * transform to the same builders. */
  val registryQuery: Map[Pipeline, String] = Map(
    ProductionOrderFact -> "q62", TotalHutangFact -> "q63",
    GarmentTotalHutangFact -> "q77", SalesContractFact -> "q92",
    KanbanFact -> "q93", PurchasingFact -> "q95",
    GarmentPurchasingFact -> "q96", DailyOperationFact -> "q97",
    MonitoringEventFact -> "q99", ProductionOrderStatusFact -> "q100",
    FabricQCFact -> "q101", ShipmentFact -> "q102", PackingFact -> "q103",
    PackingReceiptFact -> "q104", InventoryMovementFact -> "q105",
    InventorySummaryFact -> "q106", DealTrackingDealFact -> "q107",
    DealTrackingActivityFact -> "q108", DealTrackingBoardFact -> "q109",
    DealTrackingStageFact -> "q110", MigrationLogSync -> "q112")
}
