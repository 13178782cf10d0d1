package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.lit

import graft.control.WatermarkManager
import graft.runner.{Main, Pipelines, Serve}
import graft.sources.ParquetConnector

/** The operational entry point (`graft.runner.Main`) run exactly as an
  * operator would: `pembelian` by its reference alias, against parquet
  * fixture sources, twice — proving the full wiring (connector →
  * watermark → transform → MERGE → run log) and idempotence via the
  * control table. */
class RunnerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The pembelian 11-table fixture set, landed through ANY connector —
    * shared by the parquet and jdbc runner cases. */
  private def writePembelianFixtures(lake: graft.sources.Connector): Unit = {
    import spark.implicits._
    lake.write(Seq(
      (1L, "PR-1", ts("2020-01-01 00:00:00"), ts("2020-01-10 00:00:00"),
        "B-1", "opex", "U-1", "weaving", "D-1", "textile", "C-1",
        "BAHAN BAKU", false, ts("2020-01-02 00:00:00")),
      (2L, "PR-2", ts("2020-01-05 00:00:00"), ts("2020-01-20 00:00:00"),
        "B-2", "capex", "U-2", "spinning", "D-1", "textile", "C-2",
        "SPAREPART", false, ts("2020-01-06 00:00:00"))
    ).toDF("id", "no", "createdUtc", "expectedDeliveryDate", "budgetCode",
      "budgetName", "unitCode", "unitName", "divisionCode", "divisionName",
      "categoryCode", "categoryName", "isDeleted", "lastmodifiedutc")
      .withColumn("createdBy", lit("staff")),
      "purchaserequests", SaveMode.Overwrite)
    lake.write(Seq(
      (1L, 11L, "PO-1", "alice", ts("2020-01-04 00:00:00"), false, "PR-1",
        ts("2020-01-10 00:00:00")),
      (2L, 12L, "PO-2", "bob", ts("2020-01-08 00:00:00"), false, "PR-2",
        ts("2020-01-22 00:00:00"))
    ).toDF("prId", "id", "poNo", "createdBy", "createdUtc", "isDeleted",
      "prNo", "expectedDeliveryDate"), "internalpurchaseorders",
      SaveMode.Overwrite)
    lake.write(Seq((11L, 21L, 31L, false), (12L, 22L, 32L, false))
      .toDF("poId", "id", "epoId", "isDeleted"), "epoItems",
      SaveMode.Overwrite)
    lake.write(Seq((21L, "P-1", "fabric", 10.0, "MTR", 2.5))
      .toDF("epoItemId", "productCode", "productName", "dealQuantity",
        "dealUomUnit", "pricePerDealUnit"), "epoDetails", SaveMode.Overwrite)
    lake.write(Seq(
      (31L, ts("2020-01-06 00:00:00"), "EPO-1", "S-1", "supplier one",
        501L, "USD", "CASH", 14000.0)
    ).toDF("id", "createdUtc", "epoNo", "supplierCode", "supplierName",
      "currencyId", "currencyCode", "paymentMethod", "currencyRate"),
      "externalPurchaseOrders", SaveMode.Overwrite)
    lake.write(Seq((31L, 41L)).toDF("epoId", "doId"), "doItems",
      SaveMode.Overwrite)
    lake.write(Seq((41L, "DO-1", ts("2020-01-09 00:00:00")))
      .toDF("id", "doNo", "doDate"), "deliveryOrders", SaveMode.Overwrite)
    lake.write(Seq((41L, 51L, "URN-1", ts("2020-01-11 00:00:00")))
      .toDF("doId", "id", "urnNo", "receiptDate"), "unitReceiptNotes",
      SaveMode.Overwrite)
    lake.write(Seq((51L, 61L)).toDF("urnId", "upoId"), "upoItems",
      SaveMode.Overwrite)
    lake.write(Seq((61L, "UPO-1", ts("2020-01-15 00:00:00")))
      .toDF("id", "upoNo", "date"), "unitPaymentOrders", SaveMode.Overwrite)
    lake.write(Seq((501L, "US Dollar")).toDF("id", "description"),
      "currencies", SaveMode.Overwrite)
  }

  test("runner: pembelian twice over parquet fixtures, idempotent via control table") {
    val dir = Files.createTempDirectory("graft-runner").toString
    writePembelianFixtures(ParquetConnector(s"$dir/lake"))

    // the runner's stderr report of one invocation
    def invoke(): String = {
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      try Main.main(Array("pembelian",
        "--sources", s"$dir/lake", "--warehouse", s"$dir/dwh",
        "--control", s"$dir/dwh/control"))
      finally System.setErr(saved)
      err.toString("UTF-8")
    }
    val control = new WatermarkManager(spark, s"$dir/dwh/control")
    // the reported watermark is the one the control log now holds
    def assertReportedWatermark(report: String): Unit =
      assert(report.contains("[runner] purchasing-fact: OK") && report.contains(
        s"watermark=${control.lastWatermark("purchasing-fact")}"), report)

    assertReportedWatermark(invoke())
    val fact = spark.read.parquet(s"$dir/dwh/purchasing-fact")
    assert(fact.count() === 2)
    assert(fact.filter("pr_no = 'PR-1'").collect().head
      .getAs[Double]("total_price") === 10.0 * 2.5 * 14000.0)
    // S9: pembelian maintains the shared dim-time alongside the fact
    assert(spark.read.parquet(s"$dir/dwh/dim-time").count() > 0)

    // second invocation: watermark advanced past every fixture row, so
    // the incremental batch is empty and the fact must not change
    assertReportedWatermark(invoke())
    assert(spark.read.parquet(s"$dir/dwh/purchasing-fact").count() === 2)

    assert(control.log.filter("status = 'Successful'").count() === 2)
    assert(control.lastWatermark("purchasing-fact").after(control.epoch))
  }

  test("runner: pembelian through a jdbc: source, watermark pushed into the scan") {
    val dir = Files.createTempDirectory("graft-runner-jdbc").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val jdbc = graft.sources.JdbcConnector(url)
    // the reference's actual deployment shape: every source is a remote
    // SQL database (Pembelian/run.js:120-170) — here embedded Derby
    writePembelianFixtures(jdbc)

    val failures = Main.run(Array("pembelian", "--sources", url,
      "--warehouse", s"$dir/dwh", "--control", s"$dir/dwh/control"))
    assert(failures === 0)
    val fact = spark.read.parquet(s"$dir/dwh/purchasing-fact")
    assert(fact.count() === 2)
    assert(fact.filter("pr_no = 'PR-1'").collect().head
      .getAs[Double]("total_price") === 10.0 * 2.5 * 14000.0)

    // plan assert: the watermark predicate reaches the REMOTE scan as a
    // pushed JDBC filter — the engine ships `WHERE lastmodifiedutc > ?`
    // to the database exactly like the reference's extract SQL, instead
    // of pulling the whole table and filtering in Spark
    val scan = graft.ops.relational.incrementalScan(
      jdbc.read(spark, "purchaserequests"),
      org.apache.spark.sql.functions.col("lastmodifiedutc"),
      org.apache.spark.sql.functions.lit(ts("2020-01-03 00:00:00")))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThan(lastmodifiedutc"), plan)
    // and the pushed scan returns exactly the newer row
    assert(scan.count() === 1)
  }

  test("runner: migration-log through the jsonl doc-store URI") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-runner-ds").toString
    graft.sources.JsonLinesConnector(s"$dir/mongo").write(Seq(
      ("fact-pembelian", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful"),
      ("fact-pembelian", ts("2024-01-02 00:00:00"), ts("2024-01-02 00:04:00"),
        "4.00 minutes", "success"),
      ("fact-kanban", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:09:00"),
        "9.00 minutes", "Failed: x")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", SaveMode.Overwrite)

    Main.main(Array("migration-log",
      "--sources", s"jsonl:$dir/mongo",
      "--warehouse", s"$dir/dwh", "--control", s"$dir/dwh/control"))
    val fact = spark.read.parquet(s"$dir/dwh/migration-log-sync")
      .collect().map(r => r.getAs[String]("description") ->
        r.getAs[java.sql.Timestamp]("finish")).toMap
    // latest successful run per pipeline; failures never surface
    assert(fact === Map("fact-pembelian" -> ts("2024-01-02 00:04:00")))
  }

  test("runner failure path: missing source logs a Failed row, nonzero count") {
    val dir = Files.createTempDirectory("graft-runner-fail").toString
    // empty lake: the pipeline's source table does not exist
    val failures = Main.run(Array("pembelian",
      "--sources", s"$dir/empty-lake",
      "--warehouse", s"$dir/dwh", "--control", s"$dir/dwh/control"))
    assert(failures === 1)
    val control = new WatermarkManager(spark, s"$dir/dwh/control")
    assert(control.log.filter("status like 'Failed%'").count() === 1)
    // the watermark never advanced — the next run still sees everything
    assert(control.lastWatermark("purchasing-fact") === control.epoch)
  }

  test("pipeline registry: every engine pipeline addressable, aliases resolve") {
    assert(Pipelines.all.map(_.name).distinct.size === Pipelines.all.size)
    assert(Pipelines.byName("pembelian").name === "purchasing-fact")
    assert(Pipelines.byName("total-hutang-fact").name === "total-hutang-fact")
    Pipelines.aliases.values.foreach(v =>
      assert(Pipelines.all.exists(_.name == v), s"alias target $v missing"))
    intercept[IllegalArgumentException](Pipelines.byName("nope"))
  }

  test("runner flags fail naming the flag and its value") {
    def msg(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    // every check fails while parsing, before any session or server starts
    assert(msg(Main.run(Array("pembelian", "--cpus", "four"))) ===
      "invalid value 'four' for --cpus")
    assert(msg(Main.run(Array("pembelian", "--start-at", "today"))) ===
      "invalid value 'today' for --start-at")
    assert(msg(Main.run(Array("pembelian", "--cpus"))) ===
      "--cpus needs a value")
    assert(msg(Main.run(Array("pembelian", "--bogus")))
      .startsWith("unknown flag '--bogus'"))
    for ((flag, bad) <- Seq("--port" -> "80x", "--cpus" -> "",
        "--timeout" -> "1.5", "--every" -> "soon"))
      assert(msg(Serve.main(Array(flag, bad, "pembelian"))) ===
        s"invalid value '$bad' for $flag")
    assert(msg(Serve.main(Array("--port", "1", "--timeout"))) ===
      "--timeout needs a value")
    assert(msg(Main.parseFlag("SPARK_GRAFT_CPUS", "4x")(_.toInt)) ===
      "invalid value '4x' for SPARK_GRAFT_CPUS")
  }
}
