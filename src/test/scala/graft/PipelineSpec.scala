package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.control.WatermarkManager
import graft.pipelines.{PipelineRunner, PurchasingFact}
import graft.sink.UpsertWriter

class PipelineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The 10-table Pembelian document chain (plus currencies):
    *  - PR-1: full chain down to the unit payment order;
    *  - PR-2: chain stops at the EPO-item hop (left-join misses after);
    *  - PR-3: its internal PO was created by "dev" → the reference's
    *    WHERE inner-izes it away entirely;
    *  - PR-4: February row (incremental window), partial chain. */
  private def fixtures(upTo: String): Map[String, DataFrame] = {
    import spark.implicits._
    val prs = Seq(
      (1L, "PR-1", ts("2020-01-01 00:00:00"), ts("2020-01-10 00:00:00"),
        "B-1", "opex", "U-1", "weaving", "D-1", "textile", "C-1",
        "BAHAN BAKU", false, ts("2020-01-02 00:00:00")),
      (2L, "PR-2", ts("2020-01-05 00:00:00"), ts("2020-01-20 00:00:00"),
        "B-2", "capex", "U-2", "spinning", "D-1", "textile", "C-2",
        "SPAREPART", false, ts("2020-01-06 00:00:00")),
      (3L, "PR-3", ts("2020-02-01 00:00:00"), ts("2020-02-15 00:00:00"),
        "B-3", "opex", "U-1", "weaving", "D-1", "textile", "C-1",
        "BAHAN BAKU", true, ts("2020-02-02 00:00:00")),
      (4L, "PR-4", ts("2020-02-05 00:00:00"), ts("2020-02-25 00:00:00"),
        "B-4", "opex", "U-3", "finishing", "D-2", "garment", "C-3",
        "BAHAN BAKU", false, ts("2020-02-10 00:00:00"))
    ).toDF("id", "no", "createdUtc", "expectedDeliveryDate", "budgetCode",
      "budgetName", "unitCode", "unitName", "divisionCode", "divisionName",
      "categoryCode", "categoryName", "isDeleted", "lastmodifiedutc")
      .withColumn("createdBy", org.apache.spark.sql.functions.lit("staff"))
      .filter(org.apache.spark.sql.functions.col("lastmodifiedutc") <= ts(upTo))
    val ipos = Seq(
      (1L, 11L, "PO-1", "alice", ts("2020-01-04 00:00:00"), false, "PR-1",
        ts("2020-01-10 00:00:00")),
      (2L, 12L, "PO-2", "bob", ts("2020-01-08 00:00:00"), false, "PR-2",
        ts("2020-01-22 00:00:00")),
      (3L, 13L, "PO-3", "dev", ts("2020-02-03 00:00:00"), false, "PR-3",
        ts("2020-02-15 00:00:00")),
      (4L, 14L, "PO-4", "carol", ts("2020-02-08 00:00:00"), false, "PR-4",
        ts("2020-02-25 00:00:00"))
    ).toDF("prId", "id", "poNo", "createdBy", "createdUtc", "isDeleted",
      "prNo", "expectedDeliveryDate")
    val eis = Seq(
      (11L, 21L, 31L, false), (12L, 22L, 32L, false),
      (13L, 23L, 33L, false), (14L, 24L, 34L, false)
    ).toDF("poId", "id", "epoId", "isDeleted")
    val eds = Seq(
      (21L, "P-1", "fab'ric", 10.0, "MTR", 2.5)
    ).toDF("epoItemId", "productCode", "productName", "dealQuantity",
      "dealUomUnit", "pricePerDealUnit")
    val epos = Seq(
      (31L, ts("2020-01-06 00:00:00"), "EPO-1", "S-1", "o'brien textiles",
        501L, "USD", "CASH", 14000.0)
    ).toDF("id", "createdUtc", "epoNo", "supplierCode", "supplierName",
      "currencyId", "currencyCode", "paymentMethod", "currencyRate")
    val dois = Seq((31L, 41L)).toDF("epoId", "doId")
    val dos = Seq((41L, "DO-1", ts("2020-01-09 00:00:00")))
      .toDF("id", "doNo", "doDate")
    val urns = Seq((41L, 51L, "URN-1", ts("2020-01-11 00:00:00")))
      .toDF("doId", "id", "urnNo", "receiptDate")
    val upois = Seq((51L, 61L)).toDF("urnId", "upoId")
    val upos = Seq((61L, "UPO-1", ts("2020-01-15 00:00:00")))
      .toDF("id", "upoNo", "date")
    val currencies = Seq((501L, "US Dollar"), (502L, "Euro"))
      .toDF("id", "description")
    Map("purchaserequests" -> prs, "internalpurchaseorders" -> ipos,
      "epoItems" -> eis, "epoDetails" -> eds,
      "externalPurchaseOrders" -> epos, "doItems" -> dois,
      "deliveryOrders" -> dos, "unitReceiptNotes" -> urns,
      "upoItems" -> upois, "unitPaymentOrders" -> upos,
      "currencies" -> currencies)
  }

  test("PurchasingFact end-to-end: incremental run, merge, idempotence, watermark") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val control = new WatermarkManager(spark, s"$dir/control")
    val runner = new PipelineRunner(spark, control, s"$dir/warehouse")

    // first nightly run sees only January rows
    val n1 = runner.run(PurchasingFact, fixtures("2020-01-31 00:00:00"),
      Some(ts("2020-01-31 00:00:00")))
    assert(n1 === 2)
    val fact1 = spark.read.parquet(s"$dir/warehouse/purchasing-fact")
    val pr1 = fact1.filter("pr_no = 'PR-1'").collect().head
    // the full document chain resolved end to end
    assert(pr1.getAs[String]("po_no") === "PO-1")
    assert(pr1.getAs[String]("po_external_no") === "EPO-1")
    assert(pr1.getAs[String]("delivery_order_no") === "DO-1")
    assert(pr1.getAs[String]("unit_receipt_note_no") === "URN-1")
    assert(pr1.getAs[String]("unit_payment_order_no") === "UPO-1")
    // the seven lead times and their buckets
    assert(pr1.getAs[Int]("purchase_request_days") === 3)
    assert(pr1.getAs[String]("purchase_request_days_range") === "0-7 hari")
    assert(pr1.getAs[Int]("pr_po_external_days") === 5)
    assert(pr1.getAs[Int]("po_external_days") === 2)
    assert(pr1.getAs[Int]("delivery_order_days") === 3)
    assert(pr1.getAs[String]("delivery_order_days_range") === "0-30 hari")
    assert(pr1.getAs[Int]("unit_receipt_note_days") === 2)
    assert(pr1.getAs[Int]("unit_payment_order_days") === 4)
    assert(pr1.getAs[Int]("purchase_order_days") === 11)
    assert(pr1.getAs[String]("purchase_order_days_range") === "0-30 hari")
    assert(pr1.getAs[String]("category_type") === "BAHAN BAKU")
    // C5 on raw dates: DO on 01-09 vs promise 01-10 → on time
    assert(pr1.getAs[String]("ontime_status") === "Tepat Waktu")
    // rate rides the EPO; currency table contributes only the name
    assert(pr1.getAs[Double]("total_price") === 10.0 * 2.5 * 14000.0)
    assert(pr1.getAs[String]("currency_name") === "US Dollar")
    assert(pr1.getAs[String]("supplier_name") === "o\"brien textiles")
    assert(pr1.getAs[String]("product_name") === "fab\"ric")
    assert(pr1.getAs[String]("invoice_price") === "2.5")
    assert(pr1.getAs[String]("purchasing_staff_name") === "alice")
    assert(pr1.getAs[String]("pr_date") === "2020-01-01")
    // PR-2's chain dies at the EPO hop: downstream columns all null,
    // and the gated total price stays null (no price, no quantity)
    val pr2 = fact1.filter("pr_no = 'PR-2'").collect().head
    assert(pr2.getAs[String]("po_no") === "PO-2")
    assert(pr2.getAs[String]("po_external_no") === null)
    assert(pr2.getAs[String]("delivery_order_no") === null)
    assert(pr2.get(pr2.fieldIndex("total_price")) === null)
    assert(pr2.get(pr2.fieldIndex("pr_po_external_days")) === null)
    assert(pr2.getAs[String]("category_type") === "NON BAHAN BAKU")

    // watermark advanced to run-1 start: second run ingests only Feb
    // rows — PR-4 lands; PR-3's "dev"-created PO is inner-ized away
    val n2 = runner.run(PurchasingFact, fixtures("2020-03-01 00:00:00"),
      Some(ts("2020-03-01 00:00:00")))
    assert(n2 === 3)
    val fact2 = spark.read.parquet(s"$dir/warehouse/purchasing-fact")
    assert(fact2.filter("pr_no = 'PR-3'").count() === 0,
      "the reference's WHERE drops PRs whose internal PO was dev-created")
    assert(fact2.filter("pr_no = 'PR-4'").count() === 1)

    // idempotence: re-running the same window leaves no duplicates (MERGE)
    val n3 = runner.run(PurchasingFact, fixtures("2020-03-01 00:00:00"),
      Some(ts("2020-03-01 00:00:00")))
    assert(n3 === 3)
    assert(control.lastWatermark(PurchasingFact.name).after(control.epoch))
  }

  test("every job of a run is described <pipeline>:<phase>; the caller's " +
      "description is restored") {
    val dir = Files.createTempDirectory("graft-pipe-desc").toString
    val control = new WatermarkManager(spark, s"$dir/control")
    val runner = new PipelineRunner(spark, control, s"$dir/warehouse")
    val lake = graft.sources.ParquetConnector(s"$dir/lake")
    fixtures("2020-03-01 00:00:00").foreach { case (t, df) =>
      lake.write(df, t, org.apache.spark.sql.SaveMode.Overwrite)
    }
    val phases = Set("watermark", "transform", "merge", "append")
      .map(ph => s"${PurchasingFact.name}:$ph")
    val (after, jobs) = JobWatch(spark) {
      // a first run, a merging rerun and a failing run
      runner.run(PurchasingFact, lake.read(spark, _), Some(ts("2020-01-31 00:00:00")))
      runner.run(PurchasingFact, lake.read(spark, _), Some(ts("2020-03-01 00:00:00")))
      intercept[RuntimeException] {
        runner.run(PurchasingFact, _ => throw new RuntimeException("source down"))
      }
      spark.sparkContext.getLocalProperty("spark.job.description")
    }
    assert(after === JobWatch.Tag)
    assert(jobs.nonEmpty && jobs.forall(phases), jobs.distinct)
    Seq("watermark", "merge", "append").foreach(ph =>
      assert(jobs.contains(s"${PurchasingFact.name}:$ph"), jobs.distinct))
  }

  test("PipelineRunner logs failures without advancing the watermark") {
    val dir = Files.createTempDirectory("graft-pipe-fail").toString
    val control = new WatermarkManager(spark, s"$dir/control")
    val runner = new PipelineRunner(spark, control, s"$dir/warehouse")
    intercept[Exception] {
      runner.run(PurchasingFact, _ => throw new RuntimeException("source down"))
    }
    assert(control.lastWatermark(PurchasingFact.name) === control.epoch)
    assert(control.log.filter("status like 'Failed%'").count() === 1)
  }

  test("UpsertWriter replaces matched keys and keeps the rest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    UpsertWriter.upsert(spark,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, Seq("k"))
    UpsertWriter.upsert(spark,
      Seq((2, "B"), (3, "c")).toDF("k", "v"), dir, Seq("k"))
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }
}
