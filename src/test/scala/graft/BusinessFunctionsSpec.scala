package graft

import org.apache.spark.sql.functions._

import graft.functions.business

class BusinessFunctionsSpec extends SparkSpec {

  private def evalOn[A](rows: Seq[A], f: org.apache.spark.sql.Column)(
      implicit enc: org.apache.spark.sql.Encoder[A]): Seq[Any] = {
    import spark.implicits._
    rows.toDS().toDF("v").select(f.as("r")).collect().map(r => r.get(0)).toSeq
  }

  test("monthBucket covers the reference's day ranges (Pembelian/run.js:65-75)") {
    val got = evalOn(Seq(0, 30, 31, 60, 61, 90, 91, 10000),
      business.monthBucket(col("v")))(spark.implicits.newIntEncoder)
    assert(got === Seq("0-30 hari", "0-30 hari", "31-60 hari", "31-60 hari",
      "61-90 hari", "61-90 hari", ">90 hari", ">90 hari"))
  }

  test("weekBucket boundaries (Pembelian/run.js:77-87)") {
    val got = evalOn(Seq(7, 8, 14, 15, 30, 31),
      business.weekBucket(col("v")))(spark.implicits.newIntEncoder)
    assert(got === Seq("0-7 hari", "8-14 hari", "8-14 hari", "15-30 hari",
      "15-30 hari", ">30 hari"))
  }

  test("bucketing functions are total over Int (edge values)") {
    val edges = Seq(Int.MinValue, -1, 0, 1, 30, 31, 90, 91, Int.MaxValue)
    val got = evalOn(edges, business.monthBucket(col("v")))(
      spark.implicits.newIntEncoder)
    assert(got.forall(r =>
      Seq("0-30 hari", "31-60 hari", "61-90 hari", ">90 hari").contains(r)))
  }

  test("orderQtyConversion: yard/yds → metres, else identity (ProductionOrder/run.js:97-105)") {
    import spark.implicits._
    val df = Seq(("YARD", 10.0), ("yds", 1.0), ("MTR", 7.0), ("pcs", 3.0))
      .toDF("uom", "qty")
    val got = df.select(business.orderQtyConversion(col("uom"), col("qty")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(9.144, 0.9144, 7.0, 3.0))
  }

  test("validDate repairs pre-1753 years only (Pembelian/run.js:108-118)") {
    import spark.implicits._
    val df = Seq("1700-05-20", "1995-05-20").toDF("v")
      .select(business.validDate(col("v").cast("timestamp"), lit(2020))
        .cast("date").cast("string").as("r"))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq("2020-05-20", "1995-05-20"))
  }

  test("constructionString nulls out when ANY part is null (ProductionOrder/run.js:107-113)") {
    import spark.implicits._
    val df = Seq(("a", "b"), ("a", null)).toDF("x", "y")
    val got = df.select(business.constructionString(col("x"), col("y")))
      .collect().map(r => Option(r.get(0))).toSeq
    assert(got === Seq(Some("a b"), None))
  }

  test("nullIfFalsy variants map 0/''/false/null to NULL, keep others (C6)") {
    import spark.implicits._
    val dfs = Seq("x", "", null).toDF("v")
      .select(business.nullIfFalsyStr(col("v")))
    assert(dfs.collect().map(r => Option(r.get(0))).toSeq ===
      Seq(Some("x"), None, None))
    val dfi = Seq(5, 0).toDF("v").select(business.nullIfFalsyNum(col("v")))
    assert(dfi.collect().map(r => Option(r.get(0))).toSeq ===
      Seq(Some(5), None))
  }

  test("weightedScore treats nulls as zero (FabricQC/run.js:120-124)") {
    import spark.implicits._
    val df = Seq((Some(1), None: Option[Int], Some(2), Some(1)))
      .toDF("a", "b", "c", "d")
    val got = df.select(business.weightedScore(col("a"), col("b"), col("c"),
      col("d"))).collect().head.getInt(0)
    assert(got === 1 * 1 + 0 * 3 + 2 * 5 + 1 * 10)
  }

  test("onTimeStatus day-floors before diffing (Pembelian/run.js:97-106)") {
    import spark.implicits._
    val df = Seq(
      ("2020-01-10 23:59:00", "2020-01-10 00:00:00"), // same day → on time
      ("2020-01-11 00:00:01", "2020-01-10 00:00:00")  // next day → late
    ).toDF("del", "due")
    val got = df.select(business.onTimeStatus(
      col("del").cast("timestamp"), col("due").cast("timestamp")))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("Tepat Waktu", "Tidak Tepat Waktu"))
  }
}
