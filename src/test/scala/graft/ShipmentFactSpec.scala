package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipelines.ShipmentFact

class ShipmentFactSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fixtures: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "shipments" -> Seq(
        ("SH-1", ts("2020-01-05 00:00:00"), "buyer 'x'", "B-1", "export", false),
        ("SH-2", ts("2020-01-06 00:00:00"), "Other buyer", "B-2", "", true) // no details
      ).toDF("shipmentCode", "deliveryDate", "buyerName", "buyerCode",
        "buyerType", "isVoid"),
      "shipmentDetails" -> Seq(
        (101L, "SH-1", "DC-1", "DN-1", "printing"),
        (102L, "SH-1", "DC-2", "DN-2", "dyeing") // no items
      ).toDF("detailId", "shipmentCode", "designCode",
        "designNumber", "productionOrderType")
        .withColumn("productionOrderNo", concat(lit("PO'"), col("detailId"))),
      "shipmentItems" -> Seq(
        (1001L, 101L), (1002L, 101L)
      ).toDF("itemId", "detailId"),
      "packingReceiptItems" -> Seq(
        (9001L, 1001L, "col'1", 0.0, "P-1", "prod 1", 5.0, "MTR", 1.5),
        (9002L, 1001L, "", 2.0, "P-2", "prod 2", 0.0, "YDS", 0.0),
        (9003L, 1002L, "col3", 3.0, "P-3", "prod 3", 7.0, "MTR", 2.5)
      ).toDF("priId", "itemId", "colorType", "length", "productCode",
        "productName", "quantity", "uomUnit", "weight"))
  }

  test("transform drops parents without children (reference inner loops)") {
    val fact = ShipmentFact.transform(fixtures)
    val rows = fact.collect()
    // only the 3 full chains survive: SH-2 (no details) and the Silk
    // detail (no items) emit nothing (run.js:163-169)
    assert(rows.length === 3)
    assert(!rows.exists(_.getAs[String]("shipment_code") == "SH-2"))
    val byPri = rows.map(r => r.getAs[Long]("pri_id") -> r).toMap
    // T1 swap + truthiness gates
    assert(byPri(9001L).getAs[String]("buyer_name") === "buyer \"x\"")
    assert(byPri(9001L).getAs[String]("color_type") === "col\"1")
    assert(byPri(9002L).getAs[String]("color_type") === null) // "" gated
    // != undefined dialect: 0 survives on length/quantity/weight
    assert(byPri(9001L).getAs[Double]("length") === 0.0)
    assert(byPri(9002L).getAs[Double]("quantity") === 0.0)
    assert(byPri(9002L).getAs[Double]("weight") === 0.0)
    // the delivery date is NOT WIB-shifted (run.js:180)
    assert(byPri(9001L).getAs[String]("delivery_date") === "2020-01-05")
    assert(byPri(9001L).getAs[String]("is_void") === "false")
    assert(byPri(9001L).getAs[String]("production_order_no") === "PO\"101")
  }
}
