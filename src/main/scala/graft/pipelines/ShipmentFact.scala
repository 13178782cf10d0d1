package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.functions.business.truthySwap

/**
 * Shipment-document fact — the deepest nesting shape in the reference
 * (`/root/reference/ShipmentDocument/run.js:144-152`): shipment →
 * details → items → packingReceiptItems assembled app-side into a
 * 4-level document, then flattened into fact rows.
 *
 * The reference's flatten loops each guard `child && child.length > 0`
 * (`run.js:163-169`) — a parent with NO children at ANY level emits
 * nothing, so the fact is the INNER 4-way join. Scalar layer
 * (`run.js:170-189`): truthiness-gated quote swap on every string; the
 * delivery date is formatted WITHOUT the +7h WIB shift (`run.js:180` —
 * the one date the reference leaves unshifted); `length`/`quantity`/
 * `weight` use the `!= undefined` dialect, so 0 SURVIVES (C6 variant);
 * `isVoid` is stringified unconditionally.
 *
 * Spark-first expression: the app-side nesting is never built; the fact
 * is a flat 4-way join + projection — one pass, no row-at-a-time loops.
 * The engine keeps the three child ids as extra fact columns so the
 * merge sink has a natural key (the reference's temp-table INSERT has
 * none).
 */
object ShipmentFact extends Pipeline {
  val name = "shipment-fact"
  val sources = Seq("shipments", "shipmentDetails", "shipmentItems",
    "packingReceiptItems")
  val factKeys = Seq("shipment_code", "detail_id", "item_id", "pri_id")

  def transform(t: Map[String, DataFrame]): DataFrame = {
    // reference loops skip empty child lists at every level → INNER
    val j = t("shipments")
      .join(t("shipmentDetails"), Seq("shipmentCode"))
      .join(t("shipmentItems"), Seq("detailId"))
      .join(t("packingReceiptItems"), Seq("itemId"))
    j.select(
      truthySwap(col("buyerCode")).as("buyer_code"),
      truthySwap(col("buyerName")).as("buyer_name"),
      truthySwap(col("buyerType")).as("buyer_type"),
      truthySwap(col("shipmentCode")).as("shipment_code"),
      // run.js:180 — formatted WITHOUT the WIB shift
      when(col("deliveryDate").isNotNull,
        date_format(col("deliveryDate"), "yyyy-MM-dd")).as("delivery_date"),
      col("isVoid").cast("string").as("is_void"),
      truthySwap(col("designCode")).as("design_code"),
      truthySwap(col("designNumber")).as("design_number"),
      truthySwap(col("productionOrderNo")).as("production_order_no"),
      truthySwap(col("productionOrderType")).as("production_order_type"),
      truthySwap(col("colorType")).as("color_type"),
      // `!= undefined` dialect (run.js:181,184,186): 0 survives
      col("length").as("length"),
      truthySwap(col("productCode")).as("product_code"),
      truthySwap(col("productName")).as("product_name"),
      col("quantity").as("quantity"),
      truthySwap(col("uomUnit")).as("uom_unit"),
      col("weight").as("weight"),
      col("detailId").as("detail_id"),
      col("itemId").as("item_id"),
      col("priId").as("pri_id"))
  }
}
