package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.functions.business.truthySwap

/**
 * Packing fact pipeline — re-expression of the reference's `Packing`
 * pipeline (`/root/reference/Packing/run.js`): packings ⟕
 * packingdetails pushed into source SQL (`run.js:107`, J2), then a
 * scalar transform with T1 quote-swaps, C6 gates and M4 zero-defaults
 * on weight/length/quantity (`run.js:151-153` — null AND 0 both emit 0).
 */
object PackingFact extends Pipeline {
  val name = "packing-fact"
  val sources = Seq("packings", "packingDetails")
  val factKeys = Seq("code", "lot", "grade")
  // reference extracts >= the watermark (Packing/run.js:108)
  override val watermarkInclusive = true

  private def g(c: Column): Column = business.nullIfFalsyStr(c)

  def transform(t: Map[String, DataFrame]): DataFrame = {
    val p = t("packings").withColumn("p_id", col("id"))
    val pd = t("packingDetails").select(col("packingId").as("p_id"),
      col("lot"), col("grade"), col("weight"), col("length"),
      col("quantity"), col("remark"))
    p.join(pd, Seq("p_id"), "left").select(
      col("isDeleted").cast("string").as("deleted"),
      g(col("createdBy")).as("created_by"),
      when(col("createdUtc").isNotNull,
        date_format(business.wibTimestamp(col("createdUtc")), "yyyy-MM-dd"))
        .as("created_date"),
      g(col("code")).as("code"),
      when(business.nullIfFalsyNum(col("productionOrderId")).isNotNull,
        col("productionOrderId").cast("string")).as("production_order_id"),
      g(col("productionOrderNo")).as("production_order_no"),
      g(col("orderType")).as("order_type"),
      g(col("salesContractNo")).as("sales_contract_no"),
      truthySwap(col("designCode")).as("design_code"),
      truthySwap(col("designNumber")).as("design_number"),
      // run.js:131-134 — ids stringified, code/type unswapped
      when(business.nullIfFalsyNum(col("buyerId")).isNotNull,
        col("buyerId").cast("string")).as("buyer_id"),
      g(col("buyerCode")).as("buyer_code"),
      truthySwap(col("buyerName")).as("buyer_name"),
      truthySwap(col("buyerAddress")).as("buyer_address"),
      g(col("buyerType")).as("buyer_type"),
      when(col("date").isNotNull,
        date_format(business.wibTimestamp(col("date")), "yyyy-MM-dd"))
        .as("date"),
      g(col("packingUom")).as("packing_uom"),
      truthySwap(col("colorCode")).as("color_code"),
      truthySwap(col("colorName")).as("color_name"),
      truthySwap(col("colorType")).as("color_type"),
      // run.js:141-146 — the material block
      when(business.nullIfFalsyNum(col("materialConstructionFinishId"))
        .isNotNull, col("materialConstructionFinishId").cast("string"))
        .as("material_construction_finish_id"),
      truthySwap(col("materialConstructionFinishName"))
        .as("material_construction_finish_name"),
      when(business.nullIfFalsyNum(col("materialId")).isNotNull,
        col("materialId").cast("string")).as("material_id"),
      truthySwap(col("material")).as("material"),
      truthySwap(col("materialWidthFinish")).as("material_width_finish"),
      truthySwap(col("construction")).as("construction"),
      truthySwap(col("deliveryType")).as("delivery_type"),
      truthySwap(col("finishedProductType")).as("finished_product_type"),
      truthySwap(col("motif")).as("motif"),
      truthySwap(col("lot")).as("lot"),
      truthySwap(col("grade")).as("grade"),
      // M4: `x ? x : 0` (run.js:151-153)
      coalesce(business.nullIfFalsyNum(col("weight")), lit(0)).as("weight"),
      coalesce(business.nullIfFalsyNum(col("length")), lit(0)).as("length"),
      coalesce(business.nullIfFalsyNum(col("quantity")), lit(0))
        .as("quantity"),
      truthySwap(col("remark")).as("remark"),
      truthySwap(col("status")).as("status"),
      col("accepted").cast("string").as("accepted"),
      col("declined").cast("string").as("declined"))
  }
}

/**
 * Packing-receipt fact pipeline — re-expression of the reference's
 * `PackingReceipt` pipeline (`/root/reference/PackingReceipt/run.js`):
 * receipts one-to-many joined to their items app-side
 * (`run.js:121-123`, J5/P6). A receipt with NO items returns
 * `undefined` from the transform and is dropped (`run.js:130-131`) —
 * an inner join. Item quantity/length/weight are emitted as quoted
 * strings gated on truthiness (`run.js:157-159`, T5+C6).
 */
object PackingReceiptFact extends Pipeline {
  val name = "packing-receipt-fact"
  val sources = Seq("packingReceipts", "packingReceiptItems")
  val factKeys = Seq("code", "product")

  private def g(c: Column): Column = business.nullIfFalsyStr(c)

  def transform(t: Map[String, DataFrame]): DataFrame = {
    val r = t("packingReceipts").withColumn("pr_id", col("id"))
    val items = t("packingReceiptItems")
      .select(col("packingReceiptId").as("pr_id"),
        col("product"), col("quantity").as("i_qty"),
        col("length").as("i_len"), col("weight").as("i_wgt"))
    r.join(items, Seq("pr_id")).select( // inner: no items → no rows
      col("isDeleted").cast("string").as("deleted"),
      g(col("code")).as("code"),
      when(col("date").isNotNull,
        date_format(business.wibTimestamp(col("date")), "yyyy-MM-dd"))
        .as("date"),
      g(col("packingCode")).as("packing_code"),
      col("accepted").cast("string").as("accepted"),
      col("declined").cast("string").as("declined"),
      g(col("referenceNo")).as("reference_no"),
      g(col("referenceType")).as("reference_type"),
      truthySwap(col("type")).as("type"),
      g(col("productionOrderNo")).as("production_order_no"),
      truthySwap(col("buyer")).as("buyer"),
      truthySwap(col("colorName")).as("color_name"),
      truthySwap(col("construction")).as("construction"),
      truthySwap(col("packingUom")).as("packing_uom"),
      truthySwap(col("orderType")).as("order_type"),
      truthySwap(col("colorType")).as("color_type"),
      g(col("designCode")).as("design_code"),
      truthySwap(col("designNumber")).as("design_number"),
      truthySwap(col("product")).as("product"),
      // T5: numerics as quoted strings, truthiness-gated (run.js:157-159)
      business.nullIfFalsyNum(col("i_qty")).cast("string").as("quantity"),
      business.nullIfFalsyNum(col("i_len")).cast("string").as("length"),
      business.nullIfFalsyNum(col("i_wgt")).cast("string").as("weight"))
  }
}

/**
 * Inventory-movement fact pipeline
 * (`/root/reference/InventoryMovement/run.js`): single-table scalar
 * transform — T1 quote-swaps, C6 gates, D1 WIB date; quantity /
 * before / after pass through ungated (`run.js:98,112-113`).
 */
object InventoryMovementFact extends Pipeline {
  val name = "inventory-movement-fact"
  val sources = Seq("inventoryMovements")
  override val watermarkColumn = "_lastmodifiedutc"
  val factKeys = Seq("code", "date")

  def transform(t: Map[String, DataFrame]): DataFrame =
    t("inventoryMovements").select(
      truthySwap(col("storageCode")).as("storage_code"),
      truthySwap(col("storageName")).as("storage_name"),
      when(col("date").isNotNull,
        date_format(business.wibTimestamp(col("date")), "yyyy-MM-dd"))
        .as("date"),
      col("quantity").as("quantity"),
      business.nullIfFalsyStr(col("type")).as("status"),
      truthySwap(col("productCode")).as("product_code"),
      truthySwap(col("productName")).as("product_name"),
      truthySwap(col("uom")).as("uom"),
      col("_deleted").cast("string").as("deleted"),
      truthySwap(col("code")).as("code"),
      truthySwap(col("referenceNo")).as("reference_no"),
      truthySwap(col("referenceType")).as("reference_type"),
      col("before").as("before"),
      col("after").as("after"),
      truthySwap(col("remark")).as("remark"))
}

/**
 * Inventory-summary fact pipeline
 * (`/root/reference/InventorySummaries/run.js`): the smallest pipeline —
 * single-table scalar transform, T1+C6 only.
 */
object InventorySummaryFact extends Pipeline {
  val name = "inventory-summary-fact"
  val sources = Seq("inventorySummaries")
  override val watermarkColumn = "_lastmodifiedutc"
  val factKeys = Seq("code")

  def transform(t: Map[String, DataFrame]): DataFrame =
    t("inventorySummaries").select(
      truthySwap(col("storageCode")).as("storage_code"),
      truthySwap(col("storageName")).as("storage_name"),
      col("quantity").as("quantity"),
      truthySwap(col("productCode")).as("product_code"),
      truthySwap(col("productName")).as("product_name"),
      truthySwap(col("uom")).as("uom"),
      col("_deleted").cast("string").as("deleted"),
      truthySwap(col("code")).as("code"))
}
