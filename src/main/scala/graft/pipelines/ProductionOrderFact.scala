package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.functions.business.truthySwap

/**
 * Production-order fact pipeline — re-expression of the reference's
 * `ProductionOrder` pipeline (`/root/reference/ProductionOrder/run.js`):
 * a single-table incremental extract with a pure scalar transform —
 * T1 quote-swap on every free-text column, C6 truthiness gates,
 * D1 WIB date formatting, M2 quantity conversion (`run.js:96-105`) and
 * the T3 construction string (`run.js:107-113`, null when ANY part is
 * null). The reference calls `material.replace(...)` without a null
 * guard right after deriving material as possibly-null (`run.js:142` —
 * crash, SURVEY §5); the null-propagating [[business.constructionString]]
 * is the intended semantics.
 */
object ProductionOrderFact extends Pipeline {
  val name = "production-order-fact"
  val sources = Seq("productionOrders")
  val factKeys = Seq("production_order_no")
  // reference extracts >= the watermark (ProductionOrder/run.js:89)
  override val watermarkInclusive = true

  def transform(t: Map[String, DataFrame]): DataFrame = {
    val po = t("productionOrders")
    po.select(
      truthySwap(col("salesContractNo")).as("sales_contract_no"),
      truthySwap(col("orderNo")).as("production_order_no"),
      truthySwap(col("orderTypeName")).as("order_type"),
      truthySwap(col("processTypeName")).as("process_type"),
      truthySwap(col("materialName")).as("material"),
      truthySwap(col("materialConstructionName")).as("material_construction"),
      truthySwap(col("yarnMaterialName")).as("yarn_material_no"),
      truthySwap(col("materialWidth")).as("material_width"),
      business.nullIfFalsyNum(col("orderQuantity")).as("order_quantity"),
      truthySwap(col("uomUnit")).as("order_uom"),
      truthySwap(col("buyerName")).as("buyer"),
      truthySwap(col("buyerType")).as("buyer_type"),
      when(col("deliveryDate").isNotNull,
        date_format(business.wibTimestamp(col("deliveryDate")), "yyyy-MM-dd"))
        .as("delivery_date"),
      when(col("createdUtc").isNotNull,
        date_format(business.wibTimestamp(col("createdUtc")), "yyyy-MM-dd"))
        .as("created_date"),
      // M2, gated on the quantity being truthy (run.js:139)
      when(business.nullIfFalsyNum(col("orderQuantity")).isNotNull,
        business.orderQtyConversion(col("uomUnit"), col("orderQuantity")))
        .as("total_order_conversion"),
      // T3: null if ANY of the four parts is null (run.js:107-113)
      business.constructionString(business.quoteSwap(col("materialName")),
        business.quoteSwap(col("materialConstructionName")),
        business.quoteSwap(col("yarnMaterialName")),
        business.quoteSwap(col("materialWidth"))).as("construction"),
      truthySwap(col("buyerCode")).as("buyer_code"),
      col("isDeleted").cast("string").as("deleted"),
      truthySwap(col("accountUserName")).as("username"),
      col("isClosed").cast("string").as("is_closed"))
  }
}
