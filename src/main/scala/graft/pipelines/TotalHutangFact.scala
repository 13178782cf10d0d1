package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.ops.relational

/**
 * Accounts-payable ("total hutang") fact pipeline — re-expression of the
 * reference's `TotalHutang` pipeline (`/root/reference/TotalHutang/run.js`):
 *
 *  - incremental extract of unit receipt notes, soft-delete filtered,
 *    test users excluded via SQL `not in` (`run.js:75` — SQL semantics,
 *    so a NULL creator is dropped, unlike the app-side P4 sites);
 *  - URN items resolved through the EPO document chain
 *    (`run.js:94-105`, J2) — one row per item, URNs with no items
 *    disappear (the reference maps over `items`);
 *  - unit payment order looked up per URN keeping the first match
 *    (`run.js:118-146`, J6);
 *  - the inline category-type variant: `lower(name) === "bahan baku"`
 *    (`run.js:164` — T4 + C3);
 *  - M1 total = price × qty × currency rate (`run.js:170`);
 *  - A5: the reference emits its running insert counter as the FIRST
 *    staging column (`run.js:205-217`, `SELECT ${count}, ...`) — here a
 *    deterministic `row_number` over the output ordering (the
 *    reference's counter order is extract order, which is unspecified;
 *    an explicit ordering is the only reproducible reading).
 */
object TotalHutangFact extends Pipeline {
  val name = "total-hutang-fact"
  val sources = Seq("unitReceiptNotes", "urnItems", "unitPaymentOrders")
  val factKeys = Seq("row_id")

  /** The A5 counter is [[relational.contiguousRowNumber]], which picks
    * its in-memory or keys-only branch from Catalyst size estimates, so
    * a 100 TB backfill gets the spill-regime form without the caller
    * knowing the crossover exists. Pin the choice with
    * `spark.graft.counter.sortBudgetBytes`. */
  def transform(t: Map[String, DataFrame]): DataFrame = {
    // SQL-side `not in` (run.js:75): NULL createdby does NOT survive
    val urns = t("unitReceiptNotes")
      .filter(!col("isDeleted") &&
        col("createdBy").isNotNull &&
        !col("createdBy").isin("dev", "unit-test"))
      .select(col("id").as("urn_id"), col("urnNo").as("urn_no"),
        col("unitName").as("urn_unit_name"))

    val items = t("urnItems").select(col("urnId").as("urn_id"),
      col("pricePerDealUnit").as("i_price"),
      col("deliveredQuantity").as("i_qty"),
      col("currencyRate").as("i_rate"),
      col("productName").as("i_product_name"),
      col("productCode").as("i_product_code"))

    val upo = t("unitPaymentOrders").select(col("urnId").as("urn_id"),
      col("upoNo").as("upo_no"), col("date").as("upo_date"),
      col("dueDate").as("upo_due_date"),
      col("supplierName").as("upo_supplier"),
      col("categoryName").as("upo_category"),
      col("divisionName").as("upo_division"))

    val joined = relational.keepFirstMatch(
      urns.join(items, Seq("urn_id")), // inner: no items → no rows
      upo, Seq("urn_id"), Seq(col("upo_no")))

    val hasUpo = col("upo_no").isNotNull

    val projected = joined.select(
      when(hasUpo, col("upo_no")).as("upo_no"),
      when(hasUpo, date_format(business.wibTimestamp(col("upo_date")),
        "yyyy-MM-dd")).as("upo_date"),
      when(hasUpo, date_format(business.wibTimestamp(col("upo_due_date")),
        "yyyy-MM-dd")).as("upo_due_date"),
      when(hasUpo, business.quoteSwap(col("upo_supplier")))
        .as("supplier_name"),
      when(hasUpo, col("upo_category")).as("category_name"),
      // T4+C3 inline variant (run.js:164)
      when(hasUpo, when(lower(col("upo_category")) === "bahan baku",
        "BAHAN BAKU").otherwise("NON BAHAN BAKU")).as("category_type"),
      when(hasUpo, col("upo_division")).as("division_name"),
      col("urn_unit_name").as("unit_name"),
      col("i_price").as("invoice_price"),
      col("i_qty").as("urn_quantity"),
      col("i_rate").as("currency_rate"),
      // M1 (run.js:170)
      business.totalPrice(col("i_qty"), col("i_price"), col("i_rate"))
        .as("total"),
      col("urn_no").as("urn_no"),
      business.quoteSwap(col("i_product_name")).as("product_name"),
      col("i_product_code").as("product_code"))

    // A5: counter-as-first-column, deterministic ordering. The scale-safe
    // range-bucketed counter (bit-parity with the single-reducer window
    // proven in RelationalOpsSpec) is the DEFAULT — a backfill through this
    // pipeline must not move every row to one reducer. The faithful-but-
    // single-reducer `row_number().over(Window.orderBy(...))` form remains
    // only as the documented nightly-delta shortcut; if the surrogate only
    // needs uniqueness, `monotonically_increasing_id()` is shuffle-free.
    relational.contiguousRowNumber(projected,
        Seq(col("urn_no"), col("product_code"), col("invoice_price")),
        "row_id")
      .select(col("row_id") +: projected.columns.map(col): _*)
  }
}
