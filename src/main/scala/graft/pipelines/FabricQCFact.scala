package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.functions.business.truthySwap

/**
 * Fabric-QC fact pipeline — re-expression of the reference's `FabricQC`
 * pipeline (`/root/reference/FabricQC/run.js`):
 *
 *  - three-level fan-out (`run.js:82-124`, J6→J5/U3): quality control →
 *    grade tests (per QC id) → criteria (per test id). The reference
 *    maps over each level's array, so a QC with no tests — or a test
 *    with no criteria — contributes NOTHING: inner joins;
 *  - A4 weighted score per criterion row (`run.js:120-124`): each score
 *    term counts only when it is ≥ 0 AND the test's point system is 10;
 *    the total adds the gated terms with JS `null + n = n` semantics;
 *  - the C6 numeric-gate DIALECTS, encoded per column exactly as
 *    written (`run.js:126-166`): `>= 0 && !== ''` keeps zero
 *    (width, aval/final/sample length, criteria scores) while
 *    `>= 0 && x` drops zero (init length, order quantity, point
 *    system);
 *  - T1 quote-swap on every free-text column.
 *
 * The reference's `OFFSET 900 FETCH NEXT 50` pagination
 * (`run.js:75-77`) is a function-timeout workaround with no Spark
 * equivalent — a partitioned scan replaces it (SURVEY §2.1 S4).
 */
object FabricQCFact extends Pipeline {
  val name = "fabric-qc-fact"
  val sources = Seq("fabricQCs", "fabricGradeTests", "criteria")
  val factKeys = Seq("qc_code", "pcs_no", "criteria_code")
  // reference extracts >= the watermark (FabricQC/run.js:74)
  override val watermarkInclusive = true

  /** `x >= 0 && x !== '' && x != null` — zero SURVIVES (run.js:143). */
  private def gateNumKeepZero(c: Column): Column =
    when(c.isNotNull && c >= 0, c)

  /** `x >= 0 && x` — JS truthiness drops zero (run.js:144). */
  private def gateNumDropZero(c: Column): Column =
    when(c.isNotNull && c >= 0 && c =!= 0, c)

  def transform(t: Map[String, DataFrame]): DataFrame = {
    val qc = t("fabricQCs").select(col("id").as("qc_id"),
      col("code").as("qc_code_raw"), col("pointSystem").as("qc_point_system"),
      col("dateIm").as("qc_date"), col("shiftIm").as("qc_shift"),
      col("group").as("qc_group"), col("operatorIm").as("qc_operator"),
      col("machineNoIm").as("qc_machine_no"),
      col("productionOrderNo").as("qc_po_no"),
      col("productionOrderType").as("qc_po_type"),
      col("kanbanCode").as("qc_kanban_code"), col("cartNo").as("qc_cart_no"),
      col("buyer").as("qc_buyer"), col("orderQuantity").as("qc_order_qty"),
      col("color").as("qc_color"), col("construction").as("qc_construction"),
      col("packingInstruction").as("qc_packing"), col("uom").as("qc_uom"),
      col("isDeleted").as("qc_deleted"), col("isUsed").as("qc_used"))
    val gt = t("fabricGradeTests").select(col("fabricQualityControlId")
        .as("qc_id"), col("id").as("test_id"), col("type").as("t_type"),
      col("pcsNo").as("t_pcs_no"), col("grade").as("t_grade"),
      col("width").as("t_width"), col("initLength").as("t_init_length"),
      col("avalLength").as("t_aval_length"),
      col("finalLength").as("t_final_length"),
      col("sampleLength").as("t_sample_length"),
      col("fabricGradeTest").as("t_fabric_grade"),
      col("finalGradeTest").as("t_final_grade"), col("score").as("t_score"),
      col("finalScore").as("t_final_score"),
      col("pointSystem").as("t_point_system"),
      col("pointLimit").as("t_point_limit"))
    val cr = t("criteria").select(col("fabricGradeTestId").as("test_id"),
      col("code").as("c_code"), col("group").as("c_group"),
      col("name").as("c_name"), col("scoreA").as("c_a"),
      col("scoreB").as("c_b"), col("scoreC").as("c_c"),
      col("scoreD").as("c_d"))

    // inner ×2: empty children at either level produce no rows
    val fanned = qc.join(gt, Seq("qc_id")).join(cr, Seq("test_id"))

    // A4: per-term gate `score >= 0 && pointSystem === 10`, then a JS
    // `null + n = n` sum (run.js:120-124)
    val ps10 = col("t_point_system") === 10
    val a = when(col("c_a") >= 0 && ps10, col("c_a") * 1)
    val b = when(col("c_b") >= 0 && ps10, col("c_b") * 3)
    val c = when(col("c_c") >= 0 && ps10, col("c_c") * 5)
    val d = when(col("c_d") >= 0 && ps10, col("c_d") * 10)
    val total = coalesce(a, lit(0)) + coalesce(b, lit(0)) +
      coalesce(c, lit(0)) + coalesce(d, lit(0))

    fanned.select(
      truthySwap(col("qc_code_raw")).as("qc_code"),
      gateNumDropZero(col("qc_point_system")).cast("string")
        .as("qc_point_system"),
      when(col("qc_date").isNotNull,
        date_format(business.wibTimestamp(col("qc_date")), "yyyy-MM-dd"))
        .as("date_im"),
      truthySwap(col("qc_shift")).as("shift_im"),
      truthySwap(col("qc_group")).as("group_im"),
      truthySwap(col("qc_operator")).as("operator_im"),
      truthySwap(col("qc_machine_no")).as("machine_no_im"),
      truthySwap(col("qc_po_no")).as("production_order_no"),
      truthySwap(col("qc_po_type")).as("production_order_type"),
      truthySwap(col("qc_kanban_code")).as("kanban_code"),
      truthySwap(col("qc_cart_no")).as("cart_no"),
      truthySwap(col("qc_buyer")).as("buyer"),
      gateNumDropZero(col("qc_order_qty")).as("order_quantity"),
      truthySwap(col("qc_color")).as("color"),
      truthySwap(col("qc_construction")).as("construction"),
      truthySwap(col("qc_packing")).as("packing_instruction"),
      truthySwap(col("qc_uom")).as("uom"),
      truthySwap(col("t_type")).as("test_type"),
      truthySwap(col("t_pcs_no")).as("pcs_no"),
      truthySwap(col("t_grade")).as("grade"),
      gateNumKeepZero(col("t_width")).as("width"),
      gateNumDropZero(col("t_init_length")).as("init_length"),
      gateNumKeepZero(col("t_aval_length")).as("aval_length"),
      gateNumKeepZero(col("t_final_length")).as("final_length"),
      gateNumKeepZero(col("t_sample_length")).as("sample_length"),
      gateNumKeepZero(col("t_fabric_grade")).as("fabric_grade_test"),
      gateNumKeepZero(col("t_final_grade")).as("final_grade_test"),
      gateNumKeepZero(col("t_score")).as("score"),
      gateNumKeepZero(col("t_final_score")).as("final_score"),
      gateNumKeepZero(col("t_point_system")).as("point_system"),
      truthySwap(col("c_code")).as("criteria_code"),
      truthySwap(col("c_group")).as("criteria_group"),
      truthySwap(col("c_name")).as("criteria_name"),
      gateNumKeepZero(col("c_a")).as("criteria_a"),
      gateNumKeepZero(col("c_b")).as("criteria_b"),
      gateNumKeepZero(col("c_c")).as("criteria_c"),
      gateNumKeepZero(col("c_d")).as("criteria_d"),
      total.as("total_score"),
      col("qc_deleted").cast("string").as("deleted"),
      col("qc_used").cast("string").as("is_used"),
      gateNumKeepZero(col("t_point_limit")).as("point_limit"))
  }
}
