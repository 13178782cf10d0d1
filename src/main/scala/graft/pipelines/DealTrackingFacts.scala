package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.business
import graft.functions.business.truthySwap
import graft.ops.relational

/**
 * The four CRM ("deal tracking") fact pipelines
 * (`/root/reference/DealTracking{Deal,Activity,Board,Stage}/run.js`).
 * All four share the scalar shape: T5 id-toString, T1 quote-swap, C6
 * gates (including the `!= undefined` dialect on `quantity`/`status`),
 * D1 WIB formatting.
 */
object DealTrackingDealFact extends Pipeline {
  val name = "deal-tracking-deal-fact"
  val sources = Seq("deals", "companies")
  val factKeys = Seq("id")

  /** deals ⟕ companies for the city (`DealTrackingDeal/run.js:86`, J2).
    * The reference then reads `item.contact.lastName` on rows that only
    * carry `contactName` (`run.js:109` — throws whenever contactName is
    * non-null, SURVEY §5); the intended plain `contactName` is used. */
  def transform(t: Map[String, DataFrame]): DataFrame = {
    val d = t("deals").withColumn("company_id", col("companyId"))
    val c = t("companies").select(col("id").as("company_id"),
      col("city").as("company_city"))
    d.join(c, Seq("company_id"), "left").select(
      col("isDeleted").cast("string").as("deleted"),
      col("id").cast("string").as("id"), // T5, ungated (run.js:100)
      truthySwap(col("code")).as("code"),
      date_format(business.wibTimestamp(col("createdUtc")), "yyyy-MM-dd")
        .as("created_date"), // ungated (run.js:102)
      col("createdBy").as("created_by"),
      truthySwap(col("name")).as("name"),
      col("amount").cast("string").as("amount"), // `'${item.amount}'`
      truthySwap(col("companyCode")).as("company_code"),
      truthySwap(col("companyName")).as("company_name"),
      truthySwap(col("company_city")).as("company_city"),
      truthySwap(col("contactCode")).as("contact_code"),
      truthySwap(col("contactName")).as("contact_name"),
      when(col("closeDate").isNotNull,
        date_format(business.wibTimestamp(col("closeDate")), "yyyy-MM-dd"))
        .as("close_date"),
      truthySwap(col("description")).as("description"),
      truthySwap(col("reason")).as("reason"),
      lit(null).cast("string").as("product_code"), // run.js:115-118
      lit(null).cast("string").as("product_name"),
      // `!= undefined` dialect: zero survives, as string (run.js:120)
      business.nullIfUndefined(col("quantity")).cast("string")
        .as("quantity"),
      truthySwap(col("uomUnit")).as("uom"))
  }
}

object DealTrackingActivityFact extends Pipeline {
  val name = "deal-tracking-activity-fact"
  val sources = Seq("activities")
  val factKeys = Seq("id")

  /** Single-table scalar transform (`DealTrackingActivity/run.js:91-110`).
    * The extract aliases `taskTitle` but the transform reads the
    * never-set `item.title` (`run.js:104` — the fact's title column is
    * always NULL in production, SURVEY §5); the intended `taskTitle` is
    * used here. `createdDate` keeps its full timestamp format
    * (`run.js:98` — the only DealTracking date with time). */
  def transform(t: Map[String, DataFrame]): DataFrame =
    t("activities").select(
      col("isDeleted").cast("string").as("deleted"),
      col("id").cast("string").as("id"),
      truthySwap(col("code")).as("code"),
      date_format(business.wibTimestamp(col("createdUtc")),
        "yyyy-MM-dd HH:mm:ss").as("created_date"),
      col("createdBy").as("created_by"),
      when(business.nullIfFalsyNum(col("dealId")).isNotNull,
        col("dealId").cast("string")).as("deal_id"),
      truthySwap(col("type")).as("type"),
      truthySwap(col("notes")).as("notes"),
      truthySwap(col("taskTitle")).as("title"),
      when(col("dueDate").isNotNull,
        date_format(business.wibTimestamp(col("dueDate")), "yyyy-MM-dd"))
        .as("due_date"),
      // `!= undefined`: false/empty survive as strings (run.js:105)
      business.nullIfUndefined(col("status")).cast("string").as("status"),
      when(business.nullIfFalsyNum(col("sourceStageId")).isNotNull,
        business.quoteSwap(col("sourceStageId").cast("string")))
        .as("source_stage_id"),
      when(business.nullIfFalsyNum(col("targetStageId")).isNotNull,
        business.quoteSwap(col("targetStageId").cast("string")))
        .as("target_stage_id"),
      truthySwap(col("assignedTo")).as("assigned_to"))
}

object DealTrackingBoardFact extends Pipeline {
  val name = "deal-tracking-board-fact"
  val sources = Seq("boards", "currencies")
  val factKeys = Seq("id")

  /** boards + J4 keep-first currency-rate lookup by code
    * (`DealTrackingBoard/run.js:107-112`); the rate is emitted as a
    * quoted string, truthiness-gated (`run.js:128`). */
  def transform(t: Map[String, DataFrame]): DataFrame = {
    val b = t("boards")
    val cur = t("currencies").select(col("code").as("currencyCode"),
      col("rate").as("currency_rate_raw"))
    relational.keepFirstMatch(b, cur, Seq("currencyCode"),
        Seq(col("currency_rate_raw").desc))
      .select(
        col("isDeleted").cast("string").as("deleted"),
        col("id").cast("string").as("id"),
        truthySwap(col("code")).as("code"),
        date_format(business.wibTimestamp(col("createdUtc")), "yyyy-MM-dd")
          .as("created_date"),
        col("createdBy").as("created_by"),
        truthySwap(col("title")).as("title"),
        truthySwap(col("currencyCode")).as("currency_code"),
        business.nullIfFalsyNum(col("currency_rate_raw")).cast("string")
          .as("currency_rate"),
        truthySwap(col("currencySymbol")).as("currency_symbol"))
  }
}

/**
 * Deal-tracking stage pipeline — the OTHER dual-sink case (S12,
 * `DealTrackingStage/run.js:171-217`): stages fact + stage↔deal map in
 * one transaction. The reference's map transform references bare
 * `stageId`/`id` variables that do not exist (`run.js:133-138` — the
 * map insert can never have worked, SURVEY §5); the intended
 * `item.stageId`/`item.id` semantics are implemented. Written through
 * [[graft.sink.UpsertWriter.upsertAll]] like DailyOperation.
 */
object DealTrackingStageFact extends Pipeline {
  val name = "deal-tracking-stage-fact"
  val sources = Seq("stages", "stageDeals")
  val factKeys = Seq("id")

  def transform(t: Map[String, DataFrame]): DataFrame =
    t("stages").select(
      col("isDeleted").cast("string").as("deleted"),
      col("id").cast("string").as("id"),
      truthySwap(col("code")).as("code"),
      date_format(business.wibTimestamp(col("createdUtc")), "yyyy-MM-dd")
        .as("created_date"),
      col("createdBy").as("created_by"),
      col("boardId").cast("string").as("board_id"), // ungated toString
      truthySwap(col("name")).as("name"))

  /** The stage↔deal map staging table (second sink). */
  def transformDeals(t: Map[String, DataFrame]): DataFrame =
    t("stageDeals").select(
      col("stageId").cast("string").as("stage_id"),
      col("id").cast("string").as("deal_id"))
}
