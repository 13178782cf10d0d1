package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Business column-function library — the engine's equivalent of the
 * reference's per-row `transform` lambdas, re-expressed as pure Catalyst
 * `Column` compositions so they stay inside whole-stage codegen (no UDFs).
 *
 * Each function cites the reference site (`/root/reference/<path>:<line>`)
 * whose semantics it reproduces. See SURVEY.md §2.8.
 */
object business {

  // ───────────────────────── date/time (D1–D10) ─────────────────────────

  /** D1 — UTC→WIB (Asia/Jakarta, +7h) shift applied before formatting every
    * output date. Ref: `Pembelian/run.js:218` (`moment(...).add(7, "hours")`). */
  def wibTimestamp(c: Column): Column = from_utc_timestamp(c, "Asia/Jakarta")

  /** D2 — day-floored date difference in days (lead times PR→PO→DO→URN→UPO).
    * Ref: `Pembelian/run.js:206-214`. */
  def dayDiff(a: Column, b: Column): Column = datediff(to_date(a), to_date(b))

  /** D6 — min-date repair: dates below SQL Server's 1753-01-01 datetime floor
    * get their year replaced with the given year (reference uses the *current*
    * year — nondeterministic; callers pass a fixed year for reproducibility).
    * Ref: `validateDate`, `Pembelian/run.js:108-118`. */
  def validDate(c: Column, repairYear: Column): Column =
    when(c < to_timestamp(lit("1753-01-01")),
      make_date(repairYear, month(c), dayofmonth(c)).cast("timestamp"))
      .otherwise(c)

  /** D8 — epoch-millis → time-of-day string.
    * Ref: `MonitoringEvent/run.js:226-227`. */
  def millisToTimeOfDay(c: Column): Column =
    date_format(timestamp_millis(c), "HH:mm:ss")

  /** D10 — minutes → hours ("operation range", reference divides by 60).
    * Ref: `MonitoringEvent/run.js:65-67`. */
  def operationRange(minutes: Column): Column = minutes / 60.0

  // ───────────────────────── string (T1–T5) ─────────────────────────

  /** T1 — quote swap the reference applies to survive SQL splicing
    * (data-mutating; quarantined behind this name).
    * Ref: `Pembelian/run.js:230`. */
  def quoteSwap(c: Column): Column = regexp_replace(c, "'", "\"")

  /** D7 — typo-year repair on formatted date strings: the malformed year
    * tokens observed in the reference's production data (`/0017`, `/12017`,
    * `/0200`, `/0201`, `/42017`, `/0217`) all collapse to `/2017`, applied
    * as a literal-replace chain in the reference's exact order.
    * Ref: `Pembelian/run.js:311` (`.replace("/0017","/2017")…` chains). */
  def typoYearRepair(c: Column): Column =
    Seq("/0017", "/12017", "/0200", "/0201", "/42017", "/0217")
      .foldLeft(c)((acc, t) => replace(acc, lit(t), lit("/2017")))

  /** T2 — truncate to VARCHAR column width. Ref: `DailyOperation/run.js:160-201`. */
  def truncateTo(c: Column, n: Int): Column = substring(c, 1, n)

  /** T3 — construction string: space-joined parts, NULL if ANY part is null
    * (unlike `concat_ws`, which skips nulls — use `concat` for propagation).
    * Ref: `ProductionOrder/run.js:107-113`. */
  def constructionString(parts: Column*): Column =
    concat(parts.flatMap(p => Seq(p, lit(" "))).dropRight(1): _*)

  // ───────────────────────── math / business (M1–M2) ─────────────────────────

  /** M1 — total price = qty × unit price × currency rate.
    * Ref: `Pembelian/run.js:256`. */
  def totalPrice(qty: Column, price: Column, rate: Column): Column =
    qty * price * rate

  /** M2 — UOM conversion: yard/yds → metres (×0.9144), everything else
    * identity. Ref: `ProductionOrder/run.js:97-105`. */
  def orderQtyConversion(uom: Column, qty: Column): Column =
    when(lower(uom).isin("yard", "yds"), qty * 0.9144).otherwise(qty)

  // ───────────────────── conditional / CASE rules (C1–C7) ─────────────────────

  /** C1 — month bucketing of a day count.
    * Ref: `Pembelian/run.js:65-75`. */
  def monthBucket(days: Column): Column =
    when(days <= 30, "0-30 hari")
      .when(days <= 60, "31-60 hari")
      .when(days <= 90, "61-90 hari")
      .otherwise(">90 hari")

  /** C2 — week bucketing of a day count. Ref: `Pembelian/run.js:77-87`. */
  def weekBucket(days: Column): Column =
    when(days <= 7, "0-7 hari")
      .when(days <= 14, "8-14 hari")
      .when(days <= 30, "15-30 hari")
      .otherwise(">30 hari")

  /** C3 — textile category type. Ref: `Pembelian/run.js:89-95`. */
  def categoryTypeTextile(name: Column): Column =
    when(name === "BAHAN BAKU", "BAHAN BAKU").otherwise("NON BAHAN BAKU")

  /** C4 — garment category type by code. Ref: `GarmentPembelian/run.js:567-577`. */
  def categoryTypeGarment(code: Column): Column =
    when(lower(code) === "fab", "Bahan Baku")
      .when(lower(code).isin("emb", "wsh", "pls", "prn", "tes", "qlt"), "Jasa")
      .otherwise("Accessories")

  /** C5 — on-time status: delivered on/before promise date → "Tepat Waktu".
    * Ref: `Pembelian/run.js:97-106`. */
  def onTimeStatus(deliveredAt: Column, dueAt: Column): Column =
    when(dayDiff(deliveredAt, dueAt) <= 0, "Tepat Waktu")
      .otherwise("Tidak Tepat Waktu")

  /** C6 — JS-truthiness null gating: 0, "" and null map to NULL.
    * The reference applies this per column (`item.x ? f(x) : null`,
    * `Pembelian/run.js:216-279`); encode deliberately per column type,
    * never blanket (ANSI Spark would reject a polymorphic 0/"" compare,
    * and SURVEY §7 requires a per-column decision table regardless). */
  def nullIfFalsyNum(c: Column): Column = when(c.isNotNull && c =!= 0, c)

  def nullIfFalsyStr(c: Column): Column = when(c.isNotNull && c =!= "", c)

  /** C6-gated T1 — `item.x ? item.x.replace(/'/g, '"') : null`: a
    * falsy string (null, "") maps to NULL, anything else is
    * quote-swapped. Ref: `Pembelian/run.js:216-279` (the per-column
    * truthiness gates around the `:230` swap). */
  def truthySwap(c: Column): Column =
    when(nullIfFalsyStr(c).isNotNull, quoteSwap(c))

  /** C6 variant — only null/undefined gate (`!= undefined` guards,
    * `Kanban/run.js:89`). Identity on 0/"" — kept for the decision table. */
  def nullIfUndefined(c: Column): Column = c

  /** A4 — weighted QC score A·1 + B·3 + C·5 + D·10 with JS `null + n = n`
    * semantics (nulls count as 0). Ref: `FabricQC/run.js:120-124`. */
  def weightedScore(a: Column, b: Column, c: Column, d: Column): Column =
    coalesce(a, lit(0)) * 1 + coalesce(b, lit(0)) * 3 +
      coalesce(c, lit(0)) * 5 + coalesce(d, lit(0)) * 10
}
