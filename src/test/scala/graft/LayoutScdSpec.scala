package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Scd}
import graft.ops.layout

class LayoutScdSpec extends SparkSpec {

  // ── SCD2 ──

  private def changeLog = {
    import spark.implicits._
    Seq(
      // user 1: A → A (repeat, compresses) → B → B (repeat) → C
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"), (1L, 4L, "B"),
      (1L, 5L, "C"),
      // user 2: single version, stays current
      (2L, 1L, "X"),
      // user 3: null → null (compresses) → Y
      (3L, 1L, null), (3L, 2L, null), (3L, 3L, "Y")
    ).map { case (u, t, a) =>
      (u, java.sql.Timestamp.valueOf(f"2024-01-0$t%d 00:00:00"), t, a)
    }.toDF("user_id", "ts", "seq", "status")
  }

  test("scd2 compresses repeats and chains validity intervals") {
    val got = Scd.scd2(changeLog, Seq("user_id"), "ts", Seq("seq"),
        Seq("status"))
      .orderBy("user_id", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).toString.take(10),
        Option(r.getTimestamp(3)).map(_.toString.take(10)).orNull,
        r.getInt(4)))
    assert(got.toSeq === Seq(
      (1L, "A", "2024-01-01", "2024-01-03", 0),
      (1L, "B", "2024-01-03", "2024-01-05", 0),
      (1L, "C", "2024-01-05", null, 1),
      (2L, "X", "2024-01-01", null, 1),
      (3L, null, "2024-01-01", "2024-01-03", 0),
      (3L, "Y", "2024-01-03", null, 1)))
  }

  test("scd2 plans a single exchange (both windows share the shuffle)") {
    val plan = Scd.scd2(changeLog, Seq("user_id"), "ts", Seq("seq"),
      Seq("status")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(exchanges === 1,
      s"expected one key shuffle shared by lag+lead windows, got:\n$plan")
  }

  // ── stratified sampling ──

  test("stratifiedSample returns exactly n per stratum, deterministically") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "grp")
    val a = CorpusStats.stratifiedSample(df, "grp", "id", 7, "seed")
    val b = CorpusStats.stratifiedSample(df, "grp", "id", 7, "seed")
    val countsA = a.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(countsA === Map("s0" -> 7L, "s1" -> 7L, "s2" -> 7L))
    assert(a.collect().toSet === b.collect().toSet, "same salt ⇒ same sample")
    val c = CorpusStats.stratifiedSample(df, "grp", "id", 7, "other")
    assert(c.collect().toSet !== a.collect().toSet,
      "different salt ⇒ independent sample")
  }

  test("stratifiedSample takes the whole stratum when it is smaller than n") {
    import spark.implicits._
    val df = Seq((1L, "tiny"), (2L, "tiny")).toDF("id", "grp")
    assert(CorpusStats.stratifiedSample(df, "grp", "id", 10).count() === 2)
  }

  // ── Z-order ──

  test("zorder2 interleaves bits (known values)") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
        (65535L, 0L), (0L, 65535L))
      .toDF("x", "y")
      .select(layout.zorder2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // 5=101, 3=011 → interleave x even / y odd: 011011 = 27
    // 65535 on x fills even bits: 0x55555555; on y odd bits: 0xAAAAAAAA
    assert(got === Seq(0L, 1L, 2L, 3L, 27L, 0x55555555L, 0xAAAAAAAAL))
  }

  test("zorder2 keeps locality: nearby (x,y) cells share high bits") {
    import spark.implicits._
    // points in the same 4×4 cell differ only in the low 4 z-bits
    val z = Seq((8L, 8L), (9L, 11L), (11L, 9L))
      .toDF("x", "y")
      .select(layout.zorder2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(z.map(_ >> 4).distinct.length === 1)
  }
}
