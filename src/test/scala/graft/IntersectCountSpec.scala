package graft

import org.apache.spark.sql.functions._

class IntersectCountSpec extends SparkSpec {

  private def ic(a: Seq[Long], b: Seq[Long]): Int = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(call_function("graft_intersect_count", col("a"), col("b")))
      .collect().head.getInt(0)
  }

  test("graft_intersect_count matches array_intersect semantics on sorted sets") {
    assert(ic(Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L)) === 2)
    assert(ic(Seq.empty, Seq(1L)) === 0)
    assert(ic(Seq(1L, 2L), Seq(1L, 2L)) === 2)
    assert(ic(Seq(-5L, 0L, 7L), Seq(-5L, 7L)) === 2)
  }

  test("graft_intersect_count agrees with array_intersect on random sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      rnd.shuffle((0L to 60L).toList).take(20).sorted,
      rnd.shuffle((0L to 60L).toList).take(25).sorted))
    val diffs = rows.toDF("a", "b").select(
        call_function("graft_intersect_count", col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("builtin"))
      .filter(col("fast") =!= col("builtin")).count()
    assert(diffs === 0)
  }
}
