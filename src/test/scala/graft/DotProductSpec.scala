package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity

class DotProductSpec extends SparkSpec {

  test("graft_dot matches the interpreted HOF formulation bit-for-bit") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .limit(500)
    val diffs = paired.select(
        Similarity.dot(col("a.v"), col("b.v")).as("fast"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
      .filter(col("fast") =!= col("hof"))
      .count()
    assert(diffs === 0)
  }

  test("graft_dot handles edge shapes: empty, unequal lengths, null elements") {
    import spark.implicits._
    val df = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)), // extra elements ignored
      (Seq(2.0), Seq(3.0))
    ).toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(got === Seq(0.0, 1.0 * 4.0 + 2.0 * 5.0, 6.0))
  }

  test("graft_dot resolves via SQL after extension registration") {
    val r = spark.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d)) AS d")
      .collect().head.getDouble(0)
    assert(r === 11.0)
  }
}
