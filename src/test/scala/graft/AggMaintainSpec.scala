package graft

import org.apache.spark.sql.functions._

import graft.operators.AggMaintain

class AggMaintainSpec extends SparkSpec {

  private def fact = {
    import spark.implicits._
    (1 to 2000).map { i =>
      (s"g${i % 5}", i.toLong, (i % 37).toLong, s"user${i % 211}")
    }.toDF("grp", "amount", "code", "user")
  }

  test("merge of split summaries equals the one-shot summary (counts+sums)") {
    val a = fact.filter(col("amount") <= 1200)
    val b = fact.filter(col("amount") > 1200)
    val merged = AggMaintain.merge(
        AggMaintain.summarize(a, Seq("grp"), Seq("amount", "code")),
        AggMaintain.summarize(b, Seq("grp"), Seq("amount", "code")),
        Seq("grp"), Seq("amount", "code"))
      .orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val oneShot = AggMaintain.summarize(fact, Seq("grp"), Seq("amount", "code"))
      .orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(merged.toSeq === oneShot.toSeq)
  }

  test("groups present on only one side pass through the merge") {
    import spark.implicits._
    val a = Seq(("x", 1L), ("shared", 2L)).toDF("grp", "amount")
    val b = Seq(("y", 10L), ("shared", 20L)).toDF("grp", "amount")
    val m = AggMaintain.merge(
        AggMaintain.summarize(a, Seq("grp"), Seq("amount")),
        AggMaintain.summarize(b, Seq("grp"), Seq("amount")),
        Seq("grp"), Seq("amount"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m === Map("x" -> (1L, 1L), "y" -> (1L, 10L),
      "shared" -> (2L, 22L)))
  }

  test("HLL sketch state: estimates track exact distincts and merge losslessly") {
    val a = fact.filter(col("amount") <= 1200)
    val b = fact.filter(col("amount") > 1200)
    // a sketch state read as (group, approximate distinct users)
    def estimate(state: org.apache.spark.sql.DataFrame) =
      state.select(col("grp"), hll_sketch_estimate(col("hll_user")).as("d"))
    val merged = estimate(
      AggMaintain.merge(
        AggMaintain.summarize(a, Seq("grp"), Nil, Seq("user")),
        AggMaintain.summarize(b, Seq("grp"), Nil, Seq("user")),
        Seq("grp"), Nil, Seq("user")))
    val oneShot = estimate(
      AggMaintain.summarize(fact, Seq("grp"), Nil, Seq("user")))
    val exact = fact.groupBy("grp").agg(countDistinct(col("user")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mergedMap = merged.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShotMap = oneShot.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // register-wise union of disjoint halves ≡ the one-shot sketch
    assert(mergedMap === oneShotMap)
    exact.foreach { case (g, d) =>
      val est = mergedMap(g).toDouble
      assert(math.abs(est - d) / d < 0.05,
        s"group $g: estimate $est vs exact $d drifted > 5%")
    }
  }
}
