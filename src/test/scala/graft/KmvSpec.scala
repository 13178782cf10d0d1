package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * KMV distinct-count sketch (`graft_kmv`, [[graft.plans.KmvSketch]]):
 * error bound vs exact distincts, exactness below k, merge invariance
 * across partitionings, and the HLL++/percentile_approx parity that
 * q44b used to surface as a driver row (moved here when q123 replaced
 * it — the built-in sketches' engine-internal state has no SQL replay,
 * but their accuracy contract still deserves a standing assert).
 */
class KmvSpec extends SparkSpec {

  private def kmv(df: org.apache.spark.sql.DataFrame, k: Int)
      : Map[String, Long] = {
    df.groupBy(col("g"))
      .agg(call_function("graft_kmv",
        Dedup.md5Hash60(col("v").cast("string")), lit(k)).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("graft_kmv: exact below k, within the KMV error bound above it") {
    import spark.implicits._
    // group a: 40k distincts (sketch full), group b: 100 (exact path)
    val df = ((1 to 40000).map(i => ("a", i.toLong)) ++
      (1 to 5000).map(i => ("b", (i % 100).toLong))).toDF("g", "v")
    val est = kmv(df, k = 256)
    assert(est("b") === 100L, "below k the sketch is exact")
    // standard error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    val rel = math.abs(est("a") - 40000.0) / 40000.0
    assert(rel < 0.25, s"estimate ${est("a")} off by $rel")
  }

  test("graft_kmv: merge-invariant — any partitioning, same estimate") {
    import spark.implicits._
    val rows = (1 to 30000).map(i => ("a", (i % 17777).toLong))
    val one = kmv(rows.toDF("g", "v").coalesce(1), k = 128)
    val many = kmv(rows.toDF("g", "v").repartition(32), k = 128)
    assert(one === many, "partial-merge must be order/partition invariant")
    // and duplicates never occupy two of the k slots: distinct input
    // gives the identical sketch
    val dedup = kmv(rows.distinct.toDF("g", "v").repartition(7), k = 128)
    assert(dedup === one)
  }

  test("built-in sketches hold their contracts (former q44b surface)") {
    import spark.implicits._
    val df = (1 to 20000).map(i => ("g", (i % 9000).toLong, i.toDouble))
      .toDF("g", "v", "p")
    val r = df.groupBy(col("g")).agg(
      approx_count_distinct(col("v"), 0.02).as("hll"),
      percentile_approx(col("p"), lit(0.5), lit(1000)).as("p50"),
      min(col("p")).as("lo"), max(col("p")).as("hi")).head()
    assert(math.abs(r.getLong(1) - 9000.0) / 9000.0 < 0.06,
      s"HLL++ rsd contract: ${r.getLong(1)}")
    assert(r.getDouble(2) >= r.getDouble(3) && r.getDouble(2) <= r.getDouble(4))
    assert(math.abs(r.getDouble(2) - 10000.0) < 1000.0,
      s"p50 far from true median: ${r.getDouble(2)}")
  }
}
