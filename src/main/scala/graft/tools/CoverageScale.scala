package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Sessions

/**
 * Coverage-operator scale measurement: time
 * [[graft.operators.Similarity.cosineNearDupCoverageLsh]] at a fixture
 * with explicit LSH geometry, forcing the REAL plan with
 * `queryExecution.toRdd` (a bare `count()` lets Catalyst eliminate the
 * whole left join — the r12 bench artifact). The point: bucket width
 * must scale with the corpus. nPlanes = 6 → 64 buckets/table is right
 * for the gate fixtures (2 k vectors) and catastrophically coarse at
 * 320 k (≈5 k vectors/bucket ⇒ ~1.3e10 verified candidates); the rule
 * is nPlanes ≈ log₂(n / targetBucket), recall re-bought with nTables.
 *
 * Usage: CoverageScale <sfDir> <nTables> <nPlanes> [rounds]
 */
object CoverageScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nT = args(1).toInt
    val nP = args(2).toInt
    val rounds = if (args.length > 3) args(3).toInt else 3
    val spark = Sessions.local(32, "coverage-scale")
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      val df = graft.operators.Similarity.cosineNearDupCoverageLsh(
        e, "vec_id", "embedding", dim = 64, threshold = 0.4,
        nTables = nT, nPlanes = nP)
      val n = df.queryExecution.toRdd.count()
      val kept = df.filter(org.apache.spark.sql.functions.col("kept"))
        .queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[covscale] $dir tables=$nT planes=$nP r$r rows=$n " +
        f"kept=$kept time=$sec%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

/**
 * q126 coverage oracle dump at AUTO geometry: run
 * [[graft.operators.Similarity.cosineNearDupCoverageLsh]] with the
 * derived nPlanes (at sf16's 320 k distinct vectors that is 12 — the
 * geometry whose member-level DuckDB replay fits one VM's disk, unlike
 * the registry's gate-scale 6 planes whose ~1.3e10 candidates do not)
 * and dump (id, kept, dup_min_partner, round(dup_max_cosine, 9)) for
 * `tools/replay_q126_sf16.py` to compare. Prints the derived plane
 * count so the replay runs the identical geometry.
 *
 * Usage: CoverageDump <sfDir> <outDir>  (writes <outDir>/q126_coverage_auto)
 */
object CoverageDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "coverage-dump")
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    // the operator derives from the DISTINCT-vector rep count — mirror
    // it exactly (one extra aggregate here, for the printed record)
    val np = graft.operators.Similarity.autoPlanes(
      e.select("embedding").distinct().count(),
      graft.operators.Similarity.NearDupTargetBucket)
    println(s"[covdump] $dir derived nPlanes=$np (replay must match)")
    val t0 = System.nanoTime()
    graft.operators.Similarity.cosineNearDupCoverageLsh(
        e, "vec_id", "embedding", dim = 64, threshold = 0.4, nTables = 8)
      .select(col("id"), col("kept"), col("dup_min_partner"),
        round(col("dup_max_cosine"), 9).as("dup_max_cosine"))
      .repartition(1).write.mode("overwrite")
      .parquet(s"$out/q126_coverage_auto")
    println(f"[covdump] dumped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}

/**
 * Fixed-probe BM25 oracle dump: run [[graft.operators.CorpusStats.bm25TopK]]
 * with the probe set pinned to replica 0 (doc_id < 10⁸ — constant
 * across the replica-constructed scale fixtures) and dump the result
 * where `tools/check.py` can compare it against the DuckDB HUGEINT
 * replay with the same probe filter. This is the sf16 correctness leg
 * for q127's realistic shape: the registry query's probe set grows
 * with the corpus, making its full oracle DuckDB-infeasible at 160×.
 *
 * Usage: Bm25FixedDump <sfDir> <outDir>   (writes <outDir>/q127_bm25_fixed)
 */
object Bm25FixedDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "bm25-fixed-dump")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    graft.operators.CorpusStats.bm25TopK(
        docs.filter(col("doc_id") % 101 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 101 === 0 &&
          col("doc_id") < 100000000L), "doc_id", "text", k = 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/q127_bm25_fixed")
    spark.stop()
  }
}
