package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Sessions

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
    val spark = Sessions.local(graft.runner.Main.envCpus(32), "coverage-dump")
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
