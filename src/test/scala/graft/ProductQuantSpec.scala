package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.ProductQuant

/** Product quantization: code validity/determinism, monotone
  * reconstruction error in the codebook size, and ADC recall against
  * the exact L2 neighbors. */
class ProductQuantSpec extends SparkSpec {

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("encode: m codes per row, in range, deterministic") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 8, k = 16)
    val coded = emb.select(col("vec_id"),
      ProductQuant.encode(col("embedding"), model).as("codes"))
    val rows = coded.orderBy("vec_id").collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 16), cs)
    }
    // deterministic across a different partitioning
    val again = emb.repartition(7).select(col("vec_id"),
      ProductQuant.encode(col("embedding"), model).as("codes"))
      .orderBy("vec_id").collect()
    assert(rows.map(_.getSeq[Int](1)).toSeq === again.map(_.getSeq[Int](1)).toSeq)
  }

  /** Reconstruct the (lossy) vector from its codes — an error audit;
    * search never decodes. */
  private def decode(codes: Column, model: ProductQuant.PqModel): Column = {
    val parts = (0 until model.m).map { j =>
      element_at(typedLit(model.codebooks(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1) + 1)
    }
    concat(parts: _*)
  }

  test("reconstruction error shrinks as the codebook grows") {
    def mse(k: Int): Double = {
      val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 8, k = k)
      val err = emb.select(col("embedding").cast("array<double>").as("v"),
          decode(ProductQuant.encode(col("embedding"), model), model).as("d"))
        .select(aggregate(zip_with(col("v"), col("d"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("se"))
        .agg(avg(col("se"))).collect().head.getDouble(0)
      err
    }
    val e2 = mse(2); val e16 = mse(16)
    assert(e16 < e2, s"k=16 mse $e16 should beat k=2 mse $e2")
    assert(e16 > 0.0) // lossy, not a fake identity
  }

  test("ADC shortlist recall against exact L2 neighbors") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 16, k = 16)
    val encoded = emb.select(col("vec_id"),
      ProductQuant.encode(col("embedding"), model).as("codes"))
    val queries = emb.filter(col("vec_id") < 10)
    def approxTop(k: Int): Map[Long, Set[Long]] =
      ProductQuant.adcTopK(encoded, queries, "vec_id", "embedding", k, model)
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap

    // exact L2 top-10, computed driver-side from the 500-row fixture
    val all = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def exactTop(qid: Long): Set[Long] = all.toSeq.filter(_._1 != qid)
      .sortBy { case (id, v) => (sq(v, all(qid)), id) }
      .take(10).map(_._1).toSet

    // the distributed exact-L2 operator (the q114 digest baseline)
    // agrees with this driver-side reference exactly
    val distTop = graft.operators.Similarity
      .l2TopK(emb, queries, "vec_id", "embedding", 10)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    (0L until 10L).foreach { q =>
      assert(distTop(q) === exactTop(q), s"l2TopK mismatch for query $q")
    }

    // direct recall@10 must beat random chance (10/499 ≈ 0.02) by a
    // wide, stable margin even on these near-random synthetic vectors
    val top10 = approxTop(10)
    val direct = (0L until 10L).map(q => (top10(q) & exactTop(q)).size / 10.0)
    assert(direct.sum / direct.size >= 0.3,
      s"mean direct recall@10 ${direct.sum / direct.size} ($direct)")

    // the deployment shape is sieve + exact re-rank: the 50-candidate
    // ADC shortlist (10% of the corpus) must hold most true neighbors
    val top50 = approxTop(50)
    val sieve = (0L until 10L).map(q => (top50(q) & exactTop(q)).size / 10.0)
    assert(sieve.sum / sieve.size >= 0.6,
      s"mean shortlist recall@50 ${sieve.sum / sieve.size} ($sieve)")

    // ranks are contiguous and distances ascend within each query
    val one = ProductQuant.adcTopK(encoded, queries.limit(1), "vec_id",
      "embedding", k = 10, model).orderBy("rank").collect()
    assert(one.map(_.getInt(1)).toSeq === (1 to 10))
    val dists = one.map(_.getDouble(3)).toSeq
    assert(dists === dists.sorted)
  }

  test("IVF+PQ composition: cell pruning bounds ADC's result set") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 16, k = 16,
      idCol = Some("vec_id"))
    val queries = emb.filter(col("vec_id") < 10)
    val full = ProductQuant.adcTopK(
      emb.select(col("vec_id"),
        ProductQuant.encode(col("embedding"), model).as("codes")),
      queries, "vec_id", "embedding", k = 10, model)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val pruned = ProductQuant.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 10, model, nCentroids = 8, nProbe = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    // probing half the cells keeps most of the unpruned ADC answers —
    // the composition trades a bounded recall loss for scanning ~half
    // the corpus per query
    val overlap = (0L until 10L).map(q => (pruned(q) & full(q)).size / 10.0)
    assert(overlap.sum / overlap.size >= 0.5,
      s"mean IVF-pruned overlap ${overlap.sum / overlap.size} ($overlap)")
    // every query still gets a full k answers
    assert(pruned.values.forall(_.size === 10))
  }
}
