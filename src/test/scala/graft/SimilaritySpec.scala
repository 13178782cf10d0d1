package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    // three tight clusters around orthogonal axes
    Seq(
      (0L, Seq(1.0, 0.01, 0.0)), (1L, Seq(0.99, 0.0, 0.02)),
      (2L, Seq(0.98, 0.03, 0.01)),
      (10L, Seq(0.0, 1.0, 0.01)), (11L, Seq(0.02, 0.97, 0.0)),
      (20L, Seq(0.01, 0.0, 1.0)), (21L, Seq(0.0, 0.02, 0.99))
    ).toDF("vec_id", "embedding")
  }

  test("cosineTopK returns nearest cluster-mates first, self excluded") {
    val knn = Similarity.cosineTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2).collect()
    assert(knn.map(_.getAs[Long]("neighbor_id")).toSet === Set(1L, 2L))
    assert(knn.forall(_.getAs[Long]("query_id") == 0L))
    assert(knn.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2))
  }

  test("aggregate top-k is bit-identical to the window formulation") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSet
    val agg = key(Similarity.cosineTopK(e, queries, "vec_id", "embedding", 5))
    val win = key(Similarity.cosineTopKWindow(e, queries, "vec_id", "embedding", 5))
    assert(agg === win)
    assert(agg.size === 50)
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val df = Seq((Seq(0.5, 0.5), Seq(0.5, 0.5))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("ivfTopK recall vs brute force on the embeddings fixture") {
    import org.apache.spark.sql.functions.col
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(e, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5,
        nCentroids = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("kmeans|| seeding: deterministic, linear-scale, usable recall") {
    import org.apache.spark.sql.functions.col
    // the large-sample fixture: 6k vectors, a sample size at which the
    // default farthest-point init's O(sample²·k) driver cost is the
    // documented trap — kmeans|| is linear in the sample and completes
    // in seconds here
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.1",
      "embeddings")
    val big = e.count().toInt
    def fit() = Similarity.fitCentroids(e, "vec_id", "embedding",
      nCentroids = 16, iters = 8, sampleSize = big, init = "kmeans||")
    val c1 = fit()
    assert(c1.length === 16)
    // pure hash-driven draw → bit-identical refits
    assert(fit().map(_.toSeq).toSeq === c1.map(_.toSeq).toSeq)
    // the seeds drive IVF to the same recall class as the default init
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(e, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 4, centroids = Some(c1))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"kmeans||-seeded IVF recall $recall too low")
    intercept[IllegalArgumentException](
      Similarity.fitCentroids(e, "vec_id", "embedding", 8, init = "bogus"))
  }

  test("auto init: farthest at oracle sample sizes, kmeans|| past 10k " +
      "actual samples") {
    import spark.implicits._
    // >10⁴ deterministic vectors (8-dim, sin-formula components) — big
    // enough to cross the auto threshold, cheap enough to fit twice
    val dim = 8
    val big = (0L until 12000L).map { i =>
      (i, (0 until dim).map(d => math.sin((i + 1).toDouble * (d + 1) * 0.7)))
    }.toDF("vec_id", "embedding")
    def fit(sz: Int, how: String) = Similarity.fitCentroids(big,
        "vec_id", "embedding", nCentroids = 8, iters = 2,
        sampleSize = sz, init = how)
      .map(_.toSeq).toSeq
    // above the threshold the default resolves to kmeans|| — the
    // quadratic farthest-point init can no longer sneak into a big fit
    assert(fit(12000, "auto") === fit(12000, "kmeans||"))
    // at the shipped oracle sample sizes the default still resolves to
    // farthest-point, so every dumped model replays unchanged
    assert(fit(2048, "auto") === fit(2048, "farthest"))
  }

  test("k-means centroid fit beats the first-N stand-in at equal nProbe") {
    import org.apache.spark.sql.functions.col
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // queries DISJOINT from the first-N centroid ids: a query that IS a
    // centroid probes its own Voronoi cell, which contains its nearest
    // neighbors by construction — that coincidence flattered the
    // stand-in and is not the production shape
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    def hits(centroidIters: Int) =
      Similarity.ivfTopK(e, queries, "vec_id", "embedding", 5,
          nCentroids = 8, nProbe = 2, centroidIters = centroidIters)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopK(e, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rKmeans = exact.intersect(hits(8)).size.toDouble / exact.size
    val rFirstN = exact.intersect(hits(0)).size.toDouble / exact.size
    info(f"IVF recall at nProbe=2: kmeans=$rKmeans%.3f firstN=$rFirstN%.3f")
    assert(rKmeans >= rFirstN,
      f"k-means fit regressed recall: $rKmeans%.3f < $rFirstN%.3f")
    assert(rKmeans >= 0.4, f"k-means IVF recall $rKmeans%.3f too low")
  }

  test("cosineNearDupPairs kernel ≡ declarative cross-join, bit-exact") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    val kernel = rows(Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4))
    val decl = rows(Similarity.cosineNearDupPairsDeclarative(
      e, "vec_id", "embedding", 0.4))
    assert(kernel.nonEmpty)
    assert(kernel === decl)
  }

  test("cosineNearDupPairs kernel edge rows match the declarative filter") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    // null ids / null vectors / null elements must drop identically
    val edge = Seq[(Option[Long], Option[Seq[Option[Double]]])](
      (Some(1L), Some(Seq(Some(1.0), Some(0.0)))),
      (Some(2L), Some(Seq(Some(0.9), Some(0.1)))),
      (Some(5L), None),                            // null vector
      (None, Some(Seq(Some(1.0), Some(1.0)))),     // null id
      (Some(6L), Some(Seq(Some(0.8), None)))       // null element
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val kernel = rows(Similarity.cosineNearDupPairs(edge, "vec_id", "embedding", 0.4))
    val decl = rows(Similarity.cosineNearDupPairsDeclarative(
      edge, "vec_id", "embedding", 0.4))
    assert(kernel === decl)
    assert(kernel.nonEmpty)
    // a zero-norm vector is an ANSI divide-by-zero ERROR in the
    // declarative formulation — the kernel replicates the error rather
    // than silently emitting NaN
    val zeros = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.cosineNearDupPairsDeclarative(
        zeros, "vec_id", "embedding", 0.4).collect()
    }
    intercept[Exception] {
      Similarity.cosineNearDupPairs(
        zeros, "vec_id", "embedding", 0.4).collect()
    }
  }

  test("cosineNearDupLsh: verified subset of exact pairs, recall holds") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4))
    val lsh = pairs(Similarity.cosineNearDupLsh(e, "vec_id", "embedding",
      dim = 64, threshold = 0.4, nTables = 12, nPlanes = 4))
    assert(exact.nonEmpty)
    // exact verification ⇒ zero false positives
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("cosineNearDupCoverageLsh ≡ folding the LSH pair list per victim") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // the reference semantics: the raw pair list, folded per id_b
    val byVictim = Similarity.cosineNearDupLsh(e, "vec_id", "embedding",
        dim = 64, threshold = 0.4, nTables = 8, nPlanes = 6)
      .collect()
      .groupBy(_.getLong(1)) // id_b
      .map { case (id, rs) =>
        id -> (rs.map(_.getLong(0)).min, rs.map(_.getDouble(2)).max)
      }
    val cov = Similarity.cosineNearDupCoverageLsh(e, "vec_id", "embedding",
        dim = 64, threshold = 0.4, nTables = 8, nPlanes = 6)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(cov.size == e.count(), "one coverage row per corpus vector")
    assert(byVictim.nonEmpty, "fixture must produce duplicates")
    cov.foreach { case (id, (kept, minP, maxC)) =>
      byVictim.get(id) match {
        case Some((expMin, expMax)) =>
          assert(!kept, s"$id has a verified smaller partner but kept=true")
          assert(minP.contains(expMin), s"$id partner $minP != $expMin")
          assert(maxC.contains(expMax), s"$id cosine $maxC != $expMax")
        case None =>
          assert(kept && minP.isEmpty && maxC.isEmpty,
            s"$id has no verified partner but ($kept, $minP, $maxC)")
      }
    }
  }

  test("cosineNearDupCoverageLsh (exact-duplicate collapse) ≡ the direct " +
      "pair formulation, bit-for-bit, on a duplicate-heavy corpus") {
    import spark.implicits._
    // 4 exact copies of every sf0.001 vector under interleaved ids —
    // the shape that makes the direct form pay |group|² per cluster —
    // with id interleaving across groups (a group's members straddle
    // other groups' mins, so cross partners appear both below and
    // above each group's own min)
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings").filter(col("vec_id") < 200)
    // plus NULL-vector rows (one above, one below existing ids): the
    // direct form keeps them (null cosine never verifies); the
    // collapse's kept expression must coalesce to the same answer
    // (r13 ADVICE: !(null || false) was null, not true)
    val nulls = Seq(0L, 900000L).toDF("vec_id")
      .withColumn("embedding",
        lit(null).cast(e.schema("embedding").dataType))
    val corpus = (0 until 4).map { r =>
      e.select((col("vec_id") * 7 + r * 3 + 1).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionAll _).unionAll(nulls)
    def facts(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val collapse = facts(Similarity.cosineNearDupCoverageLsh(
      corpus, "vec_id", "embedding", dim = 64, threshold = 0.4,
      nTables = 8, nPlanes = 6))
    val direct = facts(Similarity.cosineNearDupCoverageLshDirect(
      corpus, "vec_id", "embedding", dim = 64, threshold = 0.4,
      nTables = 8, nPlanes = 6))
    assert(collapse.size === direct.size)
    // exact-duplicate members must actually exist and be dropped
    assert(collapse.count(!_._2._1) > collapse.size / 2)
    collapse.foreach { case (id, got) =>
      assert(got === direct(id), s"id $id: $got != ${direct(id)}")
    }
  }

  test("autoPlanes derives the BASELINE scale rule; auto ≡ explicit " +
      "at the derived geometry") {
    // the executable form of nPlanes ≈ log₂(n / targetBucket): 6 fixed
    // planes were right at 2 k vectors and catastrophic at 320 k — the
    // default must move with the corpus
    assert(Similarity.autoPlanes(2000, 128) === 4)      // clamp floor
    assert(Similarity.autoPlanes(20000, 128) === 8)
    assert(Similarity.autoPlanes(320000, 128) === 12)   // the r13 fix
    assert(Similarity.autoPlanes(320000 * 160L, 128) === 19)
    assert(Similarity.autoPlanes(1L << 40, 128) === 24) // clamp ceiling
    assert(Similarity.autoPlanes(0, 128) === 4)
    // an auto call must be bit-identical to pinning the geometry it
    // derives (sf0.001 embeddings: 200 reps → 4 planes)
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings").filter(col("vec_id") < 200)
    val auto = Similarity.cosineNearDupCoverageLsh(
      e, "vec_id", "embedding", dim = 64, threshold = 0.4, nTables = 4)
      .collect().map(_.toString).sorted
    val pinned = Similarity.cosineNearDupCoverageLsh(
      e, "vec_id", "embedding", dim = 64, threshold = 0.4, nTables = 4,
      nPlanes = 4)
      .collect().map(_.toString).sorted
    assert(auto === pinned)
    spark.catalog.clearCache()
  }

  test("corpusCount supplied: auto-geometry construction is action-free " +
      "(no corpus scan per call) and matches the derived explicit geometry") {
    // a corpus whose ANY evaluation throws: plan construction that
    // triggers a Spark job (the implicit count() of the bare auto path)
    // fails loudly; construction that stays declarative succeeds. An
    // RDD-backed frame can't be constant-folded or pruned away.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val poison = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 2)
        .mapPartitions[org.apache.spark.sql.Row](_ =>
          throw new RuntimeException("plan construction scanned the corpus")),
      schema)
    import spark.implicits._
    val probes = Seq((900L, Seq.fill(64)(0.5))).toDF("vec_id", "embedding")
    // counted path: construction must NOT run a job
    Similarity.lshTopK(poison, probes, "vec_id", "embedding", dim = 64,
      k = 3, corpusCount = Some(320000L))
    Similarity.cosineNearDupLsh(poison, "vec_id", "embedding", dim = 64,
      threshold = 0.4, nTables = 4, corpusCount = Some(320000L))
    // bare auto path: the geometry count scans the corpus at build time
    val e1 = intercept[Exception] {
      Similarity.lshTopK(poison, probes, "vec_id", "embedding",
        dim = 64, k = 3)
    }
    assert(e1.getMessage != null)
    // the supplied count derives the same geometry as pinning it
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings").filter(col("vec_id") < 200)
    val qset = e.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val viaCount = Similarity.lshTopK(e, qset, "vec_id", "embedding",
        dim = 64, k = 3, corpusCount = Some(200L))
      .collect().map(_.toString).sorted
    val viaPin = Similarity.lshTopK(e, qset, "vec_id", "embedding",
        dim = 64, k = 3,
        nPlanes = Similarity.autoPlanes(200L, Similarity.TopKTargetBucket))
      .collect().map(_.toString).sorted
    assert(viaCount === viaPin)
  }

  test("semanticDedup: sound drops, high recall vs the exact pair list") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val all = e.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = Similarity.semanticDedup(e, "vec_id", "embedding", eps = 0.4,
        nCentroids = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = all.diff(kept)
    // exact droppable set: every id with a smaller-id near-dup anywhere
    val exactDroppable = Similarity
      .cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
      .select("id_b").collect().map(_.getLong(0)).toSet
    assert(exactDroppable.nonEmpty)
    // soundness: cell pairs ⊆ all pairs, so every drop is justified by
    // a real near-duplicate with a smaller id
    assert(dropped.subsetOf(exactDroppable),
      s"unjustified drops: ${dropped.diff(exactDroppable)}")
    // recall: the cluster step only misses CROSS-cell duplicates
    val recall = dropped.size.toDouble / exactDroppable.size
    assert(recall >= 0.5, s"recall $recall (${dropped.size}/${exactDroppable.size})")
    graft.ops.materialize.releaseAll()
  }

  test("quantizeInt8 bounds reconstruction error; zero vectors are safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5, -1.0, 0.25)),
      (2L, Seq(0.0, 0.0, 0.0)),          // zero vector → scale 1, codes 0
      (3L, Seq(1e-8, -1e-8, 5e-9))       // tiny values still representable
    ).toDF("id", "v")
    val got = df.select(col("id"),
        Similarity.quantizeInt8(col("v")).as("q"),
        col("v"))
      .select(col("id"), col("q.scale").as("scale"),
        array_max(zip_with(col("v"),
          transform(col("q.codes"), c => c.cast("double") * col("q.scale") / 127.0),
          (x, y) => abs(x - y))).as("err"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    // per-component error ≤ scale/254 (half a code step)
    got.foreach { case (id, (scale, err)) =>
      assert(err <= scale / 254.0 + 1e-15, s"id=$id err=$err scale=$scale")
    }
    assert(got(2L)._1 === 1.0)
    assert(got(1L)._1 === 1.0)           // max |x| = 1.0
  }

  test("lshTopK recall vs brute force on clustered data") {
    val queries = vecs.filter(col("vec_id").isin(0L, 10L, 20L))
    val exact = Similarity.cosineTopK(vecs, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(vecs, queries, "vec_id", "embedding",
        dim = 3, k = 1, nPlanes = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same-cluster vectors share hyperplane signs ⇒ top-1 recall holds
    assert(exact.subsetOf(approx.union(exact)) && approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low: exact=$exact approx=$approx")
  }
}
