package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity, CorpusStats}

class RetrievalSpec extends SparkSpec {

  private def run(rows: Seq[(Long, Long, Int)]) = {
    import spark.implicits._
    rows.toDF("q_id", "doc_id", "rank")
  }

  test("rrfFuse sums exact micro-weights and breaks ties to smaller id") {
    val lex = run(Seq((1L, 10L, 1), (1L, 11L, 2)))
    val den = run(Seq((1L, 9L, 1), (1L, 11L, 2)))
    val out = Retrieval.rrfFuse(Seq(lex, den), k = 5).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rrf_u"))).sortBy(_._1)
    // weights: rank1 → floor(1e9/61) = 16393442, rank2 → floor(1e9/62)
    // = 16129032; doc 11 appears at rank 2 in BOTH runs, docs 9/10 at
    // rank 1 in one run each (an exact rrf_u tie → smaller id first)
    assert(out === Seq(
      (1, 11L, 2L * 16129032L),
      (2, 9L, 16393442L),
      (3, 10L, 16393442L)))
  }

  test("rrfFuse cuts the fused list at k") {
    val lex = run((1 to 8).map(i => (1L, 100L + i, i)))
    val out = Retrieval.rrfFuse(Seq(lex), k = 3).collect()
    assert(out.length === 3)
    // a single run fused alone preserves its own order
    assert(out.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id")))
      .sortBy(_._1).toSeq === Seq((1, 101L), (2, 102L), (3, 103L)))
  }

  test("mmrRerank picks diverse over redundant and scores exactly") {
    import spark.implicits._
    // doc 2 is an exact vector duplicate of doc 1 (cosine 1.0); doc 3
    // is orthogonal. Greedy: 1 (top rel), then 3 (2's penalty
    // 33·1e6 dwarfs its rel edge), then 2 with the full penalty.
    val cand = Seq((7L, 1L, 3000000L), (7L, 2L, 2900000L),
      (7L, 3L, 1000000L)).toDF("q_id", "doc_id", "rel_u")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val out = graft.operators.Retrieval
      .mmrRerank(cand, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("mmr_u"))).sortBy(_._1)
    assert(out === Seq(
      (1, 1L, 3000000L),
      (2, 3L, 1000000L),
      (3, 2L, 2900000L - 33L * 1000000L)))
  }

  test("mmrRerank negative cosine is a bonus, not clamped at zero") {
    import spark.implicits._
    // d2 points OPPOSITE the first pick (cosine exactly -1): its
    // penalty term is -33e6, i.e. a diversity BONUS that must beat
    // d3's higher relevance. A running-penalty fold initialized to 0
    // instead of the empty set would clamp this and pick d3.
    val cand = Seq((7L, 1L, 1000L), (7L, 2L, 100L), (7L, 3L, 900L))
      .toDF("q_id", "doc_id", "rel_u")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val out = graft.operators.Retrieval
      .mmrRerank(cand, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("mmr_u"))).sortBy(_._1)
    assert(out === Seq(
      (1, 1L, 1000L),
      (2, 2L, 100L + 33L * 1000000L),
      (3, 3L, 900L)))
  }

  test("mmrRerank stops when candidates run out and drops vecless docs") {
    import spark.implicits._
    val cand = Seq((7L, 1L, 100L), (7L, 2L, 90L), (7L, 9L, 80L))
      .toDF("q_id", "doc_id", "rel_u")
    // doc 9 has no embedding -> dropped; only 2 rows despite k = 4
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Retrieval
      .mmrRerank(cand, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id")))
      .sortBy(_._1)
    assert(out === Seq((1, 1L), (2, 2L)))
  }

  test("mmrRerank releases superseded state checkpoints (bounded storage)") {
    import spark.implicits._
    val cand = Seq((7L, 1L, 3000000L), (7L, 2L, 2900000L),
      (7L, 3L, 1000000L)).toDF("q_id", "doc_id", "rel_u")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.size
    // two full re-rank calls: the one-pass plan persists nothing, so
    // no call may leave a block-store entry behind
    for (_ <- 1 to 2)
      graft.operators.Retrieval
        .mmrRerank(cand, vecs, "vec_id", "embedding", k = 3).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after === before,
      s"re-rank left persistent RDDs: $before -> $after")
  }

  test("mmrRerank zero-norm vector is penalty-neutral, not NaN") {
    import spark.implicits._
    // doc 2 is the zero vector: its cosine against any pick is 0/0 →
    // the guarded division (zero denominator ⇒ cosine 0.0) pins the
    // penalty term to 0, so doc 2 ranks by relevance alone instead of
    // failing or NaN-poisoning the argmax
    val cand = Seq((7L, 1L, 1000L), (7L, 2L, 900L), (7L, 3L, 800L))
      .toDF("q_id", "doc_id", "rel_u")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val out = graft.operators.Retrieval
      .mmrRerank(cand, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("mmr_u"))).sortBy(_._1)
    assert(out === Seq((1, 1L, 1000L), (2, 2L, 900L), (3, 3L, 800L)))
  }

  /** The k-step formulation `mmrRerank` replaced, kept as its parity
    * reference: one state table of all candidates, one eager local
    * checkpoint per greedy step, the argmax as a per-q_id struct max
    * and the running max similarity folded with `greatest`. */
  private def mmrRerankSteps(candidates: DataFrame, vecs: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             relW: Long = 1L, penW: Long = 33L): DataFrame = {
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    def guardedCosine(a: Column, b: Column): Column = {
      val den = Similarity.l2Norm(a) * Similarity.l2Norm(b)
      when(den > lit(0.0), Similarity.dot(a, b) / den).otherwise(lit(0.0))
    }
    var state = candidates
      .select(col("q_id").cast("long").as("q_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rel_u").cast("long").as("rel_u"))
      .join(vecs.select(col(idCol).cast("long").as("doc_id"),
        col(vecCol).cast("array<double>").as("__v")), "doc_id")
      .withColumn("sim_u", lit(null).cast("long"))
      .withColumn("rank", lit(null).cast("int"))
      .withColumn("mmr_u", lit(null).cast("long"))
      .repartition(col("q_id"))
      .localCheckpoint(true)
    def mmr = col("rel_u") * lit(relW) -
      coalesce(col("sim_u") * lit(penW), lit(0L))
    for (t <- 1 to k) {
      val pv = state.groupBy(col("q_id"))
        .agg(max(when(col("rank").isNull,
          struct(mmr.as("m"), (col("doc_id") * lit(-1L)).as("nd"),
            col("doc_id").as("doc_id"), col("__v").as("__pv")))).as("__p"))
        .filter(col("__p").isNotNull)
        .select(col("q_id"), col("__p.doc_id").as("__pid"),
          col("__p.m").as("__pm"), col("__p.__pv").as("__pv"))
      val prev = state
      state = state.join(pv, Seq("q_id"), "left")
        .select(col("q_id"), col("doc_id"), col("rel_u"), col("__v"),
          when(col("rank").isNotNull || col("__pid").isNull ||
              col("doc_id") === col("__pid"), col("sim_u"))
            .otherwise(greatest(col("sim_u"),
              floor(guardedCosine(col("__v"), col("__pv"))
                * lit(1000000.0)))).as("sim_u"),
          when(col("doc_id") === col("__pid") && col("rank").isNull,
            lit(t)).otherwise(col("rank")).cast("int").as("rank"),
          when(col("doc_id") === col("__pid") && col("mmr_u").isNull,
            col("__pm")).otherwise(col("mmr_u")).as("mmr_u"))
        .localCheckpoint(true)
      release(prev)
    }
    state.filter(col("rank").isNotNull)
      .select(col("q_id"), col("rank"), col("doc_id"), col("mmr_u"))
  }

  private def mmrRows(df: DataFrame): Seq[(Long, Int, Long, Option[Long])] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq.sorted

  test("mmrRerank equals the k-step reference on seeded candidate lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(131)
    // a few shared vectors, so exact score ties are common: negative
    // components, a zero-norm vector, a null element, a shorter vector
    val protos = Seq[Seq[Any]](
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.6, 0.8, 0.0, 0.0),
      Seq(-1.0, 0.0, 0.0, 0.0), Seq(-0.3, 0.5, -0.7, 0.1),
      Seq(0.0, 0.0, 0.0, 0.0), Seq(0.2, null, 0.9, -0.4),
      Seq(0.5, -0.5, 0.5), Seq(0.1, 0.2, 0.3, 0.4))
      .map(_.map(_.asInstanceOf[java.lang.Double]))
    // docs 0..59 carry one of the vectors, doc 60 a null embedding;
    // docs 100.. have no row in `vecs` at all
    val vecs = ((0 until 60).map(d => (d.toLong, protos(rnd.nextInt(protos.size)))) :+
      (60L, null.asInstanceOf[Seq[java.lang.Double]]))
      .toDF("vec_id", "embedding").repartition(3)
    val rels = Seq(0L, 1000000L, 5000000L, 20000000L)
    val cand = (1L to 40L).flatMap { q =>
      val docs = rnd.shuffle((0L to 60L) ++ Seq(100L, 101L))
        .take(1 + rnd.nextInt(9))
      docs.map(d => (q, d, rels(rnd.nextInt(rels.size))))
    }
    val candDf = cand.toDF("q_id", "doc_id", "rel_u").repartition(5)
    for ((k, relW, penW) <- Seq((6, 1L, 33L), (3, 7L, 2L))) {
      val got = mmrRows(Retrieval.mmrRerank(candDf, vecs, "vec_id",
        "embedding", k, relW, penW))
      val want = mmrRows(mmrRerankSteps(candDf, vecs, "vec_id",
        "embedding", k, relW, penW))
      assert(got === want, s"k=$k relW=$relW penW=$penW")
      // rank 1 is the max-relevance candidate with a vector, ties to
      // the smaller doc_id — the lists above tie there often
      val first = got.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
      val withVec = cand.filter(_._2 <= 60L).groupBy(_._1)
      assert(first === withVec.map { case (q, cs) =>
        q -> cs.minBy(c => (-c._3, c._2))._2 })
      assert(withVec.exists(_._2.map(_._3).groupBy(identity)
        .exists(_._2.size > 1)))
    }
  }

  test("mmrRerank fails on an overflowing score instead of wrapping") {
    import spark.implicits._
    val cand = Seq((7L, 1L, Long.MaxValue / 2), (7L, 2L, 1L))
      .toDF("q_id", "doc_id", "rel_u")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    for (rerank <- Seq(Retrieval.mmrRerank _, mmrRerankSteps _)) {
      val e = intercept[Exception](
        rerank(cand, vecs, "vec_id", "embedding", 2, 3L, 33L).collect())
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e)
    }
  }

  test("hybrid lexical leg drops self-matches when probes overlap corpus") {
    import spark.implicits._
    // probe doc 5 exists verbatim in the corpus: the dense leg excludes
    // it by id inside cosineTopK, and since r17 the lexical leg filters
    // q_id = doc_id too, so the fused list never contains the probe
    val docs = Seq((5L, "alpha beta gamma"), (6L, "alpha beta delta"),
      (7L, "epsilon zeta eta")).toDF("doc_id", "text")
    val embs = Seq((5L, Seq(1.0, 0.0)), (6L, Seq(0.9, 0.1)),
      (7L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridBm25CosineTopK(
      docs, "doc_id", "text", embs, "vec_id", "embedding",
      docs.filter(col("doc_id") === 5L), embs.filter(col("vec_id") === 5L),
      kPerLeg = 3, k = 3)
      .collect().map(r => r.getAs[Long]("doc_id"))
    assert(out.nonEmpty && !out.contains(5L))
  }

  test("ANN hybrid recalls most of the exact hybrid's fused page") {
    val dir = "/root/testdata/sf0.001"
    val docs = core.Tables.load(spark, dir, "documents")
    val embs = core.Tables.load(spark, dir, "embeddings")
    val corpusDocs = docs.filter(col("doc_id") % 101 =!= 0)
    val corpusEmbs = embs.filter(col("vec_id") % 101 =!= 0)
    val probeDocs = docs.filter(col("doc_id") % 101 === 0)
    val probeEmbs = embs.filter(col("vec_id") % 101 === 0)
    graft.operators.AnnIndex.writeAnnIndex(corpusEmbs, "vec_id",
      "embedding", base = "graft_ann_retrspec", dim = 64,
      nCentroids = 16, m = 16, pqK = 16, buckets = 8)
    def page(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
    val exact = page(Retrieval.hybridBm25CosineTopK(
      corpusDocs, "doc_id", "text", corpusEmbs, "vec_id", "embedding",
      probeDocs, probeEmbs, kPerLeg = 10, k = 5))
    val ann = page(Retrieval.hybridBm25AnnTopK(spark,
      corpusDocs, "doc_id", "text", probeDocs, probeEmbs,
      "vec_id", "embedding", base = "graft_ann_retrspec",
      kPerLeg = 10, k = 5))
    assert(exact.nonEmpty && ann.nonEmpty)
    assert(ann.size === exact.size)
    // the lexical leg is shared verbatim; only the dense leg is
    // approximate (nProbe=4 of 16 cells + PQ distances), so the fused
    // pages must agree on well over half their members; 0.6 leaves
    // honest ANN headroom without letting a broken leg through
    val recall = (ann & exact).size.toDouble / exact.size
    info(f"fused-page recall vs exact hybrid: $recall%.3f")
    assert(recall >= 0.6, s"ANN hybrid recall $recall vs exact hybrid")
  }

  test("hybrid fusion equals hand-fused legs on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val docs = core.Tables.load(spark, dir, "documents")
    val embs = core.Tables.load(spark, dir, "embeddings")
    val corpusDocs = docs.filter(col("doc_id") % 101 =!= 0)
    val corpusEmbs = embs.filter(col("vec_id") % 101 =!= 0)
    val probeDocs = docs.filter(col("doc_id") % 101 === 0)
    val probeEmbs = embs.filter(col("vec_id") % 101 === 0)

    val hybrid = Retrieval.hybridBm25CosineTopK(
      corpusDocs, "doc_id", "text", corpusEmbs, "vec_id", "embedding",
      probeDocs, probeEmbs, kPerLeg = 10, k = 5)

    // hand-fuse: run the two legs directly, fold the RRF weights with
    // a window instead of the mergeable top-k aggregate
    val lex = CorpusStats.bm25TopK(corpusDocs, "doc_id", "text",
        probeDocs, "doc_id", "text", 10)
      .select(col("q_id").cast("long"), col("doc_id").cast("long"),
        col("rank"))
    val den = Similarity.cosineTopK(corpusEmbs, probeEmbs,
        "vec_id", "embedding", 10)
      .select(col("query_id").as("q_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf_u").desc, col("doc_id"))
    val expected = lex.union(den)
      .select(col("q_id"), col("doc_id"),
        floor(lit(1000000000.0) / (col("rank") + lit(60))).as("c"))
      .groupBy("q_id", "doc_id").agg(sum(col("c")).as("rrf_u"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_u"))

    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_u"))).toSet
    val h = key(hybrid)
    assert(h === key(expected))
    assert(h.nonEmpty)
    // every probe fused a full page (both legs returned ≥ 5 candidates
    // on the fixture)
    val perProbe = h.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perProbe.values.forall(_ === 5))
  }
}
