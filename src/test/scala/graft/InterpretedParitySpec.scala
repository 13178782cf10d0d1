package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity

/**
 * A custom Catalyst expression ships TWO implementations: `eval()`
 * (interpreted) and `doGenCode()` (codegen). Every other spec exercises
 * only the codegen path — Spark silently falls back to `eval` under
 * codegen failures, nested-expression depth limits, or
 * `factoryMode=NO_CODEGEN`, so a divergence would surface as wrong
 * results only in production corner cases. This spec runs the same
 * plans in both modes and requires bit-identical output.
 */
class InterpretedParitySpec extends SparkSpec {

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def interpreted[T](f: => T): T =
    withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)

  test("graft_dot and graft_intersect_count: codegen ≡ interpreted, bit-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(300)((
      Seq.fill(rnd.nextInt(8))(rnd.nextDouble() * 2 - 1),
      Seq.fill(rnd.nextInt(8))(rnd.nextDouble() * 2 - 1),
      rnd.shuffle((0L to 40L).toList).take(rnd.nextInt(12)).sorted,
      rnd.shuffle((0L to 40L).toList).take(rnd.nextInt(12)).sorted))
    def run() = rows.toDF("va", "vb", "sa", "sb").select(
        call_function("graft_dot", col("va"), col("vb")).as("dot"),
        call_function("graft_intersect_count", col("sa"), col("sb")).as("ic"))
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq
    assert(run() === interpreted(run()))
  }

  test("graft_lsh_bucket: codegen ≡ interpreted ≡ the dot-per-plane " +
      "formulation, bit-exact (incl. empty/short/negative vectors)") {
    import spark.implicits._
    val planes = Similarity.hyperplanes(6, 8, seed = 7L)
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(300)(
      Seq.fill(rnd.nextInt(10))(rnd.nextDouble() * 2 - 1)) ++
      Seq(Seq.empty[Double], Seq(0.0), Seq(-1.0, -1.0))
    def run() = rows.toDF("v").select(
        Similarity.lshBucket(col("v"), planes).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val gen = run()
    val interp = interpreted(run())
    assert(gen === interp)
    // the reference semantics the kernel replaces: dot per plane,
    // Spark's >= comparison, OR of bits
    val ref = rows.toDF("v").select(
        planes.zipWithIndex.map { case (p, i) =>
          when(call_function("graft_dot", col("v").cast("array<double>"),
            typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(gen === ref)
  }

  test("graft_lsh_bucket rejects a planes matrix that is not an exact " +
      "multiple of dim (silent plane truncation otherwise)") {
    import spark.implicits._
    def bucket(nElems: Int, dim: Int) = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(call_function("graft_lsh_bucket", col("v"),
        typedLit(Seq.fill(nElems)(0.5)), lit(dim)))
      .collect()
    val e1 = intercept[Exception](bucket(7, 2))   // 3.5 "planes"
    assert(e1.getMessage.contains("multiple of dim"), e1.getMessage)
    val e2 = intercept[Exception](bucket(0, 2))   // empty matrix
    assert(e2.getMessage.contains("multiple of dim"), e2.getMessage)
    assert(bucket(4, 2).head.getLong(0) >= 0L)    // exact fit still fine
  }

  test("graft_topk aggregate: codegen ≡ interpreted plans, same ranking") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def run() = Similarity.cosineTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(run() === interpreted(run()))
  }

  test("quality signals and simhash: codegen ≡ interpreted on the corpus") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def run() = docs.select(col("doc_id"),
        TextAnalysis.stopwordRatio(col("text")).as("sw"),
        Dedup.simHash64(col("text")).as("sh"),
        TextAnalysis.rollingHash(col("text")).as("rh"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(run() === interpreted(run()))
  }

  test("graft_simhash64 kernel ≡ the 64-HOF reference, incl. null/empty " +
      "arrays and null elements") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(37)
    val rows: Seq[Seq[java.lang.Long]] =
      Seq.fill(200)(Seq.fill(rnd.nextInt(12))(
        java.lang.Long.valueOf(rnd.nextLong()))) ++
      Seq(null,                                       // null array → null
        Seq.empty[java.lang.Long],                    // empty → 0L
        Seq[java.lang.Long](null, 7L, null),          // null elems vote -1
        Seq[java.lang.Long](-1L),                     // all bits set
        Seq[java.lang.Long](0L, 0L))                  // all-zero hashes
    val df = rows.toDF("h")
    def run(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.select(c(col("h"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val kern = run(Dedup.simHash64OfHashes)
    assert(kern === run(Dedup.simHash64OfHashesReference))
    assert(kern === interpreted(run(Dedup.simHash64OfHashes)))
  }

  test("graft_quantize_int8 kernel ≡ the HOF reference, incl. null/empty/" +
      "all-zero vectors and null elements") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val rows: Seq[Seq[java.lang.Double]] =
      Seq.fill(200)(Seq.fill(rnd.nextInt(10))(
        java.lang.Double.valueOf(rnd.nextDouble() * 4 - 2))) ++
      Seq(null,                                         // null vector
        Seq.empty[java.lang.Double],                    // empty → scale 1
        Seq[java.lang.Double](0.0, -0.0),               // all-zero → scale 1
        Seq[java.lang.Double](null, 0.5, null),         // null elements
        Seq[java.lang.Double](1e-300, -1e-300),         // denormal-adjacent
        Seq[java.lang.Double](-1.0, 1.0, 0.25))
    val df = rows.toDF("v")
    def run(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.select(c(col("v")).as("q"))
        .select(col("q.scale"), col("q.codes"))
        .collect()
        .map(r => (r.getDouble(0),
          if (r.isNullAt(1)) null else r.getSeq[Any](1))).toSeq
    val kern = run(Similarity.quantizeInt8)
    assert(kern === run(Similarity.quantizeInt8Reference))
    assert(kern === interpreted(run(Similarity.quantizeInt8)))
  }

  test("graft_tokens kernel ≡ the split+filter reference on the corpus " +
      "and on whitespace edge cases") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val edges = Seq(null, "", " ", "   ", "a", " a", "a ", "  a  b  ",
      "a\tb", "a\nb", "a b", "héllo wörld ", "多 字 节",
      "x  y zzz").toDF("text")
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"))
    for (df <- Seq(edges, corpus)) {
      def run(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        df.select(c(col("text"))).collect()
          .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0)).toSeq
      val kern = run(TextAnalysis.tokens)
      assert(kern === run(TextAnalysis.tokensReference))
      assert(kern === interpreted(run(TextAnalysis.tokens)))
    }
  }

  test("graft_md5h60 kernel ≡ the conv(substring(md5)) reference on " +
      "random/unicode/empty strings and null") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(101)
    val rows: Seq[String] =
      Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq(null, "", " ", "héllo wörld", "多字节", "a b c d e f g h")
    val df = rows.toDF("s")
    def run(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.select(c(col("s"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val kern = run(Dedup.md5Hash60)
    assert(kern === run(Dedup.md5Hash60Reference))
    assert(kern === interpreted(run(Dedup.md5Hash60)))
    assert(kern.flatten.forall(_ >= 0L)) // 60 bits, never negative
  }

  test("graft_window_grams kernel ≡ the zip_with-chain reference on the " +
      "corpus and on null/short/n=1 edges") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val edges: Seq[Seq[String]] = Seq(
      null, Seq.empty[String], Seq("a"), Seq("a", "b"),
      Seq("a", "b", "c", "d"), Seq("a", null, "c", "d", "e"),
      Seq(null, null), Seq("多", "字", "节", "x"))
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(TextAnalysis.tokens(col("text")).as("t"))
    for ((df, cn) <- Seq((edges.toDF("t"), "t"), (corpus, "t")); n <- Seq(1, 3, 8)) {
      def run(c: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column) =
        df.select(c(col(cn), n)).collect()
          .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0)).toSeq
      val kern = run(TextAnalysis.ngrams)
      assert(kern === run(TextAnalysis.ngramsReference), s"n=$n")
      assert(kern === interpreted(run(TextAnalysis.ngrams)), s"n=$n interp")
    }
  }

  test("graft_eq_count kernel ≡ size(filter(zip_with)) reference, incl. " +
      "ragged lengths and null elements") {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      Seq.fill(300)((
        Seq.fill(rnd.nextInt(8))(java.lang.Long.valueOf(rnd.nextInt(4).toLong)),
        Seq.fill(rnd.nextInt(8))(java.lang.Long.valueOf(rnd.nextInt(4).toLong)))) ++
      Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
        (Seq.empty[java.lang.Long], Seq[java.lang.Long](1L)),
        (Seq[java.lang.Long](5L), Seq[java.lang.Long](5L, 5L, 5L)))
    val df = rows.toDF("a", "b")
    def run(kern: Boolean) =
      df.select((if (kern) call_function("graft_eq_count", col("a"), col("b"))
        else size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          x => x))).as("c"))
        .collect().map(_.getInt(0)).toSeq
    val k = run(kern = true)
    assert(k === run(kern = false))
    assert(k === interpreted(run(kern = true)))
  }

  test("graft_count_in kernel ≡ size(filter(isin)) reference on the " +
      "corpus and on null/empty edges") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val markers = TextAnalysis.langMarkers("en")
    val edges: Seq[Seq[String]] = Seq(
      null, Seq.empty[String], Seq("the", "the", "and"), Seq("x"),
      Seq(null, "the", null), Seq("THE"))
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(TextAnalysis.tokens(col("text")).as("t"))
    for (df <- Seq(edges.toDF("t"), corpus)) {
      def run(c: (org.apache.spark.sql.Column, Seq[String]) => org.apache.spark.sql.Column) =
        df.select(c(col("t"), markers)).collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
      val kern = run(TextAnalysis.markerHits)
      assert(kern === run(TextAnalysis.markerHitsReference))
      assert(kern === interpreted(run(TextAnalysis.markerHits)))
    }
  }

  test("every scalar kernel COMPILES under CODEGEN_ONLY — a janino " +
      "failure would otherwise silently fall back to interpreted eval") {
    import spark.implicits._
    val df = Seq((
      Seq(0.5, -1.0, 0.25), Seq(0.25, 0.5, 1.0),
      Seq(1L, 5L, 9L), "a b c d e f"))
      .toDF("va", "vb", "sa", "txt")
    val books = Seq(Seq(Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)))
    val out = withConf(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      df.select(
          call_function("graft_dot", col("va"), col("vb")),
          call_function("graft_intersect_count", col("sa"), col("sa")),
          call_function("graft_nfc", col("txt")),
          call_function("graft_shingle_hashes",
            split(col("txt"), " "), lit(3)),
          call_function("graft_window_hashes",
            split(col("txt"), " "), lit(3)),
          call_function("graft_minhash", col("sa"),
            typedLit(Seq(Seq(3L, 11L), Seq(5L, 7L)))),
          call_function("graft_simhash64", col("sa")),
          call_function("graft_quantize_int8", col("va")),
          call_function("graft_tokens", col("txt")),
          call_function("graft_md5h60", col("txt").cast("binary")),
          call_function("graft_window_grams", split(col("txt"), " "), lit(3)),
          call_function("graft_eq_count", col("sa"), col("sa")),
          call_function("graft_count_in", split(col("txt"), " "),
            typedLit(Seq("a", "c"))),
          call_function("graft_lsh_bucket", col("va"),
            typedLit(Seq(0.5, -0.5, 0.25, 0.1, 0.2, 0.3)), lit(3)),
          call_function("graft_bpe_encode", col("txt"),
            typedLit(Seq(Seq("a", "b"), Seq("c", "d")))),
          call_function("graft_pq_encode", col("va"), typedLit(books)),
          call_function("graft_adc_dist", typedLit(Seq(Seq(0.5, 1.5))),
            call_function("graft_pq_encode", col("va"), typedLit(books))))
        .collect()
    }
    assert(out.length === 1 && !out.head.anyNull)
  }

  test("graft_window_hashes: codegen ≡ interpreted on the corpus") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def run() = docs.select(col("doc_id"),
        call_function("graft_window_hashes",
          TextAnalysis.tokens(col("text")), lit(8)).as("wh"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(run() === interpreted(run()))
  }
}
