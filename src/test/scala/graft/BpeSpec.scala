package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Bpe
import graft.plans.BpeEncodeIds

class BpeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

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

  test("byte alphabet is the public GPT-2 bijection") {
    // the three famous anchors: space → Ġ (U+0120), newline → Ċ
    // (U+010A), printable ASCII maps to itself
    assert(BpeEncodeIds.byteToChar(0x20) === 'Ġ')
    assert(BpeEncodeIds.byteToChar(0x0a) === 'Ċ')
    assert(BpeEncodeIds.byteToChar('a'.toInt) === 'a')
    assert(BpeEncodeIds.byteToChar('!'.toInt) === '!')
    // bijection: 256 distinct images, inverse closes the loop
    assert(BpeEncodeIds.byteToChar.distinct.length === 256)
    assert((0 until 256).forall(b =>
      BpeEncodeIds.charToByte(BpeEncodeIds.byteToChar(b).toInt) === b))
  }

  test("encode applies ranked merges classically on a hand example") {
    import spark.implicits._
    // merges: rank0 (a,b) → "ab" id 256; rank1 (ab,c) → "abc" id 257
    val model = Bpe.BpeModel(Vector(("a", "b"), ("ab", "c")))
    val out = Seq("abc ab", "aaa", "").toDF("t")
      .select(Bpe.tokenIds(col("t"), model).as("ids"))
      .collect().map(_.getSeq[Int](0).toList)
    // "abc ab": pieces "abc" and " ab"; "abc" → [a,b,c] → [ab,c] →
    // [abc] = [257]; " ab" → [Ġ,a,b] → [Ġ,ab] = [32, 256] (a single-
    // byte symbol's id IS its byte value)
    assert(out(0) === List(257, 32, 256))
    // "aaa": (a,a) has no rank → three byte tokens
    assert(out(1) === List(97, 97, 97))
    assert(out(2) === List())
  }

  test("merging all occurrences left-to-right skips overlaps") {
    import spark.implicits._
    val model = Bpe.BpeModel(Vector(("a", "a")))
    val out = Seq("aaa", "aaaa").toDF("t")
      .select(Bpe.tokenIds(col("t"), model).as("ids"))
      .collect().map(_.getSeq[Int](0).toList)
    assert(out(0) === List(256, 97))       // [aa, a]
    assert(out(1) === List(256, 256))      // [aa, aa]
  }

  test("fit is deterministic and produces a VALID ranked table") {
    val docs = Tables.load(spark, dir, "documents")
    val m1 = Bpe.fit(docs, "doc_id", "text", nMerges = 64)
    val m2 = Bpe.fit(docs, "doc_id", "text", nMerges = 64)
    assert(m1 === m2)
    assert(m1.merges.nonEmpty)
    // validity (the property the one-merge-per-step oracle replay
    // leans on): every merge's left/right symbol is a single byte
    // char or the product of an EARLIER merge
    val known = collection.mutable.Set[String](
      (0 until 256).map(b =>
        String.valueOf(BpeEncodeIds.byteToChar(b))): _*)
    m1.merges.foreach { case (l, r) =>
      assert(known.contains(l), s"left symbol '$l' unseen at its rank")
      assert(known.contains(r), s"right symbol '$r' unseen at its rank")
      known += (l + r)
    }
  }

  test("indexed fit ≡ the reference full-recount fit, shallow to " +
      "exhaustion (the production-vocab path is bit-identical)") {
    val docs = Tables.load(spark, dir, "documents")
    // 16 (shallow), 200 (the q134 regime), 100000 (forces exhaustion:
    // the fixture vocabulary runs dry, so the two loops must also
    // agree on WHERE the merges stop)
    for (n <- Seq(16, 200, 100000)) {
      val fast = Bpe.fit(docs, "doc_id", "text", nMerges = n)
      val slow = Bpe.fitNaive(docs, "doc_id", "text", nMerges = n)
      assert(fast.merges === slow.merges, s"diverged at nMerges=$n")
      if (n == 100000)
        assert(fast.merges.length < n, "fixture should exhaust")
    }
  }

  test("classic merge-all ≡ one-merge-per-step replay on the fitted " +
      "model (the DuckDB oracle's form)") {
    val docs = Tables.load(spark, dir, "documents")
    val model = Bpe.fit(docs, "doc_id", "text", nMerges = 128)
    val rank = model.merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val mergedOf = model.merges.map { case (l, r) => (l, r) -> (l + r) }.toMap
    // one-merge-per-step: merge ONLY the leftmost occurrence of the
    // best-ranked pair, then re-select — the recursive-CTE shape
    def oneStep(piece: String): List[String] = {
      var syms = piece.getBytes("UTF-8").toList
        .map(b => String.valueOf(BpeEncodeIds.byteToChar(b & 0xff)))
      var go = true
      while (go && syms.length > 1) {
        val pairs = syms.zip(syms.tail).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i, p)) }
        if (pairs.isEmpty) go = false
        else {
          val (_, i, p) = pairs.minBy { case (r, i, _) => (r, i) }
          syms = syms.take(i) ++ List(mergedOf(p)) ++ syms.drop(i + 2)
        }
      }
      syms
    }
    val texts = docs.select(col("text")).collect().map(_.getString(0))
    val pieces = texts.flatMap { t =>
      val m = BpeEncodeIds.piecePattern.matcher(t)
      val b = List.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }.distinct
    // the synthetic fixture vocabulary is small (~61 distinct pieces)
    // but still covers multi-merge words, punctuation and spaces
    assert(pieces.length > 50)
    val table = {
      import spark.implicits._
      // run the engine kernel over each piece as a one-piece document
      val out = pieces.toSeq.toDF("t")
        .select(col("t"), Bpe.tokenIds(col("t"), model).as("ids"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
      out
    }
    val mergedIds = model.merges.zipWithIndex
      .map { case ((l, r), i) => (l + r) -> (256 + i) }.toMap
    val vocabId = (s: String) =>
      if (s.length == 1) BpeEncodeIds.charToByte(s.charAt(0).toInt)
      else mergedIds(s)
    pieces.foreach { p =>
      val replay = oneStep(p).map(vocabId)
      assert(table(p) === replay, s"divergence on piece '$p'")
    }
  }

  test("kernel: codegen ≡ interpreted on the corpus, null-safe") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val model = Bpe.fit(docs, "doc_id", "text", nMerges = 64)
    def run() = docs
      .select(col("doc_id"), Bpe.tokenIds(col("text"), model).as("ids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    assert(run() === interpreted(run()))
    val nulls = Seq((1L, null: String), (2L, "hi")).toDF("id", "t")
      .select(Bpe.tokenIds(col("t"), model).as("ids")).collect()
    assert(nulls(0).isNullAt(0))
    assert(!nulls(1).isNullAt(0))
  }

  test("decode inverts encode byte-for-byte on fully-consumed text") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val model = Bpe.fit(docs, "doc_id", "text", nMerges = 128)
    // the fixture corpus is single-spaced ASCII: the pre-tokenizer
    // consumes every byte, so the round trip must be exact on all
    // 500 documents
    val bad = docs.select(col("doc_id"), col("text"),
        Bpe.decode(Bpe.tokenIds(col("text"), model), model).as("rt"))
      .filter(col("rt") =!= col("text")).count()
    assert(bad === 0L)
    // dropped bytes are gone by contract: a double space survives as
    // ONE leading-space piece (the other byte was never consumed)
    val lossy = Seq("a  b").toDF("t")
      .select(Bpe.decode(Bpe.tokenIds(col("t"), model), model))
      .head().getString(0)
    assert(lossy === "a b")
    // out-of-range ids must fail loudly, not decode to garbage (the
    // exception surfaces raw or Spark-wrapped depending on whether the
    // local relation constant-folds)
    val boom = intercept[Throwable] {
      Seq(Seq(256 + model.merges.length)).toDF("ids")
        .select(Bpe.decode(col("ids"), model)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(boom).exists(_.contains("BPE id")))
  }

  test("packTokenSequences tiles the id stream exactly") {
    import spark.implicits._
    val docs = Seq((1L, Seq(1, 2, 3)), (2L, Seq(4, 5)), (3L, Seq.empty[Int]),
      (4L, Seq(6, 7, 8, 9))).toDF("doc_id", "ids").repartition(3)
    val out = graft.operators.CorpusStats
      .packTokenSequences(docs, "doc_id", "ids", seqLen = 4)
      .collect().map(r => (r.getAs[Long]("seq_id"),
        r.getAs[Seq[Int]]("ids"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_docs"))).sortBy(_._1)
    // stream 1..9 in doc order → [1,2,3,4] [5,6,7,8] [9]; doc 2
    // straddles seqs 0/1, doc 4 straddles 1/2, doc 3 is empty
    assert(out.toSeq === Seq(
      (0L, Seq(1, 2, 3, 4), 4L, 2L),
      (1L, Seq(5, 6, 7, 8), 4L, 2L),
      (2L, Seq(9), 1L, 1L)))
  }

  test("packTokenSequences over real BPE ids: total conservation and " +
      "fixed lengths") {
    val docs = Tables.load(spark, dir, "documents")
    val model = Bpe.fit(docs, "doc_id", "text", nMerges = 64)
    val withIds = docs.select(col("doc_id"),
      Bpe.tokenIds(col("text"), model).as("ids"))
    val packed = graft.operators.CorpusStats
      .packTokenSequences(withIds, "doc_id", "ids", seqLen = 256)
    val total = withIds.agg(sum(size(col("ids")).cast("long")))
      .head().getLong(0)
    val rows = packed.orderBy(col("seq_id")).collect()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === total)
    // every sequence but the last is exactly seqLen
    rows.dropRight(1).foreach(r =>
      assert(r.getAs[Seq[Int]]("ids").length === 256))
    // reassembled stream == the concatenated per-doc streams in order
    val stream = rows.toSeq.flatMap(
      _.getAs[scala.collection.Seq[Int]]("ids"))
    val expected = withIds.orderBy(col("doc_id")).collect().toSeq
      .flatMap(_.getAs[scala.collection.Seq[Int]]("ids"))
    assert(stream === expected)
  }

  test("exact token counts drive packing and shard manifests") {
    val docs = Tables.load(spark, dir, "documents")
    // 32 merges: the fixture's ~61-piece vocabulary must NOT merge to
    // one token per piece, or exact and estimated totals coincide (a
    // 128-merge model fully merges this synthetic vocab — measured)
    val model = Bpe.fit(docs, "doc_id", "text", nMerges = 32)
    val sized = docs.select(col("doc_id"),
      lit("s0").as("shard"),
      Bpe.tokenCount(col("text"), model).as("n_bpe"))
    // sequencePacking already takes the caller's token column — exact
    // counts ride through: chunk spans must cover exactly the BPE sum
    val packed = graft.operators.CorpusStats.sequencePacking(
      sized, "doc_id", "n_bpe", "shard", budget = 4096)
    val total = sized.agg(sum(col("n_bpe"))).head().getLong(0)
    val lastChunk = packed.agg(max(col("end_chunk"))).head().getLong(0)
    assert(lastChunk === (total - 1) / 4096)
    // the exact-count manifest conserves tokens and fills every shard
    // but the last to at least the budget boundary's reach
    val manifest = graft.operators.CorpusStats.shardManifestByCount(
      docs, "doc_id", Bpe.tokenCount(col("text"), model),
      tokensPerShard = 8192)
    val mTotal = manifest.agg(sum(col("n_tokens"))).head().getLong(0)
    assert(mTotal === total)
    // estimate-driven and exact-driven manifests genuinely differ —
    // the approximation this operator retires is MEASURABLE
    val est = graft.operators.CorpusStats.shardManifest(
      docs, "doc_id", "text", tokensPerShard = 8192)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(est !== mTotal)
  }
}
