package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("tokenCount ignores repeated spaces and empties") {
    import spark.implicits._
    val df = Seq("a  b c", "", "   ").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 0, 0))
  }

  test("punctCount counts sentence punctuation only") {
    import spark.implicits._
    val df = Seq("Hi, there! How are you? fine;").toDF("text")
      .select(TextAnalysis.punctCount(col("text")))
    assert(df.collect().head.getInt(0) === 4)
  }

  test("avgTokenLen = non-space chars / tokens, null on empty") {
    import spark.implicits._
    val df = Seq("ab cd", "").toDF("text")
      .select(TextAnalysis.avgTokenLen(col("text")))
    val got = df.collect().map(r => Option(r.get(0)))
    assert(got(0) === Some(2.0) && got(1) === None)
  }

  test("langId picks dominant marker language, 'und' when none") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog is here",
      "el perro y la casa de que los",
      "der hund und die katze das nicht",
      "le chat et les maisons du une",
      "zzz qqq www"
    ).toDF("text").select(TextAnalysis.langId(col("text")))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq("en", "es", "de", "fr", "und"))
  }

  test("fingerprint is stable across case and whitespace") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")))
    val fps = df.collect().map(_.getString(0))
    assert(fps(0) === fps(1))
  }

  test("rollingHash stays in [0, 1e9+7) and differs across token orders") {
    import spark.implicits._
    val df = Seq("x y z", "z y x", "x y z").toDF("text")
      .select(TextAnalysis.rollingHash(col("text")))
    val hs = df.collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < 1000000007L))
    assert(hs(0) !== hs(1))
    assert(hs(0) === hs(2))
  }

  test("quality signals: stopword density, lexical diversity, symbol load") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog",      // 2 stopwords ('and','the'×2) of 5
      "spam spam spam spam",      // TTR 1/4, no stopwords
      "{{%%}}",                   // pure symbols
      ""                          // empty → all null
    ).toDF("text").select(
      TextAnalysis.stopwordRatio(col("text")).as("sw"),
      TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
      TextAnalysis.symbolRatio(col("text")).as("sym"))
    val r = df.collect()
    assert(r(0).getDouble(0) === 3.0 / 5)           // the, and, the
    assert(r(0).getDouble(1) === 4.0 / 5)           // {the,cat,and,dog}
    assert(r(0).getDouble(2) === 0.0)
    assert(r(1).getDouble(0) === 0.0)
    assert(r(1).getDouble(1) === 1.0 / 4)
    assert(r(2).getDouble(2) === 1.0)
    assert(r(3).isNullAt(0) && r(3).isNullAt(1) && r(3).isNullAt(2))
  }

  test("maskPii masks URLs, emails and phones — in that order") {
    import spark.implicits._
    val df = Seq(
      "mail a.b+c@x-corp.co.id or call +62 (21) 555-0199 via https://x.co/p?q=1 now"
    ).toDF("text").select(TextAnalysis.maskPii(col("text")))
    assert(df.collect().head.getString(0) ===
      "mail <EMAIL> or call <PHONE> via <URL> now")
  }

  test("ngrams keeps frequencies; shingles is its distinct set") {
    import spark.implicits._
    val df = Seq("a b a b a").toDF("text").select(
      TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), 2).as("g"),
      graft.operators.Dedup.shingles(col("text"), 2).as("s"))
    val r = df.collect().head
    assert(r.getSeq[String](0) === Seq("a b", "b a", "a b", "b a"))
    assert(r.getSeq[String](1).sorted === Seq("a b", "b a"))
  }

  test("tokenEstimate counts word/number/punct runs with leading spaces") {
    import spark.implicits._
    val df = Seq(
      "Hello world",        // 2
      "it's 2024!",         // it + 's + space-2024 + ! → 4... see below
      ""                    // 0
    ).toDF("text").select(TextAnalysis.tokenEstimate(col("text")))
    val got = df.collect().map(_.getInt(0)).toSeq
    // "it's 2024!": [it][')s'→ "'" + s...] — pattern splits at the
    // apostrophe: "it", "'", "s", " 2024", "!"
    assert(got === Seq(2, 5, 0))
  }

  test("hashSplit: deterministic, fraction-accurate, complement partitions exactly") {
    import graft.operators.CorpusStats
    val df = spark.range(20000).toDF("id")
    val train = CorpusStats.hashSplit(df, "id", 0.25, "s1")
    val n = train.count()
    assert(math.abs(n / 20000.0 - 0.25) < 0.02, s"got $n of 20000")
    // rerun is identical (no RNG state)
    assert(CorpusStats.hashSplit(df, "id", 0.25, "s1").count() === n)
    // complement with the same salt partitions exactly
    val holdout = df.filter(
      !CorpusStats.hashSplitPredicate(org.apache.spark.sql.functions.col("id"),
        0.25, "s1"))
    assert(holdout.count() === 20000 - n)
    // fraction 1.0 keeps everything; 0.0 keeps NOTHING (no hash is
    // < "" — without the special case the threshold "00000000f…f"
    // would still admit a ~2^-32 sliver of the keyspace)
    assert(CorpusStats.hashSplit(df, "id", 1.0).count() === 20000)
    assert(CorpusStats.hashSplit(df, "id", 0.0).count() === 0)
  }

  test("slidingChunks: overlap, short tail, empty docs emit nothing") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val docs = Seq((1L, "a b c d e"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = CorpusStats.slidingChunks(docs, "doc_id", "text",
        chunkTokens = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e", 1),
      (3L, 0, "x", 1)))
  }

  test("slidingTokenChunks: exact-id windows, overlap, short tail, " +
      "decode round-trip, empty docs emit nothing") {
    import spark.implicits._
    import graft.operators.{Bpe, CorpusStats}
    // model: (a,b)→256, (ab,c)→257 — "abc" is ONE token, so the window
    // boundary falls in id space, not piece space
    val model = Bpe.BpeModel(Vector(("a", "b"), ("ab", "c")))
    val docs = Seq((1L, "abc abc abc abc"), (2L, ""), (3L, "q"))
      .toDF("doc_id", "text")
    // doc 1 ids: [257, 32,257, 32,257, 32,257] (Ġ=32 leads pieces 2-4)
    val got = CorpusStats.slidingTokenChunks(docs, "doc_id", "text",
        model, chunkTokens = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList,
        r.getInt(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === Seq(
      (1L, 0, List(257, 32, 257), 3, "abc abc"),
      (1L, 1, List(257, 32, 257), 3, "abc abc"),
      (1L, 2, List(257, 32, 257), 3, "abc abc"),
      (1L, 3, List(257), 1, "abc"),
      (3L, 0, List('q'.toInt), 1, "q")))
    // non-overlapping chunks tile the full id stream exactly
    val full = Seq((9L, "abc abc abc abc")).toDF("doc_id", "text")
    val ids = full.select(Bpe.tokenIds(col("text"), model))
      .head().getSeq[Int](0).toList
    val tiled = CorpusStats.slidingTokenChunks(full, "doc_id", "text",
        model, chunkTokens = 2, stride = 2)
      .orderBy("chunk_id").collect()
      .flatMap(_.getSeq[Int](2)).toList
    assert(tiled === ids)
  }

  test("epochShuffle: contiguous permutation, salt-independent draws") {
    import graft.operators.CorpusStats
    val df = spark.range(5000).toDF("id")
    def positions(salt: String) =
      CorpusStats.epochShuffle(df, "id", salt)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = positions("e0")
    // a contiguous permutation of 1..n
    assert(e0.values.toSeq.sorted === (1L to 5000L).toSeq)
    // deterministic, and a different salt draws a different permutation
    assert(positions("e0") === e0)
    assert(positions("e1") !== e0)
    graft.ops.materialize.releaseAll()
  }

  test("qualityBins: ntile per stratum over a deterministic order") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val df = (1 to 20).map(i => (i.toLong, if (i <= 12) "a" else "b", i * 10))
      .toDF("id", "src", "score")
    val got = CorpusStats.qualityBins(df, "src", col("score"), "id", 4)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    // stratum a: 12 rows → bins of 3; stratum b: 8 rows → bins of 2
    assert(got(1L) === 1 && got(3L) === 1 && got(4L) === 2)
    assert(got(12L) === 4 && got(13L) === 1 && got(20L) === 4)
  }

  test("contamination flags only docs sharing a probe n-gram") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a quick brown fox sleeps"),   // shares 'quick brown fox'
      (3L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val probes = Seq("the quick brown fox runs").toDF("text")
    val got = CorpusStats.contamination(docs, "doc_id", "text",
        probes, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares 'the quick brown' + 'quick brown fox'; doc 2 one gram
    assert(got === Map(1L -> 2L, 2L -> 1L))
  }

  test("tfIdf: rare terms outscore ubiquitous ones; smooth idf is safe") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val docs = Seq(
      (1L, "common rare"), (2L, "common"), (3L, "common")
    ).toDF("doc_id", "text")
    val s = CorpusStats.tfIdf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4))
      .toMap
    // rare: df=1 → idf = ln(4/2)+1; common: df=3 → idf = ln(4/4)+1 = 1
    assert(math.abs(s((1L, "rare")) - (math.log(2.0) + 1)) < 1e-12)
    assert(s((1L, "common")) === 1.0)     // ubiquitous term: smooth idf floor
    assert(s((1L, "rare")) > s((1L, "common")))
  }

  test("sequencePacking chunks the per-shard token stream at the budget") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val docs = Seq(
      (1L, "a", 60L), (2L, "a", 30L), (3L, "a", 50L), // cum 60,90,140
      (4L, "b", 250L)                                  // own shard, 3 chunks
    ).toDF("doc_id", "shard", "n_tok")
    val got = CorpusStats.sequencePacking(docs, "doc_id", "n_tok", "shard",
        budget = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) === (0L, 0L))   // tokens 0..59
    assert(got(2L) === (0L, 0L))   // tokens 60..89
    assert(got(3L) === (0L, 1L))   // tokens 90..139 — straddles chunk 0→1
    assert(got(4L) === (0L, 2L))   // tokens 0..249 of shard b spans 3 chunks
  }

  test("weightedSample keeps per-shard fractions deterministically") {
    import graft.operators.CorpusStats
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val df = spark.range(30000).select(col("id"),
      concat_ws("", lit("s"), col("id") % 3).as("shard"))
    val kept = CorpusStats.weightedSample(df, "id", "shard",
        weights = Map("s0" -> 1.0, "s1" -> 0.5), defaultFraction = 0.1)
      .groupBy("shard").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("s0") === 10000L)                       // keep-all exact
    assert(math.abs(kept("s1") / 10000.0 - 0.5) < 0.03)
    assert(math.abs(kept("s2") / 10000.0 - 0.1) < 0.03)
  }

  test("normalizeNfc recomposes combining sequences; ASCII passes through") {
    import spark.implicits._
    val df = Seq(
      "cafe\u0301",          // e + combining acute → é
      "café",           // already NFC
      "plain ascii stays"
    ).toDF("text").select(
      TextAnalysis.normalizeNfc(col("text")).as("nfc"),
      length(TextAnalysis.normalizeNfc(col("text"))).as("n"))
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows(0) === ("café", 4))   // recomposed, one char shorter
    assert(rows(1) === ("café", 4))
    assert(rows(2) === ("plain ascii stays", 17))
    // the whole point: both spellings now share one dedup fingerprint
    val fps = Seq("cafe\u0301", "caf\u00e9").toDF("text")
      .select(TextAnalysis.fingerprint(
        TextAnalysis.normalizeNfc(col("text"))))
      .collect().map(_.getString(0)).toSet
    assert(fps.size === 1)
  }

  test("null text propagates null through every per-row signal (no crash)") {
    import spark.implicits._
    val df = Seq(Option("real text here"), None).toDF("text")
    val out = df.select(
      TextAnalysis.tokenCount(col("text")).as("c1"),
      TextAnalysis.stopwordRatio(col("text")).as("c2"),
      TextAnalysis.tokenEstimate(col("text")).as("c3"),
      TextAnalysis.maskPii(col("text")).as("c4"),
      TextAnalysis.normalizeNfc(col("text")).as("c5"),
      TextAnalysis.fingerprint(col("text")).as("c6"),
      graft.operators.Dedup.sortedShingleHashes(split(col("text"), " "), 2)
        .as("c7"),
      graft.operators.Dedup.simHash64(col("text")).as("c8")).collect()
    assert(out(0).toSeq.forall(_ != null))
    assert((0 until out(1).length).forall(out(1).isNullAt))
  }

  test("vocabulary aggregates df and tf with hapax pruning") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val docs = Seq(
      (1L, "alpha beta alpha"), (2L, "beta gamma"), (3L, "beta")
    ).toDF("doc_id", "text")
    val v = CorpusStats.vocabulary(docs, "doc_id", "text", minDf = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v === Map("beta" -> (3L, 3L)))   // alpha df=1 and gamma df=1 pruned
  }

  test("c4 line gate keeps prose, drops short/unterminated/boilerplate") {
    import spark.implicits._
    val text = Seq(
      "This is a proper sentence.",     // kept
      "Too short.",                     // dropped: 2 words
      "no terminal punctuation here",   // dropped: no [.!?"] ending
      "Enable javascript to continue.", // dropped: boilerplate marker
      "Is this still prose? Yes!"       // kept
    ).mkString("\n")
    val df = Seq((1L, text)).toDF("doc_id", "text").select(
      size(TextAnalysis.lines(col("text"))).as("n"),
      size(TextAnalysis.c4KeptLines(col("text"))).as("k"),
      TextAnalysis.c4CleanText(col("text")).as("clean"),
      TextAnalysis.hasLoremIpsum(col("text")).as("lorem"),
      TextAnalysis.hasCodeBrace(col("text")).as("brace"))
    val r = df.collect()(0)
    assert(r.getInt(0) === 5 && r.getInt(1) === 2)
    assert(r.getString(2) ===
      "This is a proper sentence.\nIs this still prose? Yes!")
    assert(!r.getBoolean(3) && !r.getBoolean(4))
    assert(Seq((2L, "Lorem Ipsum dolor { }")).toDF("doc_id", "text")
      .select(TextAnalysis.hasLoremIpsum(col("text")),
        TextAnalysis.hasCodeBrace(col("text")))
      .collect()(0).toSeq === Seq(true, true))
  }

  test("normalizeUrl canonicalizes; hostOf extracts the quota key") {
    import spark.implicits._
    val cases = Seq(
      "https://www.Example.COM/A/b?q=1#f" -> ("example.com/A/b", "example.com"),
      "http://example.com/" -> ("example.com", "example.com"),
      "ftp://Www.Sub.Site.org/Files/X/" -> ("sub.site.org/Files/X", "sub.site.org"),
      "example.com/path" -> ("example.com/path", "example.com"),
      "https://example.com?only=query" -> ("example.com", "example.com"))
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.normalizeUrl(col("url")),
        TextAnalysis.hostOf(col("url")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === cases.map(_._2))
  }

  test("unigram cross-entropy scores rare-token docs above common-token docs") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // "the" dominates the corpus; doc 3 is all rare tokens
    val docs = Seq(
      (1L, "the the the the"), (2L, "the the cat"), (3L, "qzx wvu")
    ).toDF("doc_id", "text")
    val out = CorpusStats.unigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 4L && out(2L)._1 === 3L && out(3L)._1 === 2L)
    // N=9: nll(the)=ln(9/6), nll(cat|qzx|wvu)=ln(9/1); micro-nat
    // quantization bounds the error at 0.5e-6 per token
    assert(math.abs(out(1L)._2 - math.log(9.0 / 6)) < 1e-5)
    assert(out(1L)._2 < out(2L)._2 && out(2L)._2 < out(3L)._2)
    assert(math.abs(out(3L)._2 - math.log(9.0)) < 1e-5)
  }

  test("dsirResample: uniform weights reduce to a plain hash sample of " +
      "expected size; deterministic across calls") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // target == raw → every bucket's log-ratio is EXACTLY 0 (identical
    // ln arguments), all weights equal, keep probability = k/n
    val docs = (0L until 400L).map(i => (i, s"tok${i % 7} tok${i % 5} " +
      s"tok${i % 3} tok${i % 11}")).toDF("doc_id", "text")
    val kept = CorpusStats.dsirResample(docs, "doc_id", "text",
      docs, "text", fraction = 0.5)
    val ids = kept.select("doc_id").as[Long].collect().sorted
    assert(kept.columns.contains("score_q"))
    assert(kept.select("score_q").as[Long].collect().forall(_ == 0L),
      "raw==target must zero every score exactly")
    // binomial(400, 0.5): 4σ band = 200 ± 40
    assert(ids.length > 160 && ids.length < 240,
      s"expected ≈200 kept, got ${ids.length}")
    val again = CorpusStats.dsirResample(docs, "doc_id", "text",
        docs, "text", fraction = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq === again.toSeq, "selection must be deterministic")
  }

  test("dsirResample over-represents the target distribution in the " +
      "survivor mix") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // two disjoint-vocabulary styles, 50/50 in raw; target is pure A
    val docs = (0L until 300L).map { i =>
      val style = if (i % 2 == 0) "A" else "B"
      val t =
        if (style == "A") s"apple berry cherry apple berry date${i % 5}"
        else s"zinc yttrium xenon zinc yttrium tungsten${i % 5}"
      (i, style, t)
    }.toDF("doc_id", "style", "text")
    def survivors(buckets: Int): Array[(String, Long)] =
      CorpusStats.dsirResample(docs, "doc_id", "text",
          docs.filter(col("style") === "A"), "text", fraction = 0.3,
          buckets = buckets)
        .select("style", "score_q").as[(String, Long)].collect()
    val kept = survivors(4096)
    val a = kept.count(_._1 == "A").toLong
    val b = kept.count(_._1 == "B").toLong
    assert(a + b > 0, "resample kept nothing")
    assert(a > 5L * math.max(b, 1L),
      s"target style must dominate the survivors: A=$a B=$b")
    // the model's scores follow the likelihood ratio's sign — at the
    // default 4096 buckets and at a non-default 97 (a modulus that
    // disagreed with the fit would hash every bigram past the model
    // and zero all scores)
    for ((buckets, rows) <- Seq(4096 -> kept, 97 -> survivors(97))) {
      assert(rows.exists(_._1 == "A"), s"B=$buckets kept no target doc")
      assert(rows.forall { case (st, sc) => if (st == "A") sc > 0L
        else sc < 0L }, s"B=$buckets scores must follow the ratio")
    }
  }

  test("globalLineDedup removes corpus-wide boilerplate lines, keeps order") {
    import spark.implicits._
    val boiler = "accept our cookies to continue"
    val docs = Seq(
      (1L, s"unique first line\n$boiler\nunique last line", "a"),
      (2L, s"$boiler\nanother document body", "b"),
      (3L, s"third doc text\n$boiler", "c"),
      (4L, boiler, "d"),                       // all-boilerplate doc
      (5L, "rare line\nrare line", "e")        // repeats WITHIN one doc only
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis
      .globalLineDedup(docs, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[String]("source")))).toMap
    // the 4-doc line is gone everywhere, order within docs preserved
    assert(out(1L)._1 === "unique first line\nunique last line")
    assert(out(2L)._1 === "another document body")
    assert(out(3L)._1 === "third doc text")
    // fully-boilerplate doc survives with empty text, other cols intact
    assert(out(4L) === (("", "d")))
    // per-doc repetition is NOT corpus frequency: 1 distinct doc ≤ maxDocs
    assert(out(5L)._1 === "rare line\nrare line")
  }

  test("temperatureMixture flattens a skewed domain mix deterministically") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // 100 'big' rows vs 4 'rare' rows; alpha=0.5, budget=0.5:
    // za = sqrt(100)+sqrt(4) = 12; r_big = 52*10/12/100 ≈ 0.433,
    // r_rare = 52*2/12/4 ≈ 2.17 → capped at 1.0 (keep everything)
    val docs = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 104L).map(i => (i, "rare"))).toDF("doc_id", "domain")
    val kept = CorpusStats.temperatureMixture(
      docs, "doc_id", "domain", alpha = 0.5, budgetFraction = 0.5)
    val byDomain = kept.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the rare domain hit the cap: every row kept
    assert(byDomain("rare") === 4L)
    // the big domain is thinned to ~43% (md5-uniform; loose bounds)
    assert(byDomain("big") >= 25L && byDomain("big") <= 62L, byDomain)
    // deterministic: the same call selects the same rows
    val again = CorpusStats.temperatureMixture(
      docs, "doc_id", "domain", alpha = 0.5, budgetFraction = 0.5)
    assert(kept.select("doc_id").except(again.select("doc_id")).count() === 0)
    assert(again.count() === kept.count())
    // flattening: the rare domain's keep RATE is >= the big domain's
    assert(byDomain("rare") / 4.0 >= byDomain("big") / 100.0)

    // null-domain rows are excluded from BOTH the output and the budget
    // math: rates over docs+nulls must equal rates over docs alone
    val withNulls = docs.unionByName(
      (900L to 949L).map(i => (i, null.asInstanceOf[String]))
        .toDF("doc_id", "domain"))
    val keptN = CorpusStats.temperatureMixture(
      withNulls, "doc_id", "domain", alpha = 0.5, budgetFraction = 0.5)
    assert(keptN.filter(col("domain").isNull).count() === 0)
    assert(keptN.select("doc_id").except(kept.select("doc_id")).count() === 0
      && kept.select("doc_id").except(keptN.select("doc_id")).count() === 0)
  }

  test("temperatureMixture plan stays flat at 150k domains (no " +
      "per-domain expression; corpus side never hash-partitioned)") {
    import graft.operators.CorpusStats
    // two rows per domain, 150k domains: the retired design collected
    // every domain to the driver and built a when-chain with one branch
    // per domain — at this cardinality that plan would blow the 64 KB
    // codegen method limit before ever running
    val docs = spark.range(300000L).select(col("id").as("doc_id"),
      concat(lit("host-"), col("id") % 150000L).as("domain"))
    val kept = CorpusStats.temperatureMixture(
      docs, "doc_id", "domain", alpha = 0.5, budgetFraction = 0.5)
    val plan = kept.queryExecution.executedPlan.toString
    // flat in domain cardinality: no domain value is embedded in the
    // plan, and the plan text is orders of magnitude below what 150k
    // inlined branches would produce
    assert(!plan.contains("host-1,"), "per-domain literal in plan")
    assert(plan.length < 50000, s"plan grew with domain count: ${plan.length}")
    // every n_d = 2 → r_d = budget = 0.5 exactly; the md5 carve keeps
    // roughly half (loose bounds; determinism is covered above)
    val n = kept.count()
    assert(n > 120000L && n < 180000L, n)
  }

  test("bigramKnScore: hand-checked KN probabilities; rare continuations " +
      "cost more") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // corpus bigrams: (a,b) twice, (a,c) once →
    //   P(b|a) = (2-.75)/3 + .75·2/3·(1/2) = 2/3
    //   P(c|a) = (1-.75)/3 + .75·2/3·(1/2) = 1/3   (sums to 1)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = CorpusStats.bigramKnScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - (-math.log(2.0 / 3))) < 1e-5)
    assert(math.abs(out(3L)._2 - (-math.log(1.0 / 3))) < 1e-5)
    // the rarer continuation is the more surprising document
    assert(out(3L)._2 > out(1L)._2)
    // sub-bigram docs are unscorable, not zero-scored
    assert(!out.contains(4L))
  }

  test("bigramKn probability mass sums to 1 per observed context") {
    import graft.operators.{CorpusStats, Dedup}
    // the smoothing identity Σ_w2 P(w2|w1) = 1 must hold over the real
    // corpus for EVERY context — the property that makes KN a
    // probability model rather than an ad-hoc score
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    def t = graft.operators.TextAnalysis.tokens(col("text"))
    val pairs = docs.select(explode(filter(zip_with(t,
        slice(t, lit(2), size(t)),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
        p => p.getField("w2").isNotNull)).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val bc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bc.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("t1"))
    val cont = bc.groupBy("w2").agg(count(lit(1)).as("r2"))
    val types = bc.agg(count(lit(1)).as("tbig"))
    val d = 0.75
    val p = (col("c12").cast("double") - lit(d)) / col("c1").cast("double") +
      lit(d) * col("t1").cast("double") / col("c1").cast("double") *
        (col("r2").cast("double") / col("tbig").cast("double"))
    // Σ over the observed continuations of each context. The continuation
    // term P_cont only redistributes mass WITHIN observed bigram types
    // (corpus-as-its-own-LM has no unseen event), so each context's sum
    // must come out to exactly 1 up to float addition error.
    val sums = bc.join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(types)
      .groupBy("w1").agg(sum(p).as("mass"),
        (lit(1.0) - lit(d) * max(col("t1")).cast("double") /
          max(col("c1")).cast("double")).as("direct_mass"))
      .collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      val mass = r.getDouble(1)
      // direct term alone leaves exactly D·t1/c1 for the continuation
      // distribution; over observed-only continuations the total is
      // direct + D·t1/c1·(Σ r2/T over this context's continuations) ≤ 1
      assert(mass <= 1.0 + 1e-9, s"${r.getString(0)}: $mass")
      assert(mass > r.getDouble(2) - 1e-9, s"${r.getString(0)}: $mass")
    }
    // and globally, total continuation probability is exactly 1:
    // Σ_w2 P_cont(w2) = Σ r2 / T = 1
    val contTotal = cont.crossJoin(types)
      .agg(sum(col("r2").cast("double") / col("tbig").cast("double")))
      .collect().head.getDouble(0)
    assert(math.abs(contTotal - 1.0) < 1e-9)
  }

  // --- bm25TopK ------------------------------------------------------

  /** Scala BigInt replay of the operator's exact integer arithmetic —
    * the same rational rescaling (k1=6/5, b=3/4 ⇒ contribution
    * ⌊idf_µ·22·tf·T / (10·tf·T + 3T + 9·len·N)⌋) so any divergence is
    * a defect in the plan, not float noise. */
  private def bm25Expected(corpus: Seq[(Long, String)],
                           queries: Seq[(Long, String)],
                           k: Int): Seq[(Long, Int, Long, Long)] = {
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq
    val lens = corpus.map { case (id, t) => id -> toks(t).size.toLong }.toMap
    val n = corpus.size.toLong
    val tTot = lens.values.sum
    val posts = corpus.flatMap { case (id, t) =>
      toks(t).groupBy(identity).map { case (w, g) => (id, w, g.size.toLong) }
    }
    val qvocab = queries.flatMap { case (_, t) => toks(t) }.toSet
    val df = posts.filter(p => qvocab(p._2)).groupBy(_._2)
      .map { case (w, g) => w -> g.size.toLong }
    def idfU(dfw: Long): Long =
      math.floor((math.log(n.toDouble * 2 + 2)
        - math.log(dfw.toDouble * 2 + 1)) * 1e6 + 0.5).toLong
    val scores = for {
      (qid, qt) <- queries
      term <- toks(qt).distinct
      (did, w, tf) <- posts if w == term
    } yield {
      val num = BigInt(idfU(df(term))) * 22 * tf * tTot
      val den = BigInt(10) * tf * tTot + BigInt(3) * tTot +
        BigInt(9) * lens(did) * n
      ((qid, did), (num / den).toLong)
    }
    scores.groupBy(_._1).toSeq
      .map { case ((qid, did), cs) => (qid, did, cs.map(_._2).sum) }
      .groupBy(_._1).toSeq.flatMap { case (qid, ds) =>
        ds.sortBy { case (_, did, s) => (-s, did) }.take(k).zipWithIndex
          .map { case ((_, did, s), i) => (qid, i + 1, did, s) }
      }
  }

  test("bm25TopK matches an exact BigInt replay, ranks rarer terms " +
    "higher, and normalizes by length") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val corpus = Seq(
      1L -> "apple banana cherry date",
      2L -> "apple apple apple apple apple apple apple apple",
      3L -> "banana kiwi",
      4L -> "cherry cherry plum kiwi mango papaya lime fig date plum",
      5L -> "plum mango",
      6L -> "apple banana")
    val queries = Seq(100L -> "apple banana", 200L -> "cherry")
    val got = CorpusStats.bm25TopK(
        corpus.toDF("doc_id", "text"), "doc_id", "text",
        queries.toDF("q_id", "text"), "q_id", "text", k = 3)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = bm25Expected(corpus, queries, 3)
      .sortBy(t => (t._1, t._2))
    assert(got === want)
    // doc 6 (short, both terms) must beat doc 2 (8× tf of one term):
    // tf saturation + length normalization, the point of BM25
    val q100 = got.filter(_._1 == 100L).map(_._3)
    assert(q100.indexOf(6L) < q100.indexOf(2L))
  }

  test("bm25TopK: k bounds output, ties break by doc_id, disjoint " +
    "query terms score nothing") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // docs 1 and 2 are identical ⇒ identical scores; doc_id must break
    // the tie deterministically
    val corpus = Seq(1L -> "x y", 2L -> "x y", 3L -> "x z")
    val got = CorpusStats.bm25TopK(
        corpus.toDF("doc_id", "text"), "doc_id", "text",
        Seq(9L -> "y", 8L -> "nothere").toDF("q_id", "text"),
        "q_id", "text", k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((9L, 1, 1L))) // q 8 matches nothing at all
  }

  test("bm25TopK rejects non-integral doc ids (the LONG aggregate slot " +
    "would silently corrupt '007'-style ids)") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val e = intercept[IllegalArgumentException] {
      CorpusStats.bm25TopK(
        Seq("007" -> "x y").toDF("doc_id", "text"), "doc_id", "text",
        Seq(9L -> "y").toDF("q_id", "text"), "q_id", "text", k = 1)
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("bm25TopK resolves the id column case-insensitively (Spark's " +
    "resolution rule) and accepts exact scale-0 decimals") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // 'DOC_ID' names the 'doc_id' field — Spark resolves columns
    // case-insensitively, so the up-front check must too (the r14
    // case-sensitive schema() lookup threw a raw field-missing error)
    val byCase = CorpusStats.bm25TopK(
        Seq(1L -> "x y", 2L -> "y z").toDF("doc_id", "text"),
        "DOC_ID", "text",
        Seq(9L -> "z").toDF("q_id", "text"), "q_id", "text", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(byCase.toSeq === Seq((9L, 2L)))
    // DECIMAL(18,0) ids are exact integral values: accepted, and the
    // result carries the id back at the declared type
    val dec = Seq(1L -> "x y", 2L -> "y z").toDF("doc_id", "text")
      .select(col("doc_id").cast("decimal(18,0)").as("doc_id"), col("text"))
    val viaDec = CorpusStats.bm25TopK(dec, "doc_id", "text",
        Seq(9L -> "z").toDF("q_id", "text"), "q_id", "text", k = 1)
      .collect().map(r => (r.getLong(0), r.getDecimal(2).longValueExact()))
    assert(viaDec.toSeq === Seq((9L, 2L)))
    // fractional decimals still rejected with the tailored message
    val frac = Seq(1L -> "x").toDF("doc_id", "text")
      .select(col("doc_id").cast("decimal(10,2)").as("doc_id"), col("text"))
    val e2 = intercept[IllegalArgumentException] {
      CorpusStats.bm25TopK(frac, "doc_id", "text",
        Seq(9L -> "x").toDF("q_id", "text"), "q_id", "text", k = 1)
    }
    assert(e2.getMessage.contains("integral id column"), e2.getMessage)
    // a genuinely missing column gets the tailored not-found message
    val e3 = intercept[IllegalArgumentException] {
      CorpusStats.bm25TopK(
        Seq(1L -> "x").toDF("doc_id", "text"), "nope", "text",
        Seq(9L -> "x").toDF("q_id", "text"), "q_id", "text", k = 1)
    }
    assert(e3.getMessage.contains("not found"), e3.getMessage)
  }

  test("Gopher repetition/format signals: hand-checked fractions, " +
      "null propagation, all-unique and all-dup edges") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines, "a" twice → dup_line 1-3/4; chars: total 1+1+2+2=6,
      // unique lines {a,bb,cc} = 5 → char frac 1/6
      ("a\na\nbb\ncc", 0),
      // unique everything
      ("x\ny", 1),
      // bullets: 2 of 4 lines; ellipsis: 1 of 4 (unicode …)
      ("- one\n * two\nplain\nwait …", 2),
      // paragraphs: p1,p1,p2 → dup_para 1/3
      ("p1\n\np1\n\np2", 3),
      (null.asInstanceOf[String], 4))
      .toDF("t", "id")
    val out = docs.select(col("id"),
        TextAnalysis.dupLineFraction(col("t")).as("dl"),
        TextAnalysis.dupParagraphFraction(col("t")).as("dp"),
        TextAnalysis.dupLineCharFraction(col("t")).as("dc"),
        TextAnalysis.bulletLineFraction(col("t")).as("bl"),
        TextAnalysis.ellipsisLineFraction(col("t")).as("el"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getDouble(1) === 1.0 - 3.0 / 4.0)   // dup lines
    assert(out(0).getDouble(3) === 1.0 - 5.0 / 6.0)   // dup chars
    assert(out(1).getDouble(1) === 0.0)
    assert(out(1).getDouble(3) === 0.0)
    assert(out(2).getDouble(4) === 0.5)               // bullets
    assert(out(2).getDouble(5) === 0.25)              // ellipsis
    assert(out(3).getDouble(2) === 1.0 - 2.0 / 3.0)   // dup paragraphs
    assert((1 to 5).forall(out(4).isNullAt))          // null text
    // the top-n-gram repetition score over the same kind of edges
    val grams = Seq(
      (1L, "spam ham spam ham spam ham"),   // 'spam ham' 3× of 5 grams → 6/6 tokens
      (2L, "one two three four five six"),  // all grams unique → 2/6
      (3L, "solo")                          // no 2-grams → null score
    ).toDF("doc_id", "text")
    val scores = graft.operators.CorpusStats
      .topNgramFraction(grams, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(scores(1L) === Some(1.0))        // 3 hits × 2 tokens / 6 tokens
    assert(scores(2L) === Some(2.0 / 6))
    assert(scores(3L) === None)
  }
}
