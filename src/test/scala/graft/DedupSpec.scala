package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, StandingState, TextAnalysis}

class DedupSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (0L, base),
      (1L, base),                                     // exact dup of 0
      (2L, base.replace("lazy", "sleepy")),           // near dup of 0
      (3L, "completely different words entirely here now then when how why what"),
      (4L, "spark engines shuffle partitions across executors with broadcast joins")
    ).toDF("doc_id", "text")
  }

  test("exactGroups groups identical texts, keeps min id") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text")
    assert(g.count() === 4)
    val dup = g.filter(col("n_copies") === 2).collect()
    assert(dup.length === 1 && dup.head.getAs[Long]("keep_doc_id") === 0L)
  }

  test("shingles: distinct word n-grams; short docs → empty set") {
    import spark.implicits._
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s"))
    val got = df.collect().map(_.getSeq[String](0)).toSeq
    assert(got.head === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
  }

  test("sortedShingleHashes ≡ the declarative HOF chain, bit-exact") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    for (n <- Seq(1, 3, 8)) {
      val diffs = docs.select(
          Dedup.sortedShingleHashes(split(col("text"), " "), n).as("fast"),
          array_sort(transform(
            Dedup.shinglesOfTokens(split(col("text"), " "), n),
            s => xxhash64(s))).as("hof"))
        .filter(col("fast") =!= col("hof")).count()
      assert(diffs === 0, s"n=$n: fused kernel diverged from HOF chain")
    }
    // short docs → empty set, same as the null-padded zip_with filter
    import spark.implicits._
    val short = Seq("a b").toDF("text")
      .select(Dedup.sortedShingleHashes(split(col("text"), " "), 3))
      .collect().head.getSeq[Long](0)
    assert(short === Seq.empty)
  }

  test("duplicateClusters releases its intermediates; releaseAll frees the rest") {
    import spark.implicits._
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    // scope the pin accounting to THIS test's RDDs — suites share one
    // SparkContext and may pin concurrently
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // localEdgeLimit=0 forces the distributed loop (the fast path pins
    // nothing at all — asserted in the equivalence test below)
    val clusters = Dedup.duplicateClusters(pairs, localEdgeLimit = 0)
    assert(clusters.count() === 5)
    // the edge list and per-iteration label tables were released as the
    // loop advanced; only the final (returned) label table stays pinned
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.size === 1, s"exactly the output may remain pinned: $mine")
    // the long-lived-session hook clears that too
    graft.ops.materialize.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .intersect(mine).isEmpty)
  }

  test("duplicateClusters: union-find fast path ≡ distributed loop") {
    import spark.implicits._
    spark.catalog.clearCache()
    // random graph with chains (deep components exercise path halving
    // and multi-iteration propagation alike), self-contained seed
    val rnd = new scala.util.Random(7)
    val chain = (0 until 30).map(i => (100L + i, 101L + i))
    val random = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val pairs = (chain ++ random).toDF("doc_a", "doc_b")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val fast = canon(Dedup.duplicateClusters(pairs))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the fast path must leave nothing pinned")
    val loop = canon(Dedup.duplicateClusters(pairs, maxIter = 50,
      localEdgeLimit = 0))
    graft.ops.materialize.releaseAll()
    assert(fast === loop)
  }

  test("incrementalNearDedup over two batches ≡ one-shot over the union") {
    spark.catalog.clearCache()
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (n, k, bands, t) = (3, 64, 8, 0.5)
    // ids are monotone across the split, matching ingest order
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val (s1, state1) = Dedup.incrementalNearDedup(b1, "doc_id", "text",
      None, n, k, bands, t)
    val (s2, state2) = Dedup.incrementalNearDedup(b2, "doc_id", "text",
      Some(state1), n, k, bands, t)
    val (oneShot, _) = Dedup.incrementalNearDedup(docs, "doc_id", "text",
      None, n, k, bands, t)
    assert(ids(s1) ++ ids(s2) === ids(oneShot),
      "incremental survivors must equal the one-shot survivors")
    // something was actually dropped, and the state covers every doc
    assert(ids(oneShot).size < ids(docs).size)
    assert(state2.count() === docs.count())
    graft.ops.materialize.releaseAll()
  }

  test("sortedShingleHashes drops null-bearing grams like the HOF chain") {
    import spark.implicits._
    // null ELEMENTS can't come from split(); the expression's input type
    // admits ArrayType(String, containsNull=true), so build arrays with
    // holes directly. The declarative chain's concat propagates null
    // through a gram and filter(isNotNull) then drops it — the kernel
    // must emit the same (smaller) hash set, not crash.
    val df = Seq(1, 2, 3).toDF("i").select(
      when(col("i") === 1,
          array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")))
        .when(col("i") === 2,
          array(lit(null).cast("string"), lit(null).cast("string")))
        .otherwise(array(lit("x"), lit("y")))
        .as("toks"))
    for (n <- Seq(1, 2, 3)) {
      val rows = df.select(
          Dedup.sortedShingleHashes(col("toks"), n).as("fast"),
          array_sort(transform(
            Dedup.shinglesOfTokens(col("toks"), n), s => xxhash64(s)))
            .as("hof"))
        .collect()
      rows.foreach(r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"n=$n"))
    }
  }

  test("jaccardPairs finds exact and near duplicates with correct similarity") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((0L, 1L)) === 1.0)            // exact dup
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(pairs.contains((1L, 2L)))
    assert(pairs.size === 3)                   // no cross-topic pairs
  }

  test("nearDedupKeep drops the higher-id member of dup pairs") {
    val kept = Dedup.nearDedupKeep(corpus, "doc_id", "text", 3, 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 3L, 4L))       // 1 dropped (exact dup of 0)
  }

  test("minHashCandidates recalls the true near-dup pairs (est ≈ exact)") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minHashCandidates(corpus, "doc_id", "text",
        n = 3, k = 32, bands = 8)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cand),
      s"missed true pairs: ${exact -- cand}")
  }

  test("minHash signature estimate approximates exact jaccard") {
    val est = Dedup.minHashCandidates(corpus, "doc_id", "text", 3, 128, 16)
      .filter(col("doc_a") === 0 && col("doc_b") === 2)
      .select("est_jaccard").collect()
    if (est.nonEmpty) {
      val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.0)
        .filter(col("doc_a") === 0 && col("doc_b") === 2)
        .select("jaccard").collect().head.getDouble(0)
      assert(math.abs(est.head.getDouble(0) - exact) < 0.25)
    }
  }

  test("simHash64: identical docs agree; near dups within small Hamming distance") {
    val sigs = corpus.select(col("doc_id"), Dedup.simHash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(2L)) < ham(sigs(0L), sigs(3L)),
      "near dup should be closer than unrelated doc")
  }

  test("duplicateClusters finds connected components with min-id labels") {
    import spark.implicits._
    // components: {1,2,3} via chain, {10,11}, singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters composes with jaccardPairs on the corpus") {
    val clusters = Dedup.duplicateClusters(
      Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.3)
        .select("doc_a", "doc_b"))
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0,1,2 are one near-dup cluster rooted at 0
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("rollingHash is order-sensitive, fingerprint is not whitespace-sensitive") {
    import spark.implicits._
    val df = Seq("a b c", "c b a", "a  b   c").toDF("text").select(
      TextAnalysis.rollingHash(col("text")).as("rh"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val rows = df.collect()
    assert(rows(0).getLong(0) !== rows(1).getLong(0)) // order matters
    assert(rows(0).getString(1) === rows(2).getString(1)) // whitespace collapsed
  }

  test("bucketed dedup state: survivors bit-identical, state never shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.catalog.clearCache()
    for (t <- Seq("dstate_sigs", "dstate_bands")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (n, k, bands, t) = (3, 64, 8, 0.5)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    // night 1 seeds the state; night 2 runs against the bucketed tables
    val (s1, state1) = Dedup.incrementalNearDedup(b1, "doc_id", "text",
      None, n, k, bands, t)
    Dedup.writeDedupState(state1, "dstate", k, bands, buckets = 8)
    val (s2, sigs2) = Dedup.incrementalNearDedupBucketed(spark, b2,
      "doc_id", "text", "dstate", n, k, bands, t)
    val (oneShot, _) = Dedup.incrementalNearDedup(docs, "doc_id", "text",
      None, n, k, bands, t)
    assert(ids(s1) ++ ids(s2) === ids(oneShot),
      "bucketed-state survivors must equal the one-shot survivors")
    // appending the batch completes the state for night 3
    Dedup.writeDedupState(sigs2, "dstate", k, bands, buckets = 8)
    assert(spark.table("dstate_sigs").count() === docs.count())

    // plan contract: with broadcast off, every state-table scan is
    // bucketed and NO shuffle sits above one — only the batch moves
    val (prevAqe, prevBc) = (
      spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.incrementalNearDedupBucketed(spark, b2,
        "doc_id", "text", "dstate", n, k, bands, t)
        ._1.queryExecution.executedPlan
      val stateScans = plan.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("dstate")) => f
      }
      assert(stateScans.nonEmpty && stateScans.forall(_.bucketedScan),
        stateScans.map(s => s.tableIdentifier -> s.bucketedScan))
      // for every shuffle-family join touching a state table, the
      // state SIDE must reach the join with no Exchange in between —
      // downstream exchanges (candidate-pair distinct etc.) move pair
      // rows, not state rows, and are fine
      def hasStateScan(p: org.apache.spark.sql.execution.SparkPlan) = {
        val leaves = p.collectLeaves()
        // the side that IS the state read: all leaves are state scans
        // (a side merely containing one via the candidate pairs has
        // batch leaves too)
        leaves.nonEmpty && leaves.forall {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table.startsWith("dstate"))
          case _ => false
        }
      }
      def hasShuffle(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }.nonEmpty
      val joinSides = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          Seq(j.left, j.right)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          Seq(j.left, j.right)
      }.flatten
      val stateSides = joinSides.filter(hasStateScan)
      assert(stateSides.nonEmpty, "expected joins against the state tables")
      stateSides.foreach(s => assert(!hasShuffle(s),
        s"state side of a join must not shuffle:\n$s"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      graft.ops.materialize.releaseAll()
    }
  }

  test("WindowHashes kernel ≡ the declarative ngrams+xxhash64 chain") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    for (n <- Seq(1, 4, 8)) {
      def t = TextAnalysis.tokens(col("text"))
      val kernel = docs.select(col("doc_id"),
          posexplode(call_function("graft_window_hashes", t, lit(n))))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val declarative = docs.select(col("doc_id"),
          posexplode(TextAnalysis.ngrams(t, n)))
        .select(col("doc_id"), col("pos"), xxhash64(col("col")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(kernel === declarative, s"n=$n")
    }
    // null-bearing arrays: null grams drop and positions compact, like
    // the declarative chain's filter(isNotNull)
    import spark.implicits._
    val holes = Seq(1).toDF("i").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("t"))
    val k = holes.select(
        posexplode(call_function("graft_window_hashes", col("t"), lit(2))))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val d = holes.select(posexplode(filter(
        TextAnalysis.ngrams(col("t"), 2), x => x.isNotNull)))
      .select(col("pos"), xxhash64(col("col")))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(k === d && k.length === 1) // only "b c" survives
  }

  test("repeatedSpans finds exactly the corpus-duplicated windows") {
    import spark.implicits._
    // docs 10 and 11 share the 4-token span "one two three four" at
    // different positions; doc 12 shares nothing 4 tokens long
    val docs = Seq(
      (10L, "alpha one two three four beta gamma"),
      (11L, "one two three four delta epsilon zeta"),
      (12L, "one two three gamma four five six")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(got === Set((10L, 1, 2L), (11L, 0, 2L)))
    // the oracle-basis hash returns the same (doc, pos, count) set
    val md5 = Dedup.repeatedSpans(docs, "doc_id", "text", window = 4,
        baseHash = Some(Dedup.md5Hash60))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(md5 === got)
  }

  test("repeatedSpans pins the gram stage: both consumers read the cache") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha one two three four beta gamma"),
      (11L, "one two three four delta epsilon zeta")
    ).toDF("doc_id", "text")
    val plan = Dedup.repeatedSpans(docs, "doc_id", "text", window = 4)
      .queryExecution.executedPlan.toString
    // the tokenize+window-hash explode feeds the countDistinct agg AND
    // the probe side of the hot-span join; pinned, BOTH subtrees must
    // resolve to the cached relation (r13: the unpinned shape ran the
    // dominant stage twice per query)
    // (the Generate explode still appears in the plan STRING — inside
    // each InMemoryRelation's stored-plan description — so count the
    // cache scans, not the absence of Generate)
    val scans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(scans >= 2, s"expected both consumers on the cache, plan:\n$plan")
    spark.catalog.clearCache()
  }

  test("dupSpanCoverageFromSpans matches dupSpanCoverage on the same spans") {
    import spark.implicits._
    val docs = Seq(
      (20L, "one two three four five tail1 tail2"),
      (21L, "head one two three four five tailx"),
      (22L, "nothing shared with anyone here at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", window = 4)
    val viaSpans = Dedup.dupSpanCoverageFromSpans(docs, "doc_id", "text",
        window = 4, spans)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = Dedup.dupSpanCoverage(docs, "doc_id", "text", window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaSpans === direct)
    // the spans frame is stamped with the window it was cut at; a
    // mismatched reuse fails loudly instead of computing plausible-but-
    // wrong coverage (r14 ADVICE: the contract was documented, not
    // enforced)
    val e = intercept[IllegalArgumentException] {
      Dedup.dupSpanCoverageFromSpans(docs, "doc_id", "text",
        window = 8, spans)
    }
    assert(e.getMessage.contains("window=4"), e.getMessage)
    // a frame missing the span columns is rejected up front
    val e2 = intercept[IllegalArgumentException] {
      Dedup.dupSpanCoverageFromSpans(docs, "doc_id", "text",
        window = 4, docs)
    }
    assert(e2.getMessage.contains("span_pos"), e2.getMessage)
    spark.catalog.clearCache()
  }

  test("dupSpanCoverage counts overlap-covered tokens once") {
    import spark.implicits._
    // two docs share a 5-token run = two overlapping 4-token dup spans
    // in each; their union covers 5 tokens, not 8
    val docs = Seq(
      (20L, "one two three four five tail1 tail2"),
      (21L, "head one two three four five tailx"),
      (22L, "nothing shared with anyone here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverage(docs, "doc_id", "text", window = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(20L) === ((7, 5L)) && got(21L) === ((7, 5L)))
    assert(got(22L) === ((7, 0L)))
    val cov = Dedup.dupSpanCoverage(docs, "doc_id", "text", window = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(cov(20L) - 5.0 / 7) < 1e-12 && cov(22L) === 0.0)
  }
  test("compactDedupState: files collapse to one per non-empty bucket, " +
      "night-over-night survivors bit-identical, appends keep working") {
    spark.catalog.clearCache()
    for (t <- Seq("cstate_sigs", "cstate_bands", "cstate_sigs_compacting",
        "cstate_bands_compacting")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val (n, k, bands, t, buckets) = (3, 64, 8, 0.5, 8)
    // six nightly waves fragment both state tables
    val slices = 6
    var seen: Option[org.apache.spark.sql.DataFrame] = None
    for (b <- 0 until slices) {
      val batch = docs.filter(col("doc_id") % slices === b)
      val (_, sigs) = Dedup.incrementalNearDedup(batch, "doc_id", "text",
        seen, n, k, bands, t)
      val batchSigs = seen match {
        case None => sigs
        case Some(prev) => sigs.join(prev.select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      }
      Dedup.writeDedupState(batchSigs, "cstate", k, bands, buckets)
      seen = Some(sigs)
    }
    def files(table: String): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_"))
    }
    assert(files("cstate_sigs") > buckets && files("cstate_bands") > buckets,
      "nightly appends must actually fragment")
    val probe = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    def night(df: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDedupBucketed(spark, df, "doc_id", "text",
        "cstate", n, k, bands, t)._1
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = night(probe)
    Dedup.compactDedupState(spark, "cstate", buckets)
    // exactly one file per non-empty bucket on BOTH tables (the
    // elided-repartition regression guard, see compactAnnIndex)
    val occSigs = spark.table("cstate_sigs")
      .select(expr(s"pmod(hash(doc_id), $buckets)")).distinct().count()
    val occBands = spark.table("cstate_bands")
      .select(expr(s"pmod(hash(band, band_hash), $buckets)"))
      .distinct().count()
    assert(files("cstate_sigs") === occSigs)
    assert(files("cstate_bands") === occBands)
    assert(night(probe) === before,
      "compaction must not change dedup decisions")
    // bucket specs survived; the nightly append keeps working
    for ((table, cols) <- Seq("cstate_sigs" -> Seq("doc_id"),
        "cstate_bands" -> Seq("band", "band_hash"))) {
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
      assert(spec.exists(s => s.numBuckets == buckets &&
        s.bucketColumnNames == cols), s"$table bucket spec lost")
    }
    val extra = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val (_, extraSigs) = Dedup.incrementalNearDedupBucketed(spark, extra,
      "doc_id", "text", "cstate", n, k, bands, t)
    Dedup.writeDedupState(extraSigs, "cstate", k, bands, buckets)
    assert(spark.table("cstate_sigs")
      .filter(col("doc_id") >= 2000000L).count() > 0)
  }

  test("dedup-state tombstones: logical exclusion ≡ a state that never " +
      "ingested the docs; compaction applies physically and clears; " +
      "re-ingesting a deleted id is refused") {
    spark.catalog.clearCache()
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val (n, k, bands, t, buckets) = (3, 64, 8, 0.5, 8)
    val history = docs.filter(col("doc_id") < 250)
    val deleted = history.filter(col("doc_id") % 7 === 1)
    val batch = docs.filter(col("doc_id") >= 250)
    def seed(base: String, state: org.apache.spark.sql.DataFrame): Unit = {
      Dedup.resetDedupState(spark, base)
      Dedup.writeDedupState(state, base, k, bands, buckets)
    }
    def night(base: String) =
      Dedup.incrementalNearDedupBucketed(spark, batch, "doc_id", "text",
        base, n, k, bands, t)._1
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // full state, then DELETE the victim set
    val (_, fullState) = Dedup.incrementalNearDedup(history, "doc_id",
      "text", None, n, k, bands, t)
    seed("tstate", fullState)
    Dedup.tombstoneDedupDocs(spark, "tstate", deleted.select("doc_id"))
    Dedup.tombstoneDedupDocs(spark, "tstate", deleted.select("doc_id")) // idempotent
    assert(spark.table("tstate_tombstones").count() === deleted.count())
    // twin state that NEVER ingested the victims — ground truth
    val (_, twinState) = Dedup.incrementalNearDedup(
      history.filter(col("doc_id") % 7 =!= 1), "doc_id", "text",
      None, n, k, bands, t)
    seed("tstate_twin", twinState)
    val want = night("tstate_twin")
    assert(night("tstate") === want,
      "a deleted doc must neither shadow near-dups nor emit candidates")
    // the delete must actually CHANGE something, or the parity above
    // is vacuous: without the tombstones some batch doc is shadowed
    // only by a deleted history doc
    Dedup.resetDedupState(spark, "tstate2")
    Dedup.writeDedupState(fullState, "tstate2", k, bands, buckets)
    assert(night("tstate2") !== want,
      "fixture must contain a batch doc shadowed only by a deleted doc")
    // compaction applies physically (both tables) and clears
    def sigs = spark.table("tstate_sigs").count()
    val frac = StandingState.deadFraction(spark, "tstate_tombstones", sigs)
    assert(frac > 0.1, s"fixture dead mass $frac")
    assert(StandingState.compactIfDead(spark, "tstate_tombstones", sigs,
      0.1)(Dedup.compactDedupState(spark, "tstate", buckets)))
    assert(!spark.catalog.tableExists("tstate_tombstones"))
    assert(spark.table("tstate_sigs")
      .filter(col("doc_id") % 7 === 1 && col("doc_id") < 250).count() === 0)
    assert(spark.table("tstate_bands")
      .filter(col("doc_id") % 7 === 1 && col("doc_id") < 250).count() === 0)
    assert(night("tstate") === want,
      "compaction must not change dedup decisions")
    // re-ingesting a deleted id is refused while tombstoned
    Dedup.tombstoneDedupDocs(spark, "tstate",
      deleted.select("doc_id").limit(1))
    val victimSig = fullState.join(
      deleted.select("doc_id").limit(1), Seq("doc_id"), "left_semi")
    val err = intercept[IllegalStateException] {
      Dedup.writeDedupState(victimSig, "tstate", k, bands, buckets)
    }
    assert(err.getMessage.contains("tombstoned id"))
    for (b <- Seq("tstate", "tstate2", "tstate_twin"))
      Dedup.resetDedupState(spark, b)
  }
}
