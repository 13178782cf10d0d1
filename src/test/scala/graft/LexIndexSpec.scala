package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, CorpusStats, LexIndex, Retrieval, StandingState}

/** Persisted BM25 postings state: scoring parity with the per-call
  * operator (bit-identical, both vocab-gate paths), append ≡ rebuild,
  * compaction as a pure layout operation, the ensure-key freshness
  * discipline, and the Exchange-free bucket-pruned state scan — the
  * lexical twin of AnnIndexSpec's standing-index contract. */
class LexIndexSpec extends SparkSpec {

  private val Base = "lstate"
  private val Buckets = 4
  private val K = 7

  private def freshTables(): Unit = {
    spark.catalog.clearCache()
    for (t <- Seq(s"${Base}_postings", s"${Base}_lexstats",
        s"${Base}_lexkey", s"${Base}_postings_compacting")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
  }

  /** sf0.001 documents plus degenerate rows (empty text, null text,
    * whitespace-only): they carry no postings but MUST count in N —
    * exactly the accounting bm25TopK does per call, so parity over
    * this corpus proves the stats-table path. */
  private def docs: DataFrame = {
    import spark.implicits._
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, ""), (900002L, null: String),
        (900003L, "   ")).toDF("doc_id", "text"))
  }

  private def probes: DataFrame = docs.filter(col("doc_id") % 23 === 0)

  /** The postings table's data files: a build rewrites every one of
    * them, a skipped ensure leaves them as they were. */
  private def postingsFiles(): Set[String] =
    if (!spark.catalog.tableExists(s"${Base}_postings")) Set.empty
    else {
      spark.catalog.refreshTable(s"${Base}_postings")
      spark.table(s"${Base}_postings").inputFiles.toSet
    }

  private def rows(df: DataFrame): Set[(Long, Int, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("bm25TopKIndexed ≡ per-call bm25TopK, bit-identical (both gate paths)") {
    freshTables()
    val d = docs
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    // each operator on both sides of the probe-vocabulary bound: the
    // collected-vocabulary plan (the default at this size) and, with
    // the bound at 0, the plain-join gate
    val perCall = rows(CorpusStats.bm25TopK(d, "doc_id", "text",
      probes, "doc_id", "text", K))
    val perCallJoin = rows(CorpusStats.bm25TopKWithin(d, "doc_id", "text",
      probes, "doc_id", "text", K, dfCap = 1.0, probeBound = 0))
    val isin = LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K)
    val join = LexIndex.bm25TopKIndexedWithin(spark, probes,
      "doc_id", "text", Base, K, dfCap = 1.0, probeBound = 0)
    assert(perCallJoin === perCall)
    assert(rows(isin) === perCall)
    assert(rows(join) === perCall)
    assert(perCall.nonEmpty)
    // the bound picked the plan: only the collected vocabulary becomes
    // an IN predicate on the postings term
    def termIn(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.In |
             _: org.apache.spark.sql.catalyst.expressions.InSet => true
        case _ => false
      }))
    assert(termIn(isin))
    assert(!termIn(join))
  }

  test("dfCap stopword gating matches the per-call operator") {
    freshTables()
    val d = docs
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    val cap = 0.3
    val perCall = rows(CorpusStats.bm25TopK(d, "doc_id", "text",
      probes, "doc_id", "text", K, dfCap = cap))
    val indexed = rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K, dfCap = cap))
    assert(indexed === perCall)
    // the cap must actually change something on this corpus, or the
    // assertion above is vacuous
    assert(indexed !== rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K)))
  }

  test("append-then-query ≡ one-shot build over the union") {
    freshTables()
    val d = docs
    val old = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    LexIndex.writeLexIndex(old, "doc_id", "text", Base, Buckets)
    LexIndex.appendToLexIndexExactlyOnce(spark, batch, "doc_id", "text",
      Base, batchId = 1L, Buckets)
    val incremental = rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K))
    freshTables()
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    val oneShot = rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K))
    assert(incremental === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("compaction: results bit-identical, files collapse, bucket spec survives, append still works") {
    freshTables()
    val d = docs
    // fragment the postings table the way nightly ingest does
    val slices = 6
    LexIndex.writeLexIndex(d.filter(col("doc_id") % slices === 0),
      "doc_id", "text", Base, Buckets)
    for (b <- 1 until slices)
      LexIndex.appendToLexIndexExactlyOnce(spark,
        d.filter(col("doc_id") % slices === b), "doc_id", "text",
        Base, batchId = b.toLong, Buckets)
    def files: Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${Base}_postings"))
          .location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_"))
    }
    val before = rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K))
    val fragmented = files
    assert(fragmented > Buckets, "ingest must actually fragment")
    LexIndex.compactLexIndex(spark, Base, Buckets)
    // exactly one file per non-empty bucket (the r18 elided-repartition
    // regression guard — see compactAnnIndex's Scaladoc)
    val occupied = spark.table(s"${Base}_postings")
      .select(expr(s"pmod(hash(term), $Buckets)")).distinct().count()
    assert(files === occupied,
      s"expected one file per non-empty bucket ($occupied), got $files")
    val after = rows(LexIndex.bm25TopKIndexed(spark, probes,
      "doc_id", "text", Base, K))
    assert(after === before)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${Base}_postings"))
      .bucketSpec
    assert(spec.exists(s => s.numBuckets == Buckets &&
      s.bucketColumnNames == Seq("term")))
    // ingest keeps working against the compacted table
    import spark.implicits._
    LexIndex.appendToLexIndexExactlyOnce(spark,
      Seq((900010L, "zq zq unique tokens")).toDF("doc_id", "text"),
      "doc_id", "text", Base, batchId = slices.toLong, Buckets)
    assert(spark.table(s"${Base}_postings")
      .filter(col("doc_id") === 900010L).count() > 0)
  }

  test("ensureLexIndex: fresh key skips, corpus or bucket change rebuilds, crash window leaves no key") {
    freshTables()
    StandingState.clearSnapshotMemo()
    val d = docs
    val key = (d.count(), 424242L)
    // true when the call rebuilt the index
    def ensure(key: (Long, Long), buckets: Int): Boolean = {
      val before = postingsFiles()
      LexIndex.ensureLexIndex(d, "doc_id", "text", Base, key, buckets)
      postingsFiles() != before
    }
    assert(ensure(key, Buckets))
    assert(!ensure(key, Buckets))
    // different corpus key → rebuild (the memo is cleared first: with
    // the corpus files unchanged, a warm process would not re-derive
    // the key at all)
    StandingState.clearSnapshotMemo()
    assert(ensure((key._1, key._2 + 1), Buckets))
    // same key, different bucket count → different index → rebuild
    assert(ensure((key._1, key._2 + 1), Buckets * 2))
    // the crash-window ordering observable: a key only ever describes a
    // fully-committed index, so after every successful ensure exactly
    // one key row exists (a crash mid-build would have left zero)
    assert(spark.table(s"${Base}_lexkey").count() === 1)
  }

  test("ensureLexIndexSnap: steady state skips the key aggregation; " +
      "stale corpus and out-of-band key mutation still detected") {
    freshTables()
    StandingState.clearSnapshotMemo()
    val dir0 = java.nio.file.Files.createTempDirectory("lexsnap").toString
    docs.write.mode("overwrite").parquet(dir0)
    var dataDir = dir0
    def corpus: DataFrame = spark.read.parquet(dataDir)
    var evals = 0
    def key(c: DataFrame): (Long, Long) = {
      evals += 1
      val r = c.agg(count(lit(1)),
        coalesce(sum(col("doc_id").cast("long") +
          coalesce(length(col("text")), lit(0)).cast("long")), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val k1 = LexIndex.ensureLexIndex(corpus, "doc_id", "text", Base,
      key(corpus), Buckets)
    assert(evals === 1, "first call must derive the key from data")
    val k2 = LexIndex.ensureLexIndex(corpus, "doc_id", "text", Base,
      key(corpus), Buckets)
    assert(evals === 1, "steady state must NOT re-aggregate the corpus")
    assert(k2 === k1, "steady state must return the key in force")
    // the index answers correctly in steady state
    val perCall = rows(CorpusStats.bm25TopK(corpus, "doc_id", "text",
      corpus.filter(col("doc_id") % 23 === 0), "doc_id", "text", K))
    assert(rows(LexIndex.bm25TopKIndexed(spark,
      corpus.filter(col("doc_id") % 23 === 0), "doc_id", "text",
      Base, K)) === perCall)
    // OUT-OF-BAND corpus change: the backing file set changes (same
    // logical plan shape, different files) — the snapshot changes, so
    // the next ensure must re-derive the key and REBUILD. (A same-path
    // in-place rewrite changes lengths/mtimes and takes the identical
    // code path; it is not used here only because Spark's shared
    // FileStatusCache makes the SCAN itself fail loudly on vanished
    // files — stale listings never silently serve.)
    val dir1 = java.nio.file.Files.createTempDirectory("lexsnap2").toString
    docs.filter(col("doc_id") % 3 =!= 1).write
      .mode("overwrite").parquet(dir1)
    dataDir = dir1
    val k3 = LexIndex.ensureLexIndex(corpus, "doc_id", "text", Base,
      key(corpus), Buckets)
    assert(evals === 2, "changed corpus files must re-derive the key")
    assert(k3 !== k1)
    val perCall2 = rows(CorpusStats.bm25TopK(corpus, "doc_id", "text",
      corpus.filter(col("doc_id") % 23 === 0), "doc_id", "text", K))
    assert(rows(LexIndex.bm25TopKIndexed(spark,
      corpus.filter(col("doc_id") % 23 === 0), "doc_id", "text",
      Base, K)) === perCall2)
    // OUT-OF-BAND warehouse mutation: the persisted key table is the
    // scalar the steady-state check compares against — dropping it
    // must force the full data-derived path (and a rebuild)
    spark.sql(s"DROP TABLE ${Base}_lexkey")
    LexIndex.ensureLexIndex(corpus, "doc_id", "text", Base,
      key(corpus), Buckets)
    assert(evals === 3, "missing key table must re-derive the key")
    assert(spark.table(s"${Base}_lexkey").count() === 1)
  }

  test("state scan is bucketed, prunes to the probe vocabulary, and plans no state-side Exchange") {
    freshTables()
    val d = docs
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    val tiny = probes.limit(2)
    val conf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val prev = conf.map { case (kk, _) => kk -> spark.conf.get(kk) }
    conf.foreach { case (kk, v) => spark.conf.set(kk, v) }
    try {
      val qe = LexIndex.bm25TopKIndexed(spark, tiny, "doc_id", "text",
        Base, K).queryExecution
      val plan = qe.executedPlan
      val stateScans = plan.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == s"${Base}_postings") => f
      }
      assert(stateScans.nonEmpty)
      stateScans.foreach(f => assert(f.bucketedScan,
        "postings scan must be bucketed"))
      // no shuffle may sit between a postings scan and the df
      // aggregate: every Exchange in the plan must NOT have a postings
      // scan in its subtree below no intervening aggregate — simplest
      // sound check: the per-term df HashAggregate pair is adjacent to
      // the scan, i.e. no ShuffleExchange has a postings scan as a
      // descendant without an intervening aggregate. Here we assert
      // the stronger observable that holds for this plan shape: no
      // Exchange's immediate subtree contains a postings scan.
      val exchangesOverState = plan.collect {
        case e: ShuffleExchangeExec if e.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == s"${Base}_postings") => f
        }.nonEmpty && e.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.isEmpty => e
      }
      assert(exchangesOverState.isEmpty,
        "no shuffle of raw postings rows (aggregates bound all exchanges)")
    } finally prev.foreach { case (kk, v) => spark.conf.set(kk, v) }
  }

  test("hybridStandingTopK ≡ hybridBm25AnnTopK when both indexes cover the corpus") {
    freshTables()
    val annBase = "lstate_ann"
    spark.catalog.clearCache()
    for (t <- Seq("centroids", "codebooks", "codes"))
      spark.sql(s"DROP TABLE IF EXISTS ${annBase}_$t")
    val d = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"), col("text"))
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val corpusD = d.filter(col("doc_id") % 11 =!= 0)
    val corpusE = e.filter(col("vec_id") % 11 =!= 0)
    val probeD = d.filter(col("doc_id") % 11 === 0)
    val probeE = e.filter(col("vec_id") % 11 === 0)
    AnnIndex.writeAnnIndex(corpusE, "vec_id", "embedding", annBase,
      dim = 64, nCentroids = 8, m = 8, pqK = 8, buckets = Buckets)
    LexIndex.writeLexIndex(corpusD, "doc_id", "text", Base, Buckets)
    def fused(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val standing = fused(Retrieval.hybridStandingTopK(spark,
      probeD, "doc_id", "text", probeE, "vec_id", "embedding",
      lexBase = Base, annBase = annBase, kPerLeg = 8, k = 5))
    val perCallLex = fused(Retrieval.hybridBm25AnnTopK(spark,
      corpusD, "doc_id", "text", probeD, probeE, "vec_id", "embedding",
      base = annBase, kPerLeg = 8, k = 5))
    assert(standing === perCallLex)
    assert(standing.nonEmpty)
  }

  test("empty probe vocabulary returns an empty frame, not a crash") {
    freshTables()
    import spark.implicits._
    LexIndex.writeLexIndex(docs, "doc_id", "text", Base, Buckets)
    val emptyProbes = Seq((1L, ""), (2L, null: String))
      .toDF("doc_id", "text")
    assert(LexIndex.bm25TopKIndexed(spark, emptyProbes, "doc_id", "text",
      Base, K).count() === 0)
  }
  test("appendToLexIndexExactlyOnce: redelivery is a no-op, zero-token docs count once") {
    freshTables()
    import spark.implicits._
    val d = docs
    val old = d.filter(col("doc_id") % 3 =!= 0)
    LexIndex.writeLexIndex(old, "doc_id", "text", Base, Buckets)
    // the batch carries a zero-token doc: it leaves no postings, so
    // only the batch-id keying can keep its N contribution exact
    val batch = d.filter(col("doc_id") % 3 === 0)
      .unionByName(Seq((910001L, "")).toDF("doc_id", "text"))
    assert(LexIndex.appendToLexIndexExactlyOnce(spark, batch, "doc_id",
      "text", Base, batchId = 7L, Buckets))
    val nPost = spark.table(s"${Base}_postings").count()
    val stats = spark.table(s"${Base}_lexstats")
      .agg(sum("n_docs"), sum("n_toks")).head()
    val page = rows(LexIndex.bm25TopKIndexed(spark, probes, "doc_id",
      "text", Base, K))
    // redelivered batch (same id): nothing moves
    assert(!LexIndex.appendToLexIndexExactlyOnce(spark, batch, "doc_id",
      "text", Base, batchId = 7L, Buckets))
    assert(spark.table(s"${Base}_postings").count() === nPost)
    assert(spark.table(s"${Base}_lexstats")
      .agg(sum("n_docs"), sum("n_toks")).head() === stats)
    assert(rows(LexIndex.bm25TopKIndexed(spark, probes, "doc_id",
      "text", Base, K)) === page)
    // the crash window: postings landed but the stats row did not —
    // a redelivery with the same id must re-apply ONLY the stats row
    // (simulated by a fresh id over the same content: the anti-join
    // sees every doc already posted, so the postings append is empty
    // and only the new stats row lands)
    val preDocs = stats.getLong(0)
    assert(LexIndex.appendToLexIndexExactlyOnce(spark, batch, "doc_id",
      "text", Base, batchId = 8L, Buckets))
    assert(spark.table(s"${Base}_postings").count() === nPost,
      "already-posted docs must not duplicate postings")
    assert(spark.table(s"${Base}_lexstats").agg(sum("n_docs")).head()
      .getLong(0) === preDocs + batch.count(),
      "the stats row describes the full batch")
  }
  test("tombstones: scores ≡ a corpus that never held the docs; compact applies; N/T stay exact") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    val d = docs
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    // delete every 7th doc INCLUDING one degenerate zero-token doc
    // (900001 has no postings: only exact N/T bookkeeping can remove
    // its share)
    import spark.implicits._
    val dead = d.filter(col("doc_id") % 7 === 1).select("doc_id")
      .unionByName(Seq(900001L).toDF("doc_id"))
    LexIndex.tombstoneLexDocs(spark, Base, dead)
    LexIndex.tombstoneLexDocs(spark, Base, dead) // idempotent
    assert(spark.table(s"${Base}_tombstones").count() === dead.count())
    val live = d.filter(col("doc_id") % 7 =!= 1 &&
      col("doc_id") =!= 900001L)
    val want = rows(CorpusStats.bm25TopK(live, "doc_id", "text",
      probes, "doc_id", "text", K))
    val got = rows(LexIndex.bm25TopKIndexed(spark, probes, "doc_id",
      "text", Base, K))
    assert(got === want)
    assert(got.nonEmpty)
    // compact drops the deleted postings and FOLDS the tombstone
    // table to one null-keyed mass row (its N/T shares must keep
    // subtracting from the stats generations, which still count the
    // deleted docs — but per-id rows serve no purpose once the
    // postings are gone, and the anti-join must not grow with the
    // dead set)
    LexIndex.compactLexIndex(spark, Base, Buckets)
    assert(spark.catalog.tableExists(s"${Base}_tombstones"))
    val folded = spark.table(s"${Base}_tombstones").collect()
    assert(folded.length === 1 && folded.head.isNullAt(0),
      s"expected one null-keyed fold row, got ${folded.toSeq}")
    assert(StandingState.deadFraction(spark, s"${Base}_tombstones",
      d.count()) === 0.0, "folded mass is already applied — not dead weight")
    assert(spark.table(s"${Base}_postings")
      .filter(col("doc_id") % 7 === 1).count() === 0)
    assert(rows(LexIndex.bm25TopKIndexed(spark, probes, "doc_id",
      "text", Base, K)) === want)
    // a rebuild resets the delete set
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    assert(!spark.catalog.tableExists(s"${Base}_tombstones"))
  }

  test("re-append of a tombstoned id: refused until compaction, exact after the fold") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    import spark.implicits._
    val d = docs
    val victim = d.filter(col("doc_id") === 42L)
    assert(victim.count() === 1L)
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    LexIndex.tombstoneLexDocs(spark, Base, victim.select("doc_id"))
    // still tombstoned → the append would be invisible; refuse loudly
    val err = intercept[IllegalStateException] {
      LexIndex.appendToLexIndexExactlyOnce(spark, victim, "doc_id",
        "text", Base, batchId = 99L, Buckets)
    }
    assert(err.getMessage.contains("tombstoned id 42"))
    // after the fold the old generation row and the fold cancel, so a
    // re-append counts the doc exactly once: scores ≡ the full corpus
    LexIndex.compactLexIndex(spark, Base, Buckets)
    LexIndex.appendToLexIndexExactlyOnce(spark, victim, "doc_id", "text",
      Base, batchId = 100L, Buckets)
    val want = rows(CorpusStats.bm25TopK(d, "doc_id", "text",
      probes, "doc_id", "text", K))
    assert(rows(LexIndex.bm25TopKIndexed(spark, probes, "doc_id",
      "text", Base, K)) === want)
  }

  test("compactIfDead: fires past the dead-mass bound, no-ops below it") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    val d = docs
    LexIndex.writeLexIndex(d, "doc_id", "text", Base, Buckets)
    val tombs = s"${Base}_tombstones"
    // every indexed doc, zero-token ones included: N of the stats rows
    def docsIn = spark.table(s"${Base}_lexstats").agg(sum("n_docs"))
      .head().getLong(0)
    def compactIfDead(bound: Double): Boolean =
      StandingState.compactIfDead(spark, tombs, docsIn, bound)(
        LexIndex.compactLexIndex(spark, Base, Buckets))
    assert(!compactIfDead(0.3), "no tombstones → no compaction")
    // ~1/5 deleted: under a 0.3 bound, over a 0.1 bound
    LexIndex.tombstoneLexDocs(spark, Base,
      d.filter(col("doc_id") % 5 === 2).select("doc_id"))
    val frac = StandingState.deadFraction(spark, tombs, docsIn)
    assert(frac > 0.1 && frac < 0.3, s"fixture fraction $frac")
    assert(!compactIfDead(0.3))
    assert(compactIfDead(0.1))
    // the fold row left behind carries applied mass, not dead keys
    assert(StandingState.deadFraction(spark, tombs, docsIn) === 0.0)
    assert(!compactIfDead(0.1), "already applied — must not loop")
  }
}
