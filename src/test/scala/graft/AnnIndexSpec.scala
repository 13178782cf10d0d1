package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, ProductQuant, Similarity, StandingState}

/** Persisted IVF+PQ index state: search parity with the per-call
  * operator, Exchange-free state side, bucket pruning to the probed
  * cells, and encode-and-append ingest with no re-fit — the ANN twin
  * of DedupSpec's bucketed-state contract. */
class AnnIndexSpec extends SparkSpec {

  private val Base = "astate"
  private val (dim, nCent, m, pqK, buckets, nProbe, k) =
    (64, 8, 8, 8, 4, 3, 5)

  private def freshTables(): Unit = {
    spark.catalog.clearCache()
    for (t <- Seq(s"${Base}_centroids", s"${Base}_codebooks",
        s"${Base}_codes")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
  }

  private def embeddings =
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  /** The codes table's data files: a build rewrites every one of them,
    * a skipped ensure leaves them as they were. */
  private def codesFiles(): Set[String] =
    if (!spark.catalog.tableExists(s"${Base}_codes")) Set.empty
    else {
      spark.catalog.refreshTable(s"${Base}_codes")
      spark.table(s"${Base}_codes").inputFiles.toSet
    }

  test("bucketed search over persisted state ≡ per-call ivfPqTopK, bit-identical") {
    freshTables()
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val persisted = rows(AnnIndex.ivfPqTopKBucketed(spark, q,
      "vec_id", "embedding", k, Base, nProbe))
    // same deterministic fits → the per-call operator must agree on
    // every bit, sq_dist included (the state round-trips through
    // parquet, which is exact for doubles)
    val model = ProductQuant.fit(e, "embedding", dim, m, pqK,
      idCol = Some("vec_id"))
    val perCall = rows(ProductQuant.ivfPqTopK(e, q, "vec_id", "embedding",
      k, model, nCentroids = nCent, nProbe = nProbe))
    assert(persisted === perCall)
    assert(persisted.nonEmpty)
  }

  test("state side plans no Exchange and prunes to the probed buckets") {
    freshTables()
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val q = e.filter(col("vec_id") < 10)
    // force the shuffle-family join (the broadcast plan trivially has
    // no state-side exchange; the contract must hold when the probe
    // set is too big to broadcast) and keep the bucketed scan on
    val conf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val prev = conf.map { case (kk, _) => kk -> spark.conf.get(kk) }
    conf.foreach { case (kk, v) => spark.conf.set(kk, v) }
    try {
      val plan = AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id", "embedding",
        k, Base, nProbe).queryExecution.executedPlan
      val stateScans = plan.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == s"${Base}_codes") => f
      }
      assert(stateScans.nonEmpty)
      stateScans.foreach { f =>
        assert(f.bucketedScan, "codes scan must be bucketed")
        // the isin(probedCells) predicate must prune buckets: with
        // nProbe=3 of 8 cells over 4 buckets, strictly fewer than all
        // buckets can match
        val selected = f.optionalBucketSet.map(_.cardinality())
        assert(selected.exists(_ < buckets),
          s"expected bucket pruning, selected=$selected of $buckets")
      }
      // no shuffle may sit between the state scan and its join: any
      // join side whose leaves are ALL state scans is Exchange-free
      def isStateSide(p: org.apache.spark.sql.execution.SparkPlan) = {
        val leaves = p.collectLeaves()
        leaves.nonEmpty && leaves.forall {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == s"${Base}_codes")
          case _ => false
        }
      }
      val joinSides = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          Seq(j.left, j.right)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          Seq(j.left, j.right)
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          // the streamed side: whichever child is not the broadcast build
          Seq(if (j.buildSide == org.apache.spark.sql.catalyst.optimizer
            .BuildLeft) j.right else j.left)
      }.flatten
      val stateSides = joinSides.filter(isStateSide)
      assert(stateSides.nonEmpty, "expected a join against the codes table")
      stateSides.foreach(s => assert(
        s.collect { case ex: ShuffleExchangeExec => ex }.isEmpty,
        s"state side of the probe join must not shuffle:\n$s"))
    } finally prev.foreach { case (kk, v) => spark.conf.set(kk, v) }
  }

  test("DF-native probe path ≡ driver path bit-identical; one bounded " +
      "exchange, state side unshuffled") {
    freshTables()
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val driver = rows(AnnIndex.ivfPqTopKBucketed(spark, q,
      "vec_id", "embedding", k, Base, nProbe))
    // probe cosines, probe ranking, ADC tables and distances must all
    // reproduce the driver path's doubles exactly — sq_dist included
    val dfNative = rows(AnnIndex.ivfPqTopKBucketedDF(spark, q,
      "vec_id", "embedding", k, Base, nProbe))
    assert(dfNative === driver)
    assert(driver.nonEmpty)
    // plan shape: probe selection is pure per-row expression work, so
    // the ONLY ShuffleExchange in the whole plan is the k·|Q|-bounded
    // top-k aggregate; the codes side joins broadcast, never shuffled
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = AnnIndex.ivfPqTopKBucketedDF(spark, q, "vec_id",
        "embedding", k, Base, nProbe).queryExecution.executedPlan
      val shuffles = plan.collect { case ex: ShuffleExchangeExec => ex }
      assert(shuffles.size == 1,
        s"expected exactly the top-k exchange, got ${shuffles.size}:\n$plan")
      val stateScans = plan.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == s"${Base}_codes") => f
      }
      assert(stateScans.nonEmpty, s"expected a codes-table scan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("append encodes with the persisted model and never re-fits") {
    freshTables()
    val e = embeddings
    val e1 = e.filter(col("vec_id") % 5 =!= 0)
    val e2 = e.filter(col("vec_id") % 5 === 0)
    AnnIndex.writeAnnIndex(e1, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val (cents, model) = AnnIndex.readModel(spark, Base)
    AnnIndex.appendToAnnIndex(spark, e2, "vec_id", "embedding", Base,
      buckets = buckets)
    // the table now holds exactly the e1-fit encoding of the FULL
    // corpus: the append used the persisted model (a re-fit over
    // e1 ∪ e2 would assign differently), and no e1 row was rewritten
    def enc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val stored = enc(spark.table(s"${Base}_codes")
      .select("neighbor_id", "centroid_id", "codes"))
    val expected = enc(AnnIndex.encodeCorpus(e, "vec_id", "embedding",
      cents, model))
    assert(stored === expected)
    // and the appended rows are immediately searchable
    val hits = AnnIndex.ivfPqTopKBucketed(spark, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k, Base, nProbe)
    assert(hits.count() > 0)
  }

  test("ensureAnnIndex builds once per corpus key, rebuilds on a swap") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_corpuskey")
    StandingState.clearSnapshotMemo()
    val e = embeddings
    // true when the call rebuilt the index
    def ensure(c: org.apache.spark.sql.DataFrame, key: (Long, Long),
               bk: Int): Boolean = {
      val before = codesFiles()
      AnnIndex.ensureAnnIndex(c, "vec_id", "embedding", Base, dim, key,
        nCent, m, pqK, bk)
      codesFiles() != before
    }
    assert(ensure(e, (1L, 42L), buckets), "first call must build")
    val codes1 = spark.table(s"${Base}_codes").count()
    assert(!ensure(e, (1L, 42L), buckets), "same key must skip the rebuild")
    // a different corpus key forces a rebuild — here over a SMALLER
    // corpus so the swap is visible in the codes row count
    val small = e.filter(col("vec_id") < 100)
    assert(ensure(small, (2L, 43L), buckets), "new key must rebuild")
    assert(spark.table(s"${Base}_codes").count() < codes1)
    // same corpus key but different build GEOMETRY is a different
    // index — the params ride the persisted key, so this must rebuild
    assert(ensure(small, (2L, 43L), buckets + 1),
      "changed build params must rebuild")
    assert(!ensure(small, (2L, 43L), buckets + 1))
    // the key is written after ALL index tables, so the inverse (key
    // present, index mixed) is unreachable; a missing key (a crashed
    // build) must rebuild even with every index table up
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_corpuskey")
    assert(ensure(small, (2L, 43L), buckets + 1),
      "missing key (crashed build) must rebuild")
    assert(spark.table(s"${Base}_corpuskey").count() === 1)
  }

  test("ensureAnnIndexSnap: steady state skips the key aggregation; " +
      "stale corpus still detected") {
    import org.apache.spark.sql.functions._
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_corpuskey")
    StandingState.clearSnapshotMemo()
    val dir0 = java.nio.file.Files.createTempDirectory("annsnap").toString
    embeddings.write.mode("overwrite").parquet(dir0)
    var dataDir = dir0
    def corpus = spark.read.parquet(dataDir)
    var evals = 0
    def key(c: org.apache.spark.sql.DataFrame): (Long, Long) = {
      evals += 1
      (c.count(), 7L)
    }
    val k1 = AnnIndex.ensureAnnIndex(corpus,
      "vec_id", "embedding", Base, dim, key(corpus), nCent, m, pqK,
      buckets)
    assert(evals === 1)
    val codes1 = spark.table(s"${Base}_codes").count()
    val k2 = AnnIndex.ensureAnnIndex(corpus,
      "vec_id", "embedding", Base, dim, key(corpus), nCent, m, pqK,
      buckets)
    assert(evals === 1, "steady state must NOT re-aggregate the corpus")
    assert(k2 === k1)
    // out-of-band swap of the backing files: snapshot changes, key is
    // re-derived, the index is rebuilt over the NEW corpus (see
    // LexIndexSpec's twin for why the swap rides a fresh directory)
    val dir1 = java.nio.file.Files.createTempDirectory("annsnap2").toString
    embeddings.filter(col("vec_id") < 100).write
      .mode("overwrite").parquet(dir1)
    dataDir = dir1
    val k3 = AnnIndex.ensureAnnIndex(corpus,
      "vec_id", "embedding", Base, dim, key(corpus), nCent, m, pqK,
      buckets)
    assert(evals === 2, "changed corpus files must re-derive the key")
    assert(k3 !== k1)
    assert(spark.table(s"${Base}_codes").count() < codes1,
      "rebuild must cover the new (smaller) corpus")
  }

  test("compactAnnIndex: files collapse to one per bucket, search " +
      "bit-identical, bucketed plan preserved, append-after works") {
    freshTables()
    val e = embeddings
    val parts = (0 until 4).map(i => e.filter(col("vec_id") % 4 === i))
    AnnIndex.writeAnnIndex(parts(0), "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    // two nightly appends → ≥3 file generations per touched bucket
    AnnIndex.appendToAnnIndex(spark, parts(1), "vec_id", "embedding",
      Base, buckets = buckets)
    AnnIndex.appendToAnnIndex(spark, parts(2), "vec_id", "embedding",
      Base, buckets = buckets)
    def dataFiles: Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${Base}_codes"))
          .location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_"))
    }
    val filesBefore = dataFiles
    assert(filesBefore > buckets, s"appends should fragment: $filesBefore")
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val nBefore = spark.table(s"${Base}_codes").count()
    val pre = rows(AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id",
      "embedding", k, Base, nProbe))
    AnnIndex.compactAnnIndex(spark, Base, buckets)
    // layout collapsed to EXACTLY one file per non-empty bucket — the
    // r18 regression guard: the old repartition formulation left
    // tasks×buckets files whenever the read side had been un-bucketed
    // (the elided-repartition trap; see compactAnnIndex's Scaladoc),
    // which a bare ≤-assert misses on a tiny fixture whose scan packs
    // into one partition
    val occupiedBuckets = spark.table(s"${Base}_codes")
      .select(expr(s"pmod(hash(centroid_id), $buckets)")).distinct().count()
    assert(dataFiles === occupiedBuckets,
      s"expected one file per non-empty bucket ($occupiedBuckets), " +
        s"got $dataFiles")
    assert(spark.table(s"${Base}_codes").count() === nBefore)
    assert(rows(AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id",
      "embedding", k, Base, nProbe)) === pre)
    assert(pre.nonEmpty)
    // the bucket spec survived the swap: the scan still buckets and
    // still prunes to the probed cells
    val conf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val prev = conf.map { case (kk, _) => kk -> spark.conf.get(kk) }
    conf.foreach { case (kk, v) => spark.conf.set(kk, v) }
    try {
      val plan = AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id", "embedding",
        k, Base, nProbe).queryExecution.executedPlan
      val stateScans = plan.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == s"${Base}_codes") => f
      }
      assert(stateScans.nonEmpty)
      stateScans.foreach { f =>
        assert(f.bucketedScan, "codes scan must stay bucketed after compact")
        assert(f.optionalBucketSet.map(_.cardinality()).exists(_ < buckets),
          "bucket pruning must survive the compact")
      }
    } finally prev.foreach { case (kk, v) => spark.conf.set(kk, v) }
    // nightly ingest continues against the compacted table
    AnnIndex.appendToAnnIndex(spark, parts(3), "vec_id", "embedding",
      Base, buckets = buckets)
    val (cents, model) = AnnIndex.readModel(spark, Base)
    def enc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(enc(spark.table(s"${Base}_codes")
        .select("neighbor_id", "centroid_id", "codes")) ===
      enc(AnnIndex.encodeCorpus(e, "vec_id", "embedding", cents, model)))
  }

  test("rebuild over the same corpus is bit-identical (deterministic fits)") {
    freshTables()
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val (c1, m1) = AnnIndex.readModel(spark, Base)
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val (c2, m2) = AnnIndex.readModel(spark, Base)
    assert(c1 === c2)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("recall@k of the persisted index vs exact L2 is usable") {
    freshTables()
    val e = embeddings
    // the q113/q122 production shape (16 subspaces, 16 codes), with a
    // wider probe — the coarse m=8/pqK=8 used by the plan tests above
    // trades too much recall to clear a meaningful bar on the tiny
    // fixture corpus
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = 16, pqK = 16, buckets = buckets)
    val q = e.filter(col("vec_id") < 10)
    val approx = AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id", "embedding",
      k, Base, nProbe = 6).select("query_id", "neighbor_id")
    val exact = Similarity.l2TopK(e, q, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
    val total = exact.count()
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
      "left_semi").count()
    assert(total > 0)
    // the bar documents "well above the ~k/n random-chance floor", not
    // "exact" (ProductQuantSpec's direct-recall bar) — the digest query
    // reports the real number as driver-visible data. Deterministic:
    // same fixture + same fits measure 0.34 every run.
    assert(hits.toDouble / total >= 0.3,
      s"recall ${hits.toDouble / total} below floor")
    // a rebuild over a drifted corpus (rescaled + offset vectors for
    // every 5th id — the embedding-model-swap shape) must clear the
    // same floor against exact L2 over the REBUILT state
    val drifted = e.filter(col("vec_id") % 5 =!= 0).unionByName(
      e.filter(col("vec_id") % 5 === 0).withColumn("embedding",
        transform(col("embedding"), x => x * lit(0.2) + lit(0.4))
          .cast("array<float>")))
    AnnIndex.writeAnnIndex(drifted, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = 16, pqK = 16, buckets = buckets)
    val dq = drifted.filter(col("vec_id") < 10)
    val dApprox = AnnIndex.ivfPqTopKBucketed(spark, dq, "vec_id",
      "embedding", k, Base, nProbe = 6).select("query_id", "neighbor_id")
    val dExact = Similarity.l2TopK(drifted, dq, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
    val dTotal = dExact.count()
    val dHits = dExact.join(dApprox, Seq("query_id", "neighbor_id"),
      "left_semi").count()
    assert(dTotal > 0 && dHits.toDouble / dTotal >= 0.3,
      s"recall ${dHits.toDouble / dTotal} below floor after rebuild")
  }
  test("tombstones: search ≡ index without the rows; compact applies and clears; rebuild resets") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val dead = e.filter(col("vec_id") % 7 === 1).select("vec_id")
    AnnIndex.tombstoneAnnIds(spark, Base, dead)
    // idempotent redelivery
    AnnIndex.tombstoneAnnIds(spark, Base, dead)
    val nDead = dead.count()
    assert(spark.table(s"${Base}_tombstones").count() === nDead)
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val withTombs = rows(AnnIndex.ivfPqTopKBucketed(spark, q,
      "vec_id", "embedding", k, Base, nProbe))
    val withTombsDF = rows(AnnIndex.ivfPqTopKBucketedDF(spark, q,
      "vec_id", "embedding", k, Base, nProbe))
    // ground truth: a PHYSICAL twin of the index — the SAME frozen
    // model tables, the codes table written without the dead rows
    // (tombstoning must equal never-appended under the same model;
    // a re-fit over the filtered corpus would move the centroids and
    // prove nothing)
    val twin = "astate_twin"
    for (t <- Seq("centroids", "codebooks", "codes", "tombstones")) {
      spark.sql(s"DROP TABLE IF EXISTS ${twin}_$t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/${twin}_$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    for (t <- Seq("centroids", "codebooks"))
      spark.table(s"${Base}_$t").write.saveAsTable(s"${twin}_$t")
    spark.table(s"${Base}_codes")
      .filter(col("neighbor_id") % 7 =!= 1)
      .write.bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(s"${twin}_codes")
    val perCall = rows(AnnIndex.ivfPqTopKBucketed(spark, q,
      "vec_id", "embedding", k, twin, nProbe))
    assert(withTombs === perCall)
    assert(withTombsDF === perCall)
    assert(withTombs.nonEmpty)
    // no deleted id can surface
    assert(!withTombs.exists(_._3 % 7 == 1))
    // compact applies physically and clears the tombstones
    AnnIndex.compactAnnIndex(spark, Base, buckets)
    assert(!spark.catalog.tableExists(s"${Base}_tombstones"))
    assert(spark.table(s"${Base}_codes")
      .filter(col("neighbor_id") % 7 === 1).count() === 0)
    assert(rows(AnnIndex.ivfPqTopKBucketed(spark, q,
      "vec_id", "embedding", k, Base, nProbe)) === perCall)
    // a rebuild over the full corpus resets the delete set
    AnnIndex.tombstoneAnnIds(spark, Base, dead)
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    assert(!spark.catalog.tableExists(s"${Base}_tombstones"))
  }

  test("re-append of a tombstoned id is refused loudly; legal after compaction") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val victim = e.filter(col("vec_id") === 3L)
    AnnIndex.tombstoneAnnIds(spark, Base, victim.select("vec_id"))
    val err = intercept[IllegalStateException] {
      AnnIndex.appendToAnnIndex(spark, victim, "vec_id", "embedding",
        Base, buckets)
    }
    assert(err.getMessage.contains("tombstoned id 3"))
    // compaction applies the delete physically and clears — after it
    // the id is genuinely gone and may re-enter like any new row
    AnnIndex.compactAnnIndex(spark, Base, buckets)
    AnnIndex.appendToAnnIndex(spark, victim, "vec_id", "embedding",
      Base, buckets)
    assert(spark.table(s"${Base}_codes")
      .filter(col("neighbor_id") === 3L).count() === 1)
  }

  test("compactIfDead: tombstone mass past the bound triggers, below no-ops") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val tombs = s"${Base}_tombstones"
    def ids = spark.table(s"${Base}_codes").count()
    def compactIfDead(bound: Double): Boolean =
      StandingState.compactIfDead(spark, tombs, ids, bound)(
        AnnIndex.compactAnnIndex(spark, Base, buckets))
    assert(StandingState.deadFraction(spark, tombs, ids) === 0.0)
    assert(!compactIfDead(0.3))
    // ~1/5 of ids dead → dead/live = 0.25: under 0.3, over 0.1
    AnnIndex.tombstoneAnnIds(spark, Base,
      e.filter(col("vec_id") % 5 === 2).select("vec_id"))
    val frac = StandingState.deadFraction(spark, tombs, ids)
    assert(frac > 0.1 && frac < 0.3, s"fixture fraction $frac")
    assert(!compactIfDead(0.3))
    assert(spark.catalog.tableExists(tombs))
    assert(compactIfDead(0.1))
    assert(!spark.catalog.tableExists(tombs))
    assert(StandingState.deadFraction(spark, tombs, ids) === 0.0)
    assert(!compactIfDead(0.1), "already applied — must not loop")
  }

  test("compaction crash windows: staging-write crash is discarded, " +
      "swap crash promotes the staging table (never drops the sole copy)") {
    freshTables()
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_tombstones")
    spark.sql(s"DROP TABLE IF EXISTS ${Base}_codes_compacting")
    val e = embeddings
    AnnIndex.writeAnnIndex(e, "vec_id", "embedding", Base, dim,
      nCentroids = nCent, m = m, pqK = pqK, buckets = buckets)
    val q = e.filter(col("vec_id") < 10)
    def page = AnnIndex.ivfPqTopKBucketed(spark, q, "vec_id",
      "embedding", k, Base, nProbe).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = page
    // crash during the STAGING WRITE: live intact, staging garbage —
    // the next compaction discards the leftover and proceeds
    spark.table(s"${Base}_codes").limit(3)
      .write.bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(s"${Base}_codes_compacting")
    AnnIndex.compactAnnIndex(spark, Base, buckets)
    assert(page === want)
    // crash BETWEEN the DROP and the RENAME: live absent, staging is
    // the ONLY copy. The r18 code began by dropping the staging table
    // — destroying the state; the shared swap must promote it instead.
    spark.sql(s"ALTER TABLE ${Base}_codes RENAME TO ${Base}_codes_compacting")
    assert(!spark.catalog.tableExists(s"${Base}_codes"))
    AnnIndex.compactAnnIndex(spark, Base, buckets)
    assert(spark.catalog.tableExists(s"${Base}_codes"))
    assert(!spark.catalog.tableExists(s"${Base}_codes_compacting"))
    assert(page === want, "recovered compaction must lose nothing")
  }
}
