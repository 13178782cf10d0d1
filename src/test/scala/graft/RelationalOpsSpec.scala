package graft

import org.apache.spark.sql.functions._

import graft.ops.relational

class RelationalOpsSpec extends SparkSpec {

  test("keepFirstMatch keeps exactly one deterministic right row per key (J4/J6)") {
    import spark.implicits._
    val left = Seq(1, 2, 3).toDF("k")
    val right = Seq((1, "b", 20), (1, "a", 10), (2, "c", 30)).toDF("k", "v", "ord")
    val got = relational.keepFirstMatch(left, right, Seq("k"),
        Seq(col("ord").asc))
      .orderBy("k").collect().map(r => (r.getInt(0), Option(r.get(1)))).toSeq
    assert(got === Seq((1, Some("a")), (2, Some("c")), (3, None)))
  }

  test("argmaxPerGroup returns the whole max row per group (A2)") {
    import spark.implicits._
    val df = Seq(("p1", 1, "old"), ("p1", 5, "new"), ("p2", 2, "only"))
      .toDF("g", "ts", "payload")
    val got = relational.argmaxPerGroup(df, Seq("g"), col("ts"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got === Seq(("p1", "new"), ("p2", "only")))
  }

  test("asOfJoin picks latest right ≤ left ts, preserves unmatched lefts (J8)") {
    import spark.implicits._
    val docs = Seq((1, 100), (2, 5), (3, 250)).toDF("doc_id", "doc_ts")
    val rates = Seq((10, 50, 1.1), (11, 90, 1.2), (12, 200, 1.3))
      .toDF("rate_id", "rate_ts", "rate")
    val got = relational.asOfJoin(docs, rates, lit(true),
        col("doc_ts"), col("rate_ts"), col("doc_id"),
        Seq(col("rate_id").desc))
      .orderBy("doc_id")
      .collect().map(r => (r.getInt(0), Option(r.get(2)).map(_ => r.getDouble(4))))
      .toSeq
    assert(got === Seq((1, Some(1.2)), (2, None), (3, Some(1.3))))
  }

  test("asOfJoin default-rate composition matches GarmentTotalHutang:213 (M5)") {
    import spark.implicits._
    val docs = Seq((1, 10)).toDF("doc_id", "doc_ts")
    val rates = Seq((1, 99, 2.0)).toDF("rate_id", "rate_ts", "rate")
    val got = relational.asOfJoin(docs, rates, lit(true), col("doc_ts"),
        col("rate_ts"), col("doc_id"))
      .select(coalesce(col("rate"), lit(1.0)))
      .collect().head.getDouble(0)
    assert(got === 1.0)
  }

  test("notInKeepNulls keeps NULL rows (P4 JS semantics vs SQL NOT IN)") {
    import spark.implicits._
    val df = Seq(Some("dev"), Some("alice"), None).toDF("createdBy")
    val got = relational.notInKeepNulls(df, col("createdBy"),
      Seq("dev", "unit-test")).collect().map(r => Option(r.getString(0))).toSeq
    assert(got.toSet === Set(Some("alice"), None))
  }

  test("incrementalScan is strict-greater by default, inclusive on demand (S2)") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("ts")
    assert(relational.incrementalScan(df, col("ts"), lit(2)).count() === 1)
    assert(relational.incrementalScan(df, col("ts"), lit(2),
      inclusive = true).count() === 2)
  }

  // every counter test compares against the single-reducer window it
  // replaces: same rows, same columns, same values
  private def rowSet(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    d.select(d.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet

  private def rowNumberOracle(d: org.apache.spark.sql.DataFrame,
      order: Seq[org.apache.spark.sql.Column]) =
    d.withColumn("row_id", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(order: _*)).cast("long"))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("contiguousRowNumber matches the single-reducer window bit-for-bit (A5)") {
    import spark.implicits._
    // keys arrive shuffled; ordering is unique (the operator's contract)
    val df = (1 to 1000).map(i => (i * 7919 % 1000, s"k$i"))
      .toDF("sort_key", "payload").repartition(13)
    val order = Seq(col("sort_key"), col("payload"))
    val scalable = relational.contiguousRowNumber(df, order, "row_id",
      numPartitions = Some(7))
    // the data never collapses onto one reducer
    assert(scalable.rdd.getNumPartitions > 1)
    assert(scalable.schema("row_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(rowSet(scalable) === rowSet(rowNumberOracle(df, order)))
  }

  // the sampled-range counter is now contiguousRowNumber's in-memory
  // branch; its sampleSource parameter lives on in contiguousPrefixSum
  test("contiguousRowNumberSampledRange: bit-identical to the default " +
      "form; boundaries only govern balance, never values") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 1000).map(i => (i * 7919 % 1000, s"k$i", (i % 97).toLong))
      .toDF("sort_key", "payload", "v").repartition(13)
    val order = Seq(col("sort_key"), col("payload"))
    val counted = relational.contiguousRowNumber(df, order, "row_id",
      numPartitions = Some(7))
    assert(rowSet(counted) === rowSet(rowNumberOracle(df, order)))
    assert(counted.columns.toSet === (df.columns :+ "row_id").toSet)
    val oracle = rowSet(df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val default = relational.contiguousPrefixSum(df, order, col("v"), "cum",
      numPartitions = Some(7))
    assert(rowSet(default) === oracle)
    // a DIFFERENT (cheap, degenerate) sample source shifts boundaries
    // but must not move a single value — correctness is
    // boundary-independent by construction
    val skewedSrc = df.filter(col("sort_key") < 50)
      .select(col("sort_key"), col("payload"))
    val adversarial = relational.contiguousPrefixSum(df, order, col("v"),
      "cum", numPartitions = Some(7), sampleSource = Some(skewedSrc))
    assert(rowSet(adversarial) === oracle)
    // single-bucket degenerate case (empty sample source) still exact
    val empty = relational.contiguousPrefixSum(df, order, col("v"), "cum",
      numPartitions = Some(7), sampleSource = Some(df.filter(lit(false))
        .select(col("sort_key"), col("payload"))))
    assert(rowSet(empty) === oracle)
    graft.ops.materialize.releaseAll()
  }

  test("sampledBoundaryBucket: plan size capped independent of the " +
      "partition count; null key fields never become boundaries") {
    import spark.implicits._
    // null sort keys in the DATA (the order stays a unique total order
    // through the payload tiebreak; window semantics put nulls first)
    val df = (1 to 1000).map(i =>
        (if (i % 97 == 0) null.asInstanceOf[Integer]
         else Integer.valueOf(i * 7919 % 1000), s"k$i"))
      .toDF("sort_key", "payload").repartition(13)
    val order = Seq(col("sort_key"), col("payload"))
    val oracle = rowSet(rowNumberOracle(df, order))
    def caseWhens(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.analyzed.collect { case p =>
        p.expressions.flatMap(_.collect {
          case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c
        })
      }.flatten.size
    // a production-scale partition count with a small cap: the embedded
    // when-tree must stay cap-sized (one CaseWhen per boundary), the
    // bucketed pass runs one partition per bucket, not per requested
    // partition, and values match the window
    val capped = withConf("spark.graft.counter.maxBoundaries", "8") {
      relational.contiguousRowNumber(df, order, "row_id",
        numPartitions = Some(512))
    }
    val whens = caseWhens(capped)
    assert(whens <= 8,
      s"when-tree must be cap-sized (<= 8 boundaries), got $whens")
    assert(capped.rdd.getNumPartitions === whens + 1)
    assert(rowSet(capped) === oracle)
    // default cap: n = 4096 must embed at most 1024 boundaries
    val wide = relational.contiguousRowNumber(df, order, "row_id",
      numPartitions = Some(4096))
    assert(caseWhens(wide) <= 1024)
    assert(wide.rdd.getNumPartitions === caseWhens(wide) + 1)
    assert(rowSet(wide) === oracle)
  }

  // the join-back counter is now contiguousRowNumber's keys-only branch,
  // taken when the sort budget is exceeded
  test("contiguousRowNumberViaJoin: narrow-shuffle twin is bit-identical " +
      "to the default form (and to the window) on a unique total order") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i * 7919 % 1000, s"k$i", s"wide-payload-$i"))
      .toDF("sort_key", "payload", "extra").repartition(13)
    val order = Seq(col("sort_key"), col("payload"))
    val keysOnly = withConf("spark.graft.counter.sortBudgetBytes", "1") {
      relational.contiguousRowNumber(df, order, "row_id",
        numPartitions = Some(7))
    }
    val plan = keysOnly.queryExecution.executedPlan.toString
    assert(plan.contains("Join"))
    assert(rowSet(keysOnly) === rowSet(rowNumberOracle(df, order)))
    // same output surface: input columns + the counter, no temp leakage
    assert(keysOnly.columns.toSet === (df.columns :+ "row_id").toSet)
    assert(keysOnly.schema("row_id").dataType ===
      org.apache.spark.sql.types.LongType)
    // the wide payload never enters a sort: the only Sort operators in
    // the keys-only plan order the projected key columns, not 'extra'
    plan.linesIterator.filter(_.contains("Sort ")).foreach { l =>
      assert(!l.contains("extra"), l)
    }
  }

  // the budget dispatch now lives in contiguousRowNumber itself
  test("contiguousRowNumberAuto: the sort budget dispatches wide vs " +
      "narrow, both bit-identical to the single-reducer window") {
    import spark.implicits._
    // (k, payload) is a unique total order (31 ⊥ 500 ⇒ k unique)
    val df = (1 to 500).map(i => (i * 31 % 500, "p" * 8 + i))
      .toDF("k", "payload").repartition(9)
    val order = Seq(col("k"), col("payload"))
    val oracle = rowSet(rowNumberOracle(df, order))
    // the default budget (half the BlockManager capacity) keeps a tiny
    // input on the in-memory branch: no join-back in the plan
    val inMemory = relational.contiguousRowNumber(df, order, "row_id")
    assert(!inMemory.queryExecution.executedPlan.toString.contains("Join"))
    assert(rowSet(inMemory) === oracle)
    // a 1-byte budget takes the keys-only counter + join-back
    val keysOnly = withConf("spark.graft.counter.sortBudgetBytes", "1") {
      relational.contiguousRowNumber(df, order, "row_id")
    }
    assert(keysOnly.queryExecution.executedPlan.toString.contains("Join"))
    assert(rowSet(keysOnly) === oracle)
  }

  test("TotalHutangFact: both counter branches give one fact") {
    val srcs = graft.queries.PipelineQueries
      .totalHutangSources(spark, "/root/testdata/sf0.001")
    val inMemory = graft.pipelines.TotalHutangFact.transform(srcs)
    val keysOnly = withConf("spark.graft.counter.sortBudgetBytes", "1") {
      graft.pipelines.TotalHutangFact.transform(srcs)
    }
    assert(keysOnly.queryExecution.executedPlan.toString.contains("Join"))
    assert(inMemory.count() === keysOnly.count())
    assert(inMemory.exceptAll(keysOnly).count() === 0L)
    assert(keysOnly.exceptAll(inMemory).count() === 0L)
  }

  test("counter confs fail naming the key and the value") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i, s"k$i")).toDF("k", "payload")
    for (key <- Seq("spark.graft.counter.maxBoundaries",
                    "spark.graft.counter.sortBudgetBytes",
                    "spark.graft.counter.scanExpansion")) {
      val e = intercept[IllegalArgumentException] {
        withConf(key, "12x") {
          relational.contiguousRowNumber(df, Seq(col("k")), "row_id")
        }
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("12x"),
        e.getMessage)
    }
  }

  test("contiguousPrefixSum matches the single-reducer window bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 1000).map(i => (i * 7919 % 1000, s"k$i", (i % 97).toLong))
      .toDF("sort_key", "payload", "v").repartition(13)
    val order = Seq(col("sort_key"), col("payload"))
    val scalable = relational.contiguousPrefixSum(df, order, col("v"), "cum",
      numPartitions = Some(7))
    assert(scalable.rdd.getNumPartitions > 1)
    val oracle = rowSet(df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    assert(rowSet(scalable) === oracle)
    graft.ops.materialize.releaseAll()
  }

  test("shardManifest: greedy fill conserves tokens, shards are contiguous") {
    import graft.operators.CorpusStats
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val m = CorpusStats.shardManifest(docs, "doc_id", "text", 2048L)
      .orderBy("shard_id").collect()
    val totalTok = docs.select(
      sum(graft.operators.TextAnalysis.tokenCount(col("text")).cast("long")))
      .collect().head.getLong(0)
    // conservation + every doc in exactly one shard
    assert(m.map(_.getAs[Long]("n_tokens")).sum === totalTok)
    assert(m.map(_.getAs[Long]("n_docs")).sum === docs.count())
    // shard ids are 0..max contiguous, doc ranges non-overlapping & ordered
    assert(m.map(_.getAs[Long]("shard_id")).toSeq ===
      (0L until m.length.toLong))
    m.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
      case _ =>
    }
    // greedy fill: every non-final shard crosses the budget only via its
    // final doc — removing that doc would leave it under budget
    m.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("n_tokens") >= 2048L - 99,
        s"shard ${r.getAs[Long]("shard_id")} underfull: $r")
    }
    graft.ops.materialize.releaseAll()
  }

  test("observed fails naming the operator when metrics never arrive") {
    // an Observation no action ever fires: the bounded wait must give
    // up and say whose metrics are missing instead of blocking forever
    val never = org.apache.spark.sql.Observation()
    val e = intercept[IllegalStateException](graft.ops.observed(never,
      "duplicateClusters", scala.concurrent.duration.Duration(100, "ms")))
    assert(e.getMessage.contains("duplicateClusters"), e.getMessage)
  }
}
