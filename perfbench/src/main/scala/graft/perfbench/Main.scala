package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.WatermarkManager
import graft.core.Sessions
import graft.queries.Registry

/**
 * Benchmark harness entry point: one workload per JVM.
 *
 *   graft.perfbench.Main --workload nightly_concurrent --seed 1 \
 *     --seconds 30 --trace 0 --work <scratch dir> --record <file.json>
 *
 * Prints one JSON line {correct, attempted, failed, metrics} last on
 * stdout and writes the full run record (every night or pass, counters,
 * checks, spans) to `--record`. With `--trace 0` the metrics are the
 * end-to-end ones, measured with no spans; with `--trace 1` they are the
 * per-layer ones from a traced run. Exit code 1 when a correctness check
 * failed.
 */
object Main {
  /** TPC-H scale of the generated inputs (3,000 orders, 12,000 line
    * items; the pipeline builders read at most the first 3,000 orders). */
  val Scale = 0.002

  /** The part of the registry's operator block (q113–q144) measured by
    * `operator_queries`: sketch (KMV), text-signal, vector (MMR re-rank,
    * an eager-job chain), tokenizer and standing-index (BM25) operators,
    * few enough that a fresh process warms and measures them within one
    * run's time budget. */
  val OperatorQueries: Seq[String] =
    Seq("q123", "q129", "q131", "q137", "q139")

  /** Tables those queries read. */
  val QueryTables: Set[String] = Set("documents", "embeddings", "lineitem")

  /** Queries whose jobs and driver gap are also reported on their own. */
  val NamedQueries: Seq[String] = Seq("q131", "q139")

  final case class Metric(value: Double, unit: String)

  final class Outcome {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, with
    * that percentile and the sample count; None below 11 samples. */
  def tail(xs: Seq[Double]): Option[ListMap[String, Any]] = {
    val s = xs.sorted
    if (s.size < 11) None
    else Some(ListMap("value_s" -> s(s.size - 11),
      "percentile" -> 100.0 * (s.size - 10) / s.size, "samples" -> s.size))
  }

  /** Task CPU over wall × cores. */
  def utilization(spark: SparkSession, c: Counters, wallS: Double): Double =
    c.taskCpuS / (wallS * spark.sparkContext.defaultParallelism)

  private def requestRecord(rs: Seq[Req]) =
    rs.map(r => ListMap("pipeline" -> r.pipeline, "s" -> r.seconds, "ok" -> r.ok))

  /** CPU-contention probe: wall milliseconds for a fixed integer loop on
    * `threads` threads at once (median of three, after one warm-up round). A run hit by host load
    * shows a higher value; on an idle 4-core host it is steady. */
  def cpuProbeMs(threads: Int): Double = median((0 to 3).map { _ =>
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = k.toLong
        var i = 0
        while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42) println(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }.drop(1)) // the first round runs before the loop is compiled

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Megabytes stored under a directory (0 when it does not exist). */
  def mbUnder(spark: SparkSession, dir: String): Double = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength / 1e6 else 0.0
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly however the run ends: Serve.Handle.stop() leaves the
    // server's non-daemon handler pool running, so the JVM would not
    // exit on its own
    val ok = try run(argv) catch {
      case e: Throwable => e.printStackTrace(); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  /** One workload run; true when every correctness check passed. */
  def run(argv: Array[String]): Boolean = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val out = new Outcome
    val probeBefore = cpuProbeMs(cores)
    val s0 = System.nanoTime()
    val spark = Sessions.local(cores, "perfbench")
    val sessionS = secs(s0)
    val jobs = Trace.attach(spark.sparkContext)
    val trace = new Trace
    try workload match {
      case "nightly_concurrent" =>
        nightly(spark, jobs, trace, out, work, seed, seconds, traced, sessionS)
      case "operator_queries" =>
        queries(spark, jobs, trace, out, work, seed, seconds, traced, sessionS)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Exception =>
        out.failures += s"run aborted: $e"
        e.printStackTrace()
    }
    jobs.drain()
    val all = jobs.counters(jobs.all)
    val probeAfter = cpuProbeMs(cores)
    if (traced) out.metrics("host.cpu_probe_ms") =
      Metric(math.max(probeBefore, probeAfter), "ms")
    out.record ++= ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores, "scale" -> Scale,
      "sizes" -> Gen.sizes(Scale).describe,
      "cpu_probe_ms" -> ListMap("before" -> probeBefore, "after" -> probeAfter),
      "spark_total" -> all,
      "failures" -> out.failures.toSeq,
      "spans" -> trace.all)
    val result = ListMap("correct" -> out.failures.isEmpty,
      "attempted" -> math.max(1, out.attempted), "failed" -> out.failed,
      "metrics" -> out.metrics.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit) })
    out.record("result") = result
    Files.write(Paths.get(a("record")),
      Json(out.record).getBytes(StandardCharsets.UTF_8))
    out.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    println(Json(result))
    System.out.flush()
    out.failures.isEmpty
  }

  // ---------------------------------------------------------------- nightly

  def nightly(spark: SparkSession, jobs: JobLog, trace: Trace, out: Outcome,
              work: String, seed: Long, seconds: Double, traced: Boolean,
              sessionS: Double): Unit = {
    val n = new Nightly(spark, seed)
    val base = s"$work/base"
    val lake = s"$work/lake"
    val wh = s"$work/warehouse"
    val conns = n.lakeConns(lake)

    // set-up: inputs, per-pipeline lakes, and the backfill night that
    // every incremental night starts from: all 21 pipelines through Serve
    // with 4 run permits, each sent as soon as its lake is written
    val t0 = System.nanoTime()
    Gen.write(spark, base, seed, Gen.sizes(Scale), Nightly.InputTables)
    val genS = secs(t0)
    val bfStartMs = System.currentTimeMillis()
    val t1 = System.nanoTime()
    // the oracle side of the backfill check (registry queries over the
    // same builders) needs only the inputs, so it overlaps the set-up.
    // Untraced runs check three seed-chosen pipelines (every pipeline
    // within any seven consecutive seeds), traced runs all 21.
    val oracled = if (traced) n.pipelines else n.pipelines.zipWithIndex
      .collect { case (p, i) if i % 7 == (seed % 7).toInt => p }
    val registryRun = new java.util.concurrent.FutureTask(() => n.registryFacts(base, oracled))
    new Thread(registryRun).start()
    val h4 = n.startServe(conns, wh, 4)
    val bfReqs = try n.lakesAndBackfill(base, lake, h4.port) finally h4.stop()
    val bfEndMs = System.currentTimeMillis()
    val bfS = secs(t1)
    val setupS = secs(t0)
    if (!traced) out.metrics("setup_s") = Metric(sessionS + setupS, "s")
    out.attempted += bfReqs.size
    out.failed += bfReqs.count(!_.ok)

    // the first night's delta touches only the lake, so it is applied
    // while the backfill is checked
    def deltaFor(k: Int) = {
      val d0 = System.nanoTime()
      (n.applyDelta(lake, k, new Timestamp(System.currentTimeMillis())), secs(d0))
    }
    val firstDelta = new java.util.concurrent.FutureTask(() => deltaFor(1))
    new Thread(firstDelta).start()

    // backfill checks: run contract, and every fact equal (rows and
    // content hash) to the registry query over the same builders
    val c0 = System.nanoTime()
    n.runFailures(wh, bfReqs).foreach(f => out.failures += s"backfill $f")
    val bfFacts = n.facts(wh)
    val registry = registryRun.get()
    n.pipelines.foreach { p =>
      val f = bfFacts(p.name)
      registry.get(p.name).foreach(r => out.check(r == ((f.rows, f.hash)),
        s"backfill ${p.name}: fact (${f.rows}, ${f.hash}) != registry $r"))
      out.check(f.rows > 0, s"backfill ${p.name}: empty fact")
    }
    val bfCheckS = secs(c0)

    // measured nights: before each (untimed) a seeded 1 % of every
    // driving source is updated in place; then all 21 pipelines run
    // through the same server, 4 permits, 4 closed-loop client threads
    val h4n = n.startServe(conns, wh, 4)
    val nights = scala.collection.mutable.ArrayBuffer.empty[ListMap[String, Any]]
    val nightSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reqSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var prevFacts = bfFacts
    var measured = 0.0
    try while (nights.isEmpty || measured + nightSecs.last <= seconds) {
      val k = nights.size + 1
      val (delta, deltaS) = if (k == 1) firstDelta.get() else deltaFor(k)
      // the traced run replays the same night serially on a copy
      val replayWh = s"$work/warehouse-serial-$k"
      if (traced) n.copyDir(wh, replayWh)
      val startMs = System.currentTimeMillis()
      val (nightS, reqs) = n.night(h4n.port, 4, if (traced) Some((trace, k)) else None)
      val endMs = System.currentTimeMillis()
      measured += nightS
      nightSecs += nightS
      reqSecs ++= reqs.map(_.seconds)
      out.attempted += reqs.size
      out.failed += reqs.count(!_.ok)

      // per-night checks (untimed): run contract, and no night adds rows
      // to a non-null key beyond its backfill multiplicity
      val k0 = System.nanoTime()
      n.runFailures(wh, reqs).foreach(f => out.failures += s"night $k $f")
      val facts = n.facts(wh)
      n.pipelines.foreach { p =>
        val (b, f) = (bfFacts(p.name), facts(p.name))
        out.check(f.keyedRows - f.distinctKeys <= b.keyedRows - b.distinctKeys,
          s"night $k ${p.name}: ${f.keyedRows} keyed rows over ${f.distinctKeys} " +
            s"keys, backfill had ${b.keyedRows} over ${b.distinctKeys}")
      }
      val c = jobs.counters(jobs.within(startMs, endMs))
      val checkS = secs(k0)
      val replay = if (!traced) ListMap.empty[String, Any] else {
        val (l, info) = replayNight(spark, n, jobs, trace, out, k, lake, replayWh,
          facts, n.dimDates(wh))
        val ctl = n.latestControl(wh)
        layers += l ++ Map(
          "runner.request_s" -> median(reqs.map(_.seconds)),
          "runner.admission_wait_s" -> median(reqs.flatMap(r =>
            ctl.get(r.pipeline).map(c => (c._1.getTime - r.sendMs) / 1e3))),
          "runner.overlap" -> reqs.map(_.seconds).sum / nightS,
          "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
          "spark.tasks" -> c.tasks.toDouble,
          "spark.cpu_utilization" -> utilization(spark, c, nightS),
          "spark.driver_gap_s" -> (nightS - c.jobBusyS))
        info
      }
      nights += ListMap("night" -> k, "night_s" -> nightS,
        "delta_s" -> deltaS, "checks_s" -> checkS,
        "requests" -> requestRecord(reqs),
        "delta_rows" -> delta, "spark" -> c,
        "cpu_utilization" -> utilization(spark, c, nightS),
        "fact_rows" -> facts.map { case (k2, f) => k2 -> f.rows },
        "fact_growth" -> facts.map { case (k2, f) => k2 -> (f.rows - prevFacts(k2).rows) },
        "fact_files" -> facts.map { case (k2, f) => k2 -> f.files },
        "fact_hash" -> facts.map { case (k2, f) => k2 -> f.hash },
        "serial_replay" -> replay)
      prevFacts = facts
    } finally h4n.stop()

    out.record ++= ListMap(
      "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> genS,
        "lakes_and_backfill_s" -> bfS, "setup_s" -> setupS,
        "backfill_checks_s" -> bfCheckS,
        "spark" -> jobs.counters(jobs.within(bfStartMs, bfEndMs))),
      "backfill" -> ListMap(
        "requests" -> requestRecord(bfReqs),
        "fact_rows" -> bfFacts.map { case (k, f) => k -> f.rows },
        "fact_keyed_rows" -> bfFacts.map { case (k, f) => k -> f.keyedRows },
        "fact_distinct_keys" -> bfFacts.map { case (k, f) => k -> f.distinctKeys },
        "keys_unique" -> bfFacts.map { case (k, f) => k -> (f.keyedRows == f.distinctKeys) },
        "registry" -> registry.map { case (k, (r, h)) => k -> ListMap("rows" -> r, "hash" -> h) }),
      "nights" -> nights.toSeq,
      "request_tail" -> tail(reqSecs.toSeq))

    if (!traced) {
      out.metrics("pass_s") = Metric(median(nightSecs.toSeq), "s")
      out.metrics("request_p50_s") = Metric(median(reqSecs.toSeq), "s")
      out.metrics("stored_mb") = Metric(mbUnder(spark, wh), "MB")
    } else {
      val l = layers.head.keys.map(k => k -> median(layers.map(_(k)).toSeq)).toMap
      PerLayer.names.foreach(k => out.metrics(k) = Metric(l.getOrElse(k, 0.0), PerLayer.unit(k)))
      out.record("traced_pass_s") = median(nightSecs.toSeq)
    }
  }

  /** The traced serial replay of night `k`: every pipeline, one at a
    * time, through the traced twin of `PipelineRunner.run`, on a copy of
    * the warehouse taken before the concurrent night and over the same
    * lake. Its facts and dim-time dates must equal the concurrent
    * night's. Returns the per-layer figures (from the replay's spans and
    * the jobs submitted inside them) and a record of the replay. */
  private def replayNight(spark: SparkSession, n: Nightly, jobs: JobLog,
                          trace: Trace, out: Outcome, k: Int, lake: String,
                          wh: String, concurrentFacts: Map[String, FactState],
                          concurrentDates: Set[String])
      : (Map[String, Double], ListMap[String, Any]) = {
    val control = new WatermarkManager(spark, s"$wh/control")
    val conns = n.lakeConns(lake)
    val t0 = System.nanoTime()
    val runs = n.pipelines.map { p =>
      p.name -> scala.util.Try(n.tracedRun(trace, p, conns(p.name), control,
        wh, s"${p.name}#$k#serial"))
    }.toMap
    val replayS = secs(t0)
    runs.foreach { case (name, r) =>
      out.check(r.isSuccess, s"night $k serial replay $name: ${r.failed.map(_.toString).getOrElse("")}")
    }
    val facts = n.facts(wh)
    n.pipelines.foreach { p =>
      out.check(facts(p.name) == concurrentFacts(p.name),
        s"night $k ${p.name}: concurrent fact ${concurrentFacts(p.name)} != serial ${facts(p.name)}")
    }
    out.check(n.dimDates(wh) == concurrentDates, s"night $k: dim-time dates differ")

    jobs.drain()
    val spans = trace.all.filter(_.runId.endsWith(s"#$k#serial"))
    val phases = Seq("control.watermark", "sources.open", "pipelines.transform",
      "sink.merge", "control.append")
    val byPhase = jobs.bySpan(spans.filter(s => phases.contains(s.name)))
    def of(name: String) = spans.filter(_.name == name)
    def sumS(name: String) = of(name).map(_.seconds).sum
    def cnt(name: String) = of(name).map(s => byPhase(s.id)).foldLeft(Counters())(_ + _)
    val sink = cnt("sink.merge")
    // batch rows: each pipeline's transform over its incremental extract,
    // recounted after the replay against the watermark the replay used
    val batchRows = Par.par(n.pipelines) { p =>
      val tables = p.sources.map(s => s -> conns(p.name).read(spark, s)).toMap
      runs(p.name).toOption.map { case (_, wm) =>
        p.transform(tables.updated(p.sources.head, graft.ops.relational.incrementalScan(
          tables(p.sources.head), col(p.watermarkColumn), lit(wm),
          inclusive = p.watermarkInclusive))).count()
      }.getOrElse(0L)
    }.sum
    val written = facts.values.map(_.rows).sum
    val layers = Map(
      "control.watermark_s" -> sumS("control.watermark"),
      "control.watermark_jobs" -> cnt("control.watermark").jobs.toDouble,
      "control.log_files" -> new java.io.File(s"$wh/control").listFiles()
        .count(_.getName.endsWith(".parquet")).toDouble,
      "control.append_s" -> sumS("control.append"),
      "sources.open_s" -> sumS("sources.open"),
      "sources.open_jobs" -> cnt("sources.open").jobs.toDouble,
      "pipelines.transform_s" -> sumS("pipelines.transform"),
      "pipelines.transform_jobs" -> cnt("pipelines.transform").jobs.toDouble,
      "pipelines.transform_cpu_s" -> cnt("pipelines.transform").taskCpuS,
      "sink.merge_s" -> sumS("sink.merge"),
      "sink.jobs" -> sink.jobs.toDouble,
      "sink.task_cpu_s" -> sink.taskCpuS,
      "sink.read_mb" -> sink.readMb,
      "sink.written_mb" -> sink.writtenMb,
      "sink.shuffle_mb" -> sink.shuffleMb,
      "sink.fact_files" -> facts.values.map(_.files).sum.toDouble,
      "sink.rewrite_ratio" -> written.toDouble / math.max(1L, batchRows))
    (layers, ListMap("night_s" -> replayS,
      "phase_s" -> phases.map(ph => ph -> sumS(ph)).toMap,
      "phases_total_s" -> phases.map(sumS).sum,
      "pipeline_spans_s" -> sumS("pipeline"),
      "batch_rows" -> batchRows, "fact_rows_written" -> written,
      "spark" -> phases.map(cnt).foldLeft(Counters())(_ + _)))
  }

  // ---------------------------------------------------------------- queries

  def queries(spark: SparkSession, jobs: JobLog, trace: Trace, out: Outcome,
              work: String, seed: Long, seconds: Double, traced: Boolean,
              sessionS: Double): Unit = {
    val base = s"$work/base"
    val specs = OperatorQueries.map(q =>
      Registry.all.find(_.name.startsWith(q + "_")).getOrElse(sys.error(s"no $q")))

    /** Rows and an order-independent content hash of a query result. */
    def digest(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(to_json(struct(
        df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*))).cast("decimal(38,0)")))
        .collect().head
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }

    def runPass(pass: Int) = specs.map { q =>
      val runId = s"${q.name.takeWhile(_ != '_')}#$pass"
      val t = System.nanoTime()
      val res = scala.util.Try {
        if (traced) trace.span("query", runId) {
          val df = trace.span("queries.build", runId)(q.build(spark, base))
          trace.span("queries.plan", runId)(df.queryExecution.executedPlan)
          trace.span("queries.exec", runId)(df.queryExecution.toRdd.count())
          df
        } else {
          val df = q.build(spark, base)
          df.queryExecution.toRdd.count()
          df
        }
      }
      val s = secs(t)
      out.attempted += 1
      if (res.isFailure) {
        out.failed += 1
        out.failures += s"pass $pass ${q.name}: ${res.failed.get}"
      }
      (q.name, s, res.toOption)
    }

    // set-up: inputs, then two untimed passes: the first builds the
    // standing indexes and compiles the hot paths, after the second the
    // pass time no longer drifts down
    val t0 = System.nanoTime()
    Gen.write(spark, base, seed, Gen.sizes(Scale), QueryTables)
    val genS = secs(t0)
    val warm = runPass(-1).map { case (q, s, df) => (q, s, df.map(digest)) }
    val warm2 = runPass(0)
    val setupS = secs(t0)
    if (!traced) out.metrics("setup_s") = Metric(sessionS + setupS, "s")
    val expected = warm.map(w => w._1 -> w._3).toMap

    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Option[DataFrame])], Long, Long)]
    var measured = 0.0
    while (passes.isEmpty || measured + passes.last._1 <= seconds) {
      val k = passes.size + 1
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val rs = runPass(k)
      val passS = secs(t)
      measured += passS
      passes += ((passS, rs, startMs, System.currentTimeMillis()))
    }
    // the standing-state queries must answer exactly as on the warm pass
    val last = passes.last._2.map { case (q, _, df) =>
      q -> df.flatMap(d => scala.util.Try(digest(d)).toOption) }.toMap
    expected.foreach { case (q, d) =>
      out.check(d.isDefined && d == last(q), s"$q: warm pass $d, final ${last(q)}")
      out.check(d.exists(_._1 > 0), s"$q: empty result")
    }

    val passSecs = passes.map(_._1).toSeq
    val reqSecs = passes.flatMap(_._2.map(_._2)).toSeq
    out.record ++= ListMap(
      "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> genS,
        "warm_pass_s" -> (setupS - genS), "setup_s" -> setupS),
      "queries" -> specs.map(_.name),
      "warm_pass" -> warm.map(w => ListMap("query" -> w._1, "s" -> w._2,
        "rows" -> w._3.map(_._1), "hash" -> w._3.map(_._2))),
      "second_warm_pass" -> warm2.map(w => ListMap("query" -> w._1, "s" -> w._2)),
      "passes" -> passes.map { case (s, rs, a, b) =>
        val c = jobs.counters(jobs.within(a, b))
        ListMap("pass_s" -> s, "spark" -> c,
          "cpu_utilization" -> utilization(spark, c, s),
          "queries" -> rs.map(r => ListMap("query" -> r._1, "s" -> r._2)))
      }.toSeq,
      "request_tail" -> tail(reqSecs))

    val storedMb = mbUnder(spark, spark.conf.get("spark.sql.warehouse.dir"))
    if (!traced) {
      out.metrics("pass_s") = Metric(median(passSecs), "s")
      out.metrics("request_p50_s") = Metric(median(reqSecs), "s")
      out.metrics("stored_mb") = Metric(storedMb, "MB")
    } else {
      jobs.drain()
      val l = passes.indices.map(i => passLayers(spark, jobs, trace, i + 1, passes(i)._1))
      val m = l.head.keys.map(k => k -> median(l.map(_(k)))).toMap
      PerLayer.names.foreach(k => out.metrics(k) = Metric(m.getOrElse(k, 0.0), PerLayer.unit(k)))
      out.record("traced_pass_s") = median(passSecs)
    }
  }

  private def passLayers(spark: SparkSession, jobs: JobLog, trace: Trace,
                         k: Int, passS: Double): Map[String, Double] = {
    val spans = trace.all.filter(_.runId.endsWith(s"#$k"))
    def sumS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val qs = spans.filter(_.name == "query")
    val byQuery = jobs.bySpan(qs)
    val all = qs.map(s => byQuery(s.id)).foldLeft(Counters())(_ + _)
    def gap(s: Span) = s.seconds - byQuery(s.id).jobBusyS
    val named = NamedQueries.flatMap { q =>
      qs.find(_.runId == s"$q#$k").toSeq.flatMap(s => Seq(
        s"queries.${q}_jobs" -> byQuery(s.id).jobs.toDouble,
        s"queries.${q}_driver_gap_s" -> gap(s)))
    }
    Map(
      "queries.build_s" -> sumS("queries.build"),
      "queries.plan_s" -> sumS("queries.plan"),
      "queries.exec_s" -> sumS("queries.exec"),
      "queries.jobs" -> all.jobs.toDouble,
      "queries.stages" -> all.stages.toDouble,
      "queries.tasks" -> all.tasks.toDouble,
      "queries.task_cpu_s" -> all.taskCpuS,
      "queries.shuffle_mb" -> all.shuffleMb,
      "queries.spill_mb" -> all.spillMb,
      "queries.driver_gap_s" -> qs.map(gap).sum,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.cpu_utilization" -> utilization(spark, all, passS),
      "spark.driver_gap_s" -> (passS - all.jobBusyS)) ++ named
  }
}
