package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.control.WatermarkManager
import graft.runner.Serve
import graft.sources.ParquetConnector

/** The HTTP/timer trigger surface (`graft.runner.Serve`) driven over a
  * real socket — the engine's analog of the reference's Azure Function
  * HTTP trigger (`Pembelian/function.json`) and `*Timer` twins. */
class ServeSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, path: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /api/<alias> runs the pipeline; failures return 500 and log") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve").toString
    // a one-table pipeline keeps the fixture small: migration-log
    graft.sources.JsonLinesConnector(s"$dir/mongo").write(Seq(
      ("fact-pembelian", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)

    val h = Serve.start(spark,
      graft.sources.JsonLinesConnector(s"$dir/mongo"),
      s"$dir/dwh", s"$dir/dwh/control", port = 0)
    val control = new WatermarkManager(spark, s"$dir/dwh/control")
    // a successful reply's watermark is the control log's: the
    // pipeline's watermark and the start of its newest Successful row
    def assertReportedWatermark(body: String): String = {
      val wm = """"watermark":"([^"]+)"""".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(fail(body))
      assert(wm === control.lastWatermark("migration-log-sync").toString)
      val newest = control.log
        .filter("description = 'migration-log-sync' AND status = 'Successful'")
        .orderBy(org.apache.spark.sql.functions.col("finish").desc).first()
      assert(wm === newest.getTimestamp(1).toString)
      wm
    }
    try {
      // discovery endpoint lists engine names AND reference aliases
      val (ls, lb) = get(h.port, "/api")
      assert(ls === 200 && lb.contains("\"pembelian\"") &&
        lb.contains("\"migration-log-sync\""), lb)

      // a successful run answers with rows + advanced watermark
      val (s1, b1) = post(h.port, "/api/migration-log")
      assert(s1 === 200, b1)
      assert(b1.contains("\"status\":\"Successful\"") &&
        b1.contains("\"rows\":1"), b1)
      assertReportedWatermark(b1)
      assert(spark.read.parquet(s"$dir/dwh/migration-log-sync").count() === 1)

      // the reference's HTTP trigger accepts GET too (function.json);
      // the empty incremental batch leaves the merged fact at 1 row
      val (s2, b2) = get(h.port, "/api/migration-log")
      assert(s2 === 200 && b2.contains("\"status\":\"Successful\""), b2)
      val wm2 = assertReportedWatermark(b2)
      assert(spark.read.parquet(s"$dir/dwh/migration-log-sync").count() === 1)

      // unknown name → 404, not a server crash
      val (s3, _) = post(h.port, "/api/nope")
      assert(s3 === 404)

      // a pipeline whose source is missing → 500 + Failed control row,
      // watermark untouched (same contract as the CLI runner)
      val (s4, b4) = post(h.port, "/api/pembelian")
      assert(s4 === 500 && b4.contains("\"status\":\"Failed\""), b4)
      assert(control.log.filter("status like 'Failed%'").count() === 1)
      assert(control.lastWatermark("purchasing-fact") === control.epoch)

      // non-GET/POST verbs are rejected everywhere, status included
      val rDel = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.port}/api/status"))
          .DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rDel.statusCode() === 405)

      // the status endpoint surfaces both runs: latest row per pipeline
      // with its watermark (epoch for the failed one)
      val (s5, b5) = get(h.port, "/api/status")
      assert(s5 === 200, b5)
      assert(b5.contains("\"pipeline\":\"migration-log-sync\"") &&
        b5.contains("\"status\":\"Successful\""), b5)
      assert(b5.contains("\"pipeline\":\"purchasing-fact\"") &&
        b5.contains("\"status\":\"Failed") &&
        b5.contains(s""""watermark":"${control.epoch}""""), b5)

      // a failed run leaves the reported watermark where it was
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/mongo/externalLog.jsonl"))
      val (s6, b6) = post(h.port, "/api/migration-log")
      assert(s6 === 500 && b6.contains("\"status\":\"Failed\""), b6)
      assert(control.lastWatermark("migration-log-sync").toString === wm2)
    } finally h.stop()
  }

  test("--every timer loop reruns the named pipeline on its interval") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-timer").toString
    graft.sources.JsonLinesConnector(s"$dir/mongo").write(Seq(
      ("fact-kanban", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-01 00:09:00"),
        "9.00 minutes", "success")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)

    val h = Serve.start(spark,
      graft.sources.JsonLinesConnector(s"$dir/mongo"),
      s"$dir/dwh", s"$dir/dwh/control", port = 0,
      every = Some((1L, Seq("migration-log"))))
    try {
      val control = new WatermarkManager(spark, s"$dir/dwh/control")
      val deadline = System.currentTimeMillis() + 30000
      var runs = 0L
      while (runs < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        runs = control.log.filter("status = 'Successful'").count()
      }
      // at least two scheduled ticks completed — the timer loop is live
      assert(runs >= 2, s"only $runs successful timer runs")
      assert(spark.read.parquet(s"$dir/dwh/migration-log-sync").count() === 1)
    } finally h.stop()
  }

  test("--cron schedules a pipeline off an NCRONTAB expression") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-cron").toString
    graft.sources.JsonLinesConnector(s"$dir/mongo").write(Seq(
      ("fact-kanban", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-01 00:09:00"),
        "9.00 minutes", "success")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)

    // a bad pipeline name in the schedule table must fail at startup
    intercept[IllegalArgumentException] {
      Serve.start(spark, graft.sources.JsonLinesConnector(s"$dir/mongo"),
        s"$dir/dwh", s"$dir/dwh/control", port = 0,
        crons = Seq(("0 20 0 * * *", Seq("no-such-pipeline"))))
    }
    // ...and so must a malformed expression
    intercept[IllegalArgumentException] {
      Serve.start(spark, graft.sources.JsonLinesConnector(s"$dir/mongo"),
        s"$dir/dwh", s"$dir/dwh/control", port = 0,
        crons = Seq(("0 20 0 * *", Seq("migration-log"))))
    }
    // ...and a parseable-but-unsatisfiable one (Feb 30) — BEFORE the
    // socket binds, not from inside the scheduler
    intercept[IllegalArgumentException] {
      Serve.start(spark, graft.sources.JsonLinesConnector(s"$dir/mongo"),
        s"$dir/dwh", s"$dir/dwh/control", port = 0,
        crons = Seq(("0 0 0 30 2 *", Seq("migration-log"))))
    }

    // every-second cron: the reference shape with * in the time fields
    val h = Serve.start(spark,
      graft.sources.JsonLinesConnector(s"$dir/mongo"),
      s"$dir/dwh", s"$dir/dwh/control", port = 0,
      crons = Seq(("* * * * * *", Seq("migration-log"))))
    try {
      val control = new WatermarkManager(spark, s"$dir/dwh/control")
      val deadline = System.currentTimeMillis() + 30000
      var runs = 0L
      while (runs < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        runs = control.log.filter("status = 'Successful'").count()
      }
      assert(runs >= 2, s"only $runs successful cron runs")
    } finally h.stop()
    // read only after stop(); a tick already in flight at stop() may
    // still be swapping the fact directory for a few hundred ms, so
    // tolerate transient vanishing-part-file reads
    val deadline2 = System.currentTimeMillis() + 10000
    var count = -1L
    while (count < 0 && System.currentTimeMillis() < deadline2) {
      try count = spark.read.parquet(s"$dir/dwh/migration-log-sync").count()
      catch { case scala.util.control.NonFatal(_) => Thread.sleep(250) }
    }
    assert(count === 1)
  }

  test("function keys gate the API like the reference's authLevel:function") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-auth").toString
    graft.sources.JsonLinesConnector(s"$dir/mongo").write(Seq(
      ("fact-pembelian", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)

    val h = Serve.start(spark,
      graft.sources.JsonLinesConnector(s"$dir/mongo"),
      s"$dir/dwh", s"$dir/dwh/control", port = 0,
      keys = Set("sekrit-1", "sekrit-2"))
    try {
      // no key → 401, nothing runs
      val (s0, b0) = post(h.port, "/api/migration-log")
      assert(s0 === 401 && b0.contains("function key"), b0)
      // wrong key → 401 (header path)
      val rWrong = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.port}/api/migration-log"))
          .header("x-functions-key", "nope")
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rWrong.statusCode() === 401)
      // rejected requests never reached the runner
      assert(!new java.io.File(s"$dir/dwh/migration-log-sync").exists())
      // valid key in the x-functions-key header → runs
      val rHdr = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.port}/api/migration-log"))
          .header("x-functions-key", "sekrit-2")
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rHdr.statusCode() === 200 &&
        rHdr.body().contains("\"status\":\"Successful\""), rHdr.body())
      // valid key as ?code= query param (the Azure portal URL shape),
      // URL-encoded characters included
      val (s1, b1) = get(h.port, "/api/migration-log?code=sekrit%2D1")
      assert(s1 === 200 && b1.contains("\"status\":\"Successful\""), b1)
      // the discovery listing is gated too
      assert(get(h.port, "/api")._1 === 401)
      assert(get(h.port, "/api?code=sekrit-1")._1 === 200)
    } finally h.stop()
  }

  /** A pipeline whose merge job blocks for `sleepMs` per row — the
    * deliberately-slow run the deadline watchdog must cancel. The sleep
    * sits inside a Spark task so `cancelJobGroup(interruptOnCancel)`
    * reaches it, exactly like a hung source read would be reached. */
  private def slowPipeline(pname: String, sleepMs: Long) =
    new graft.pipelines.Pipeline {
      val name = pname
      val sources = Seq("slowsrc")
      val factKeys = Seq("id")
      def transform(t: Map[String, org.apache.spark.sql.DataFrame]) = {
        // capture the duration as a LOCAL so the udf closure stays a
        // static lambda — referencing the field would serialize the
        // anonymous Pipeline (and the spec's SparkSession) into the task
        val ms = sleepMs
        val sleep = org.apache.spark.sql.functions.udf { (id: Long) =>
          Thread.sleep(ms); true
        }
        t("slowsrc").filter(sleep(org.apache.spark.sql.functions.col("id")))
      }
    }

  test("per-run timeout cancels a hung run, logs Failed-timeout, frees the lock") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-timeout").toString
    val conn = graft.sources.ParquetConnector(s"$dir/lake")
    conn.write(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "lastmodifiedutc"), "slowsrc",
      org.apache.spark.sql.SaveMode.Overwrite)
    conn.write(Seq(
      ("fact-x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)
    graft.runner.Pipelines.register(slowPipeline("slow-test-pipe", 60000L))
    val h = Serve.start(spark, conn, s"$dir/dwh", s"$dir/dwh/control",
      port = 0, timeoutSeconds = Some(2L))
    try {
      // the run hangs inside its merge job; the watchdog cancels the
      // job group at the 2s deadline → 500 Failed-timeout, not a wedge
      val t0 = System.currentTimeMillis()
      val (s1, b1) = post(h.port, "/api/slow-test-pipe")
      assert(s1 === 500 && b1.contains("\"status\":\"Failed-timeout\""), b1)
      assert(System.currentTimeMillis() - t0 < 30000, "cancel was not prompt")
      // the control row records the timeout; the watermark is untouched
      val control = new WatermarkManager(spark, s"$dir/dwh/control")
      assert(control.log.filter("status = 'Failed-timeout'").count() === 1)
      assert(control.lastWatermark("slow-test-pipe") === control.epoch)
      // the run lock was released: the next (fast) run proceeds
      val (s2, b2) = post(h.port, "/api/migration-log")
      assert(s2 === 200 && b2.contains("\"status\":\"Successful\""), b2)
    } finally {
      h.stop()
      graft.runner.Pipelines.unregister("slow-test-pipe")
    }
  }

  test("a cron tick delayed past its schedule is flagged IsPastDue") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-pastdue").toString
    val conn = graft.sources.ParquetConnector(s"$dir/lake")
    conn.write(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "lastmodifiedutc"), "slowsrc",
      org.apache.spark.sql.SaveMode.Overwrite)
    conn.write(Seq(
      ("fact-x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful")
    ).toDF("description", "start", "finish", "executionTime", "status"),
      "externalLog", org.apache.spark.sql.SaveMode.Overwrite)
    // the every-loop's slow tick (4s of sleep per run) occupies the
    // single scheduler thread, so the every-second cron's tick executes
    // seconds after the instant it was armed for — the engine's
    // IsPastDue, which the reference timers log when they fire late
    // (PembelianTimer/index.js:6-9)
    graft.runner.Pipelines.register(slowPipeline("occupier-pipe", 4000L))
    val h = Serve.start(spark, conn, s"$dir/dwh", s"$dir/dwh/control",
      port = 0,
      every = Some((1L, Seq("occupier-pipe"))),
      crons = Seq(("* * * * * *", Seq("migration-log"))),
      timeoutSeconds = None)
    try {
      val control = new WatermarkManager(spark, s"$dir/dwh/control")
      val deadline = System.currentTimeMillis() + 60000
      var late = 0L
      while (late < 1 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        late = control.log.filter(
          "description = 'migration-log-sync' and " +
            "executionTime like '%past due%'").count()
      }
      // the late tick's runs carry the past-due note in their control
      // rows — which /api/status surfaces verbatim via executionTime
      assert(late >= 1, "no cron run was flagged past due")
      val (ss, sb) = get(h.port, "/api/status")
      assert(ss === 200, sb)
    } finally {
      h.stop()
      graft.runner.Pipelines.unregister("occupier-pipe")
    }
  }

  test("GET /api/InitialTest probes source connectivity (success + failure)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-serve-probe").toString
    val conn = graft.sources.ParquetConnector(s"$dir/lake")
    conn.write(Seq(("k-1", "open")).toDF("code", "state"), "kanbans",
      org.apache.spark.sql.SaveMode.Overwrite)
    // success: the probe reads ONE row through the configured connector
    // (the reference's `SELECT Top(1) * From Kanbans`)
    val h = Serve.start(spark, conn, s"$dir/dwh", s"$dir/dwh/control",
      port = 0, probeTable = Some("kanbans"))
    try {
      val (s1, b1) = get(h.port, "/api/InitialTest")
      assert(s1 === 200 && b1.contains("\"status\":\"ok\"") &&
        b1.contains("\"k-1\""), b1)
      // the hyphenated alias answers too
      assert(get(h.port, "/api/initial-test")._1 === 200)
    } finally h.stop()
    // failure: a missing probe table reports the error, not a crash
    val h2 = Serve.start(spark, conn, s"$dir/dwh", s"$dir/dwh/control",
      port = 0, probeTable = Some("no-such-table"))
    try {
      val (s2, b2) = get(h2.port, "/api/InitialTest")
      assert(s2 === 500 && b2.contains("\"status\":\"error\""), b2)
    } finally h2.stop()
  }

  test("stop() shuts down the HTTP handler pool") {
    val dir = Files.createTempDirectory("graft-serve-stop").toString
    val h = Serve.start(spark, graft.sources.ParquetConnector(s"$dir/lake"),
      s"$dir/dwh", s"$dir/dwh/control", port = 0)
    val name = Serve.handlerThreadName(h.port)
    def handlersAlive(): Boolean = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.isAlive && t.getName == name)
    }
    try {
      assert(get(h.port, "/api")._1 === 200)
      assert(handlersAlive(), s"no '$name' thread served the request")
    } finally h.stop()
    val deadline = System.nanoTime() + 10000000000L
    while (handlersAlive() && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!handlersAlive(), s"'$name' threads outlived stop()")
  }
}
