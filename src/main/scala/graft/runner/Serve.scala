package graft.runner

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.control.WatermarkManager
import graft.pipelines.PipelineRunner
import graft.sources.Connector

/**
 * Server mode — the engine's analog of the reference's per-pipeline
 * Azure Function triggers, on the JDK's built-in HTTP server (zero
 * added dependencies):
 *
 *  - `GET|POST /api/<name>` runs the named pipeline immediately and
 *    returns a JSON body, mirroring the reference's HTTP trigger
 *    (`Pembelian/function.json:1-17`, `Pembelian/index.js:3-17` —
 *    which also accepts both methods and answers with the run result);
 *  - `GET /api` lists the addressable pipelines (names + aliases);
 *  - `GET /api/status` reports each pipeline's latest control-table
 *    run and current watermark — the monitoring view the reference
 *    keeps in its synced migration log (`MigrationLogFunc/index.js`);
 *  - with `--key` (or `GRAFT_FUNCTION_KEYS`) the API requires a
 *    function key via `x-functions-key` header or `?code=` query param —
 *    the contract behind the reference's `authLevel: function`
 *    (`Pembelian/function.json:4`); without keys it is anonymous;
 *  - `--every <seconds> <name...>` starts a fixed-interval timer loop
 *    over the named pipelines, the engine's analog of the
 *    `*Timer/function.json` `timerTrigger` schedule (`0 20 0 * * *` —
 *    production cadence belongs to cron/k8s, the loop is for parity
 *    and tests).
 *
 * Runs go one at a time by default: the reference's functions are
 * independently scheduled but its DWH merge serializes on the
 * stored-proc transaction anyway, and one-at-a-time keeps watermark
 * semantics identical to the CLI runner. `maxConcurrentRuns = N` admits
 * up to N DIFFERENT pipelines at once; a per-pipeline lock keeps any one
 * pipeline from overlapping itself. Failures return HTTP 500
 * with the error body and leave the watermark untouched — the failed
 * run is still logged in the control table, exactly like the CLI.
 *
 *   runMain graft.runner.Serve --port 8980 --sources /data/lake \
 *     --warehouse /data/dwh --control /data/dwh/control
 */
object Serve {

  /** One running server; `stop()` for embedded callers (tests). */
  final class Handle(server: HttpServer,
                     handlers: java.util.concurrent.ExecutorService,
                     timer: Option[java.util.concurrent.ScheduledExecutorService],
                     watchdog: Option[java.util.concurrent.ScheduledExecutorService],
                     val port: Int) {
    def stop(): Unit = {
      timer.foreach(_.shutdownNow())
      watchdog.foreach(_.shutdownNow())
      server.stop(0)
      // after the server stops dispatching: the pool's threads are
      // non-daemon and would otherwise keep the JVM alive
      handlers.shutdown()
    }
  }

  /** Name of the HTTP handler threads of the server on `port`. */
  private[graft] def handlerThreadName(port: Int): String = s"graft-serve-http-$port"

  /** The reference host bounds every function run at 9 min 59 s
    * (`host.json:3`, `functionTimeout 00:09:59`) — the default run
    * deadline here. */
  val DefaultTimeoutSeconds: Long = 599L

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  /** Constant-time membership test — key comparison must not leak a
    * prefix-length timing signal. */
  private def keyMatches(keys: Set[String], presented: String): Boolean = {
    val p = presented.getBytes(StandardCharsets.UTF_8)
    // fold over ALL keys (no short-circuit) so timing is key-set-shaped,
    // not match-position-shaped
    keys.foldLeft(false) { (acc, k) =>
      java.security.MessageDigest.isEqual(
        k.getBytes(StandardCharsets.UTF_8), p) || acc
    }
  }

  /** The presented key, per the Azure Functions contract the reference
    * relies on (`authLevel: function` in each trigger's function.json): the
    * `x-functions-key` header, else the `code` query parameter. */
  private def presentedKey(ex: HttpExchange): Option[String] = {
    Option(ex.getRequestHeaders.getFirst("x-functions-key")).orElse {
      Option(ex.getRequestURI.getRawQuery).flatMap {
        _.split("&").collectFirst {
          case kv if kv.startsWith("code=") =>
            java.net.URLDecoder.decode(
              kv.stripPrefix("code="), StandardCharsets.UTF_8)
        }
      }
    }
  }

  /** Start the server; embedded callers pass port 0 for an ephemeral
    * bind and get the chosen port from the returned [[Handle]].
    * `crons` are (NCRONTAB expression, pipeline names) pairs — the
    * reference's `*Timer/function.json` schedule table loads directly
    * as one pair per timer function. `timeoutSeconds` is the per-run
    * deadline (None = unbounded; default = the reference host's 9:59);
    * `probeTable` overrides the `/api/InitialTest` connectivity-probe
    * table (default: the kanban pipeline's driving source, matching
    * the reference's `SELECT Top(1) * From Kanbans`).
    * `conns` binds specific pipelines to their OWN source connector,
    * falling back to `conn` — the reference shape: each function holds
    * its own connection strings (`Pembelian/run.js` vs
    * `DailyOperation/run.js` read different databases), and two
    * pipelines may use the same source NAME for differently-shaped
    * feeds (`unitReceiptNotes` means one document to Pembelian and
    * another to TotalHutang), which a single flat lake cannot hold. */
  def start(spark: SparkSession, conn: Connector, warehouse: String,
            controlPath: String, port: Int,
            every: Option[(Long, Seq[String])] = None,
            crons: Seq[(String, Seq[String])] = Nil,
            keys: Set[String] = Set.empty,
            timeoutSeconds: Option[Long] = Some(DefaultTimeoutSeconds),
            probeTable: Option[String] = None,
            maxConcurrentRuns: Int = 1,
            conns: Map[String, Connector] = Map.empty): Handle = {
    require(maxConcurrentRuns >= 1,
      s"maxConcurrentRuns must be >= 1, got $maxConcurrentRuns")
    // validate every scheduled name AND cron expression up front —
    // BEFORE the socket binds: a typo must fail at startup (not throw
    // inside a Runnable, where the scheduler would silently cancel all
    // future ticks), and a failed start must not leak the server
    every.foreach { case (_, names) => names.foreach(Pipelines.byName) }
    val parsedCrons = crons.map { case (expr, names) =>
      names.foreach(Pipelines.byName)
      val c = Cron.parse(expr)
      // a parseable-but-unsatisfiable expression (e.g. Feb 30) throws
      // from next(); force that HERE so it cannot escape from arm()
      // after the socket is bound and leak the server
      c.next(java.time.LocalDateTime.now()): Unit
      (c, names)
    }
    val control = new WatermarkManager(spark, controlPath)
    val runner = new PipelineRunner(spark, control, warehouse)
    // Run admission (scaladoc: one-at-a-time by default). A fair
    // semaphore bounds GLOBAL concurrency at `maxConcurrentRuns` —
    // with the default 1 this reproduces the original single-lock
    // semantics exactly (a slow HTTP-triggered run delays, never
    // overlaps, a scheduled one). With N > 1, up to N DIFFERENT
    // pipelines run concurrently, mirroring the reference host's
    // overlapping nightly timers; the per-pipeline lock still forbids
    // the same pipeline overlapping itself (its watermark read-then-
    // advance must stay serial). Each run executes in a scheduler pool
    // named after its pipeline, so under spark.scheduler.mode=FAIR
    // (the Sessions.local default) one heavy pipeline's stages cannot
    // starve its siblings — and under FIFO the property is a no-op.
    val runPermits =
      new java.util.concurrent.Semaphore(maxConcurrentRuns, true)
    val pipelineLocks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    val activeRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    // the deadline watchdog needs its own thread: the timer executor is
    // single-threaded and busy with the very tick being bounded
    val watchdogExec = timeoutSeconds.map { _ =>
      Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
        val t = new Thread(r, "graft-run-watchdog"); t.setDaemon(true); t
      })
    }

    /** Deadline enforcement around ONE unit of work on the calling
      * thread: a per-run job group plus a watchdog that, once the
      * deadline passes, REPEATEDLY cancels the group (cancelJobGroup
      * only reaches jobs active at the instant of the call — a run is
      * many jobs with driver-side gaps, and a job submitted after a
      * one-shot cancel would escape) and interrupts the run's thread
      * (for hangs with no Spark job at all, e.g. a JDBC driver stuck
      * fetching schema at plan-build time). The guard object closes the
      * finish/interrupt race so a completed run is never interrupted
      * retroactively; any pending interrupt flag is cleared on release. */
    final class Deadline(tag: String) {
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      private val groupId = s"graft-$tag-${System.nanoTime()}"
      private val runThread = Thread.currentThread()
      private val guard = new Object
      private var finished = false
      spark.sparkContext.setJobGroup(groupId, tag, interruptOnCancel = true)
      private val task = for (secs <- timeoutSeconds; ex <- watchdogExec)
        yield ex.scheduleAtFixedRate(new Runnable {
          def run(): Unit = guard.synchronized {
            if (!finished) {
              timedOut.set(true)
              spark.sparkContext.cancelJobGroup(groupId)
              runThread.interrupt()
            }
          }
        }, secs, 5L, TimeUnit.SECONDS)
      /** Stop the watchdog WITHOUT tearing down the job group — called
        * (on the run thread) the moment the run's body has failed and
        * bookkeeping begins: the failure-row write is a small Spark
        * job of its own, and a watchdog tick landing during it would
        * cancel the very record of the timeout. Idempotent; release()
        * still does the full teardown. */
      def disarm(): Unit = {
        guard.synchronized { finished = true }
        task.foreach(_.cancel(false))
        Thread.interrupted(): Unit // clear any flag the watchdog left
      }
      def release(): Unit = {
        disarm()
        spark.sparkContext.clearJobGroup()
      }
    }

    def runOne(name: String, note: Option[String] = None): (Int, String) = {
      val p = Pipelines.byName(name)
      runPermits.acquire()
      try pipelineLocks.computeIfAbsent(p.name, _ => new Object)
          .synchronized {
        activeRuns.incrementAndGet()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", p.name)
        // the reference host enforces the same bound on every function
        // run (host.json:3)
        val deadline = new Deadline(s"run-${p.name}")
        val src = conns.getOrElse(p.name, conn)
        try {
          // a successful run's start becomes its watermark: report it
          // instead of reading it back from the control log
          val start = new Timestamp(System.currentTimeMillis())
          val rows = runner.run(p, t => src.read(spark, t),
            startAt = Some(start),
            // evaluated at catch entry, BEFORE the failure row is
            // written — disarming here keeps the watchdog's repeating
            // cancel/interrupt off the bookkeeping job
            failureStatus = e => {
              deadline.disarm()
              if (deadline.timedOut.get) "Failed-timeout"
              else s"Failed: ${e.getMessage}"
            },
            runNote = note)
          (200, s"""{"pipeline":"${p.name}","status":"Successful",""" +
            s""""rows":$rows,"watermark":"$start"}""")
        } catch {
          case e: Exception if deadline.timedOut.get =>
            (500, s"""{"pipeline":"${p.name}","status":"Failed-timeout",""" +
              s""""timeoutSeconds":${timeoutSeconds.getOrElse(0L)},""" +
              s""""error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
          case e: Exception =>
            (500, s"""{"pipeline":"${p.name}","status":"Failed",""" +
              s""""error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
        } finally {
          deadline.release()
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          // releaseAll drops EVERY pin in the session, including a
          // sibling run's in-flight intermediates (recompute, not
          // corruption — but a 3-pipeline tick would thrash): only the
          // last run out cleans up
          if (activeRuns.decrementAndGet() == 0)
            graft.ops.materialize.releaseAll()
        }
      } finally runPermits.release()
    }

    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api", (ex: HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath.stripPrefix("/api")
          .stripPrefix("/").stripSuffix("/")
        if (keys.nonEmpty &&
            !presentedKey(ex).exists(keyMatches(keys, _))) {
          respond(ex, 401, """{"error":"missing or invalid function key"}""")
        } else if (!Set("GET", "POST").contains(ex.getRequestMethod)) {
          respond(ex, 405, """{"error":"use GET or POST"}""")
        } else if (path.isEmpty) {
          val names = (Pipelines.allWithRegistered.map(_.name) ++
            Pipelines.aliases.keys)
            .sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")
          respond(ex, 200, s"""{"pipelines":$names}""")
        } else if (path == "InitialTest" || path == "initial-test") {
          // connectivity smoke probe — the reference's InitialTest
          // function (`InitialTest/index.js:9-13`, `SELECT Top(1) *
          // From Kanbans`): read ONE row from the probe table through
          // the configured connector and answer with it (or the error),
          // proving the source connection before the nightly window
          val table = probeTable.getOrElse(
            Pipelines.byName("kanban-fact").sources.head)
          // the probe exists to detect an UNREACHABLE source — it gets
          // the same deadline as a run, or a hung read would wedge the
          // single HTTP thread forever (the reference host bounds
          // InitialTest by the same functionTimeout)
          // respond only AFTER the deadline is released: the HTTP
          // server writes through interruptible NIO channels, and a
          // pending watchdog interrupt would close the connection
          // instead of delivering the timeout body
          val deadline = new Deadline("probe")
          val outcome: Either[(String, String), String] =
            try Right(conn.read(spark, table).limit(1).toJSON
              .collect().headOption.getOrElse("null"))
            catch {
              case e: Exception =>
                Left((if (deadline.timedOut.get) "timeout" else "error",
                  String.valueOf(e.getMessage)))
            } finally deadline.release()
          outcome match {
            case Right(row) => respond(ex, 200,
              s"""{"status":"ok","table":"${jsonEscape(table)}",""" +
                s""""row":$row}""")
            case Left((status, msg)) => respond(ex, 500,
              s"""{"status":"$status","table":"${jsonEscape(table)}",""" +
                s""""error":"${jsonEscape(msg)}"}""")
          }
        } else if (path == "status") {
          val entries = control.latestRuns().map { case (r, wm) =>
            s"""{"pipeline":"${jsonEscape(r.getString(0))}",""" +
              s""""lastStart":"${r.getTimestamp(1)}",""" +
              s""""lastFinish":"${r.getTimestamp(2)}",""" +
              s""""executionTime":"${jsonEscape(r.getString(3))}",""" +
              s""""status":"${jsonEscape(r.getString(4))}",""" +
              s""""watermark":"$wm"}"""
          }
          respond(ex, 200, entries.mkString("[", ",", "]"))
        } else {
          try {
            val (status, body) = runOne(path)
            respond(ex, status, body)
          } catch {
            case e: IllegalArgumentException => // unknown pipeline name
              respond(ex, 404,
                s"""{"error":"${jsonEscape(e.getMessage)}"}""")
          }
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":"${jsonEscape(
            String.valueOf(e.getMessage))}"}""")
      }
    })
    // handler threads bound the number of in-flight HTTP requests: the
    // run permits do the real admission control, and one spare thread
    // keeps /api/status responsive while every permit is occupied
    val handlerName = handlerThreadName(server.getAddress.getPort)
    val handlers = Executors.newFixedThreadPool(maxConcurrentRuns + 1,
      (r: Runnable) => new Thread(r, handlerName))
    server.setExecutor(handlers)
    server.start()

    // one tick body, shared by the fixed-interval and cron schedules;
    // runOne catches run failures, but anything unexpected (OOM
    // wrappers, interrupted Spark context) must not kill the schedule
    // or abort the remaining names in this tick. `lateSeconds` is how
    // far past its armed-for instant the tick began (callers measure
    // on the clock their schedule runs on — monotonic for fixed-rate,
    // wall for cron): ≥2 s is flagged past-due — the engine's
    // IsPastDue, which every reference timer logs when it fires late
    // (`PembelianTimer/index.js:6-9`) — on the stderr line AND in the
    // control rows of the runs it triggers (visible via /api/status)
    def tick(names: Seq[String], lateSeconds: Option[Long] = None): Unit = {
      val lateSecs = lateSeconds.filter(_ >= 2)
      val note = lateSecs.map(l => s"fired ${l}s past due")
      lateSecs.foreach(l => System.err.println(
        s"[serve:timer] tick is running late (${l}s past due)"))
      def one(n: String): Unit =
        try {
          val (_, body) = runOne(n, note)
          System.err.println(s"[serve:timer] $body")
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[serve:timer] {\"pipeline\":\"$n\"," +
              s""""status":"Failed","error":"${jsonEscape(
                String.valueOf(e.getMessage))}"}""")
        }
      if (maxConcurrentRuns <= 1 || names.sizeIs <= 1) names.foreach(one)
      else {
        // a tick that triggers several pipelines dispatches them in
        // parallel (the reference's staggered nightly timers routinely
        // overlap); the run permits cap true concurrency, and the tick
        // still completes only when every name has run, preserving the
        // schedule's no-self-overlap guarantee
        val pool = Executors.newFixedThreadPool(
          math.min(maxConcurrentRuns, names.size))
        try names.map(n => pool.submit(new Runnable {
          def run(): Unit = one(n)
        })).foreach(_.get())
        finally pool.shutdown()
      }
    }

    val timer =
      if (every.isEmpty && parsedCrons.isEmpty) None
      else {
        val sched = Executors.newSingleThreadScheduledExecutor()
        every.foreach { case (seconds, names) =>
          // fixed-rate ticks have a computable armed-for instant
          // (start + n·period). scheduleAtFixedRate runs on MONOTONIC
          // elapsed time, so lateness is measured on the same clock —
          // a wall-clock projection would mislabel every tick after a
          // DST shift or an ntp step
          val t0 = System.nanoTime()
          val n = new java.util.concurrent.atomic.AtomicLong(0L)
          sched.scheduleAtFixedRate(() => {
            val k = n.getAndIncrement()
            val late = (System.nanoTime() - t0) / 1000000000L -
              seconds * (k + 1)
            tick(names, Some(late))
          }, seconds, seconds, TimeUnit.SECONDS)
        }
        // cron fires are irregular, so each run self-schedules the next
        // one from the wall clock (an NCRONTAB schedule is a point
        // series, not a fixed rate); the armed-for instant rides along
        // so the tick can flag itself past-due
        parsedCrons.foreach { case (cron, names) =>
          def arm(): Unit = {
            val now = java.time.LocalDateTime.now()
            val fireAt = cron.next(now)
            sched.schedule(new Runnable {
              def run(): Unit = {
                // cron schedules ARE wall-clock points, so wall-clock
                // lateness is the right measure here
                tick(names, Some(java.time.temporal.ChronoUnit.SECONDS
                  .between(fireAt, java.time.LocalDateTime.now())))
                arm()
              }
            }, cron.delaySeconds(now), TimeUnit.SECONDS)
          }
          arm()
        }
        Some(sched)
      }
    new Handle(server, handlers, timer, watchdogExec,
      server.getAddress.getPort)
  }

  def main(args: Array[String]): Unit = {
    var port = 8980
    var sources = "."
    var warehouse = "warehouse"
    var controlPath: Option[String] = None
    var cpus = Main.envCpus(4)
    var every: Option[(Long, Seq[String])] = None
    var crons: Seq[(String, Seq[String])] = Nil
    // the analog of Azure's function keys: any --key (repeatable) or
    // GRAFT_FUNCTION_KEYS (comma-separated) switches the API from
    // anonymous to authLevel=function; no keys = anonymous, like a
    // local func-host run
    var keys: Set[String] = sys.env.get("GRAFT_FUNCTION_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // per-run deadline, reference host parity (host.json functionTimeout
    // 00:09:59); `--timeout 0` disables the bound
    var timeoutSeconds: Option[Long] = Some(DefaultTimeoutSeconds)
    var probeTable: Option[String] = None
    var i = 0
    while (i < args.length) {
      def value = Main.flagValue(args, i)
      args(i) match {
        case "--port" => port = Main.parseFlag("--port", value)(_.toInt); i += 2
        case "--sources" => sources = value; i += 2
        case "--warehouse" => warehouse = value; i += 2
        case "--control" => controlPath = Some(value); i += 2
        case "--cpus" => cpus = Main.parseFlag("--cpus", value)(_.toInt); i += 2
        case "--timeout" =>
          val secs = Main.parseFlag("--timeout", value)(_.toLong)
          timeoutSeconds = if (secs <= 0) None else Some(secs); i += 2
        case "--probe-table" => probeTable = Some(value); i += 2
        case "--key" =>
          require(value.nonEmpty, "--key must not be empty")
          keys = keys + value; i += 2
        case "--every" =>
          val secs = Main.parseFlag("--every", value)(_.toLong)
          val names = args.drop(i + 2).toSeq
          require(names.nonEmpty, "--every <seconds> <pipeline ...>")
          every = Some((secs, names)); i = args.length
        // repeatable: --cron "0 20 0 * * *" pembelian --cron "0 30 0 * * *" ...
        // (names run until the next flag — any "--…" — or end of args,
        // so --key/--port may still follow a --cron group) — the
        // reference's 22 timer schedules load as 22 flags
        case "--cron" =>
          val expr = value
          val names = args.drop(i + 2).takeWhile(!_.startsWith("--")).toSeq
          require(names.nonEmpty, "--cron \"<6-field expr>\" <pipeline ...>")
          crons = crons :+ ((expr, names))
          i += 2 + names.length
        case other => throw new IllegalArgumentException(
          s"unknown argument '$other'; usage: graft.runner.Serve " +
            "[--port N] [--sources <uri>] [--warehouse <dir>] " +
            "[--control <path>] [--cpus N] [--timeout <seconds|0>] " +
            "[--probe-table <name>] [--key <secret>]... " +
            "[--every <seconds> <pipeline ...>] " +
            "[--cron \"<sec min hour dom month dow>\" <pipeline ...>]...")
      }
    }
    val active = SparkSession.getActiveSession
    val spark = active.getOrElse(graft.core.Sessions.local(cpus, "graft-serve"))
    val handle = start(spark, Main.connectorFor(sources), warehouse,
      controlPath.getOrElse(s"$warehouse/control"), port, every, crons, keys,
      timeoutSeconds, probeTable)
    System.err.println(s"[serve] listening on :${handle.port} " +
      s"(${Pipelines.all.size} pipelines)")
    Thread.currentThread.join() // foreground server; ^C to stop
  }
}
