package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sources.{BinaryFileConnector, ConnectorRegistry, CsvConnector, JdbcConnector, JsonLinesConnector, OrcConnector, ParquetConnector}

/** Exercises the real JDBC code path against embedded Derby (the same
  * engine Spark ships for its metastore) — write, plain read,
  * partitioned parallel read, and predicate pushdown into the remote
  * query. */
class ConnectorSpec extends SparkSpec {

  private lazy val url = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby")
    s"jdbc:derby:$dir/db;create=true"
  }

  private def seed(): Unit = {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"name$i", i * 10.0))
      .toDF("id", "name", "amount")
    JdbcConnector(url).write(df, "items", SaveMode.Overwrite)
  }

  test("JDBC write → read roundtrip (embedded Derby)") {
    seed()
    val got = JdbcConnector(url).read(spark, "items")
    assert(got.count() === 100)
    assert(got.columns.map(_.toLowerCase).sorted === Array("amount", "id", "name"))
  }

  test("Derby write accepts strings far beyond 255 chars (VARCHAR 32672)") {
    import spark.implicits._
    val long = "x" * 5000
    val df = Seq((1L, long)).toDF("id", "body")
    JdbcConnector(url).write(df, "long_strings", SaveMode.Overwrite)
    val got = JdbcConnector(url).read(spark, "long_strings").collect()
    assert(got.length === 1 && got.head.getString(1) === long)
  }

  test("partitioned JDBC read slices by bounds and returns everything") {
    val got = JdbcConnector(url, partitionColumn = Some("id"),
      numPartitions = 4).read(spark, "items")
    assert(got.rdd.getNumPartitions === 4)
    assert(got.count() === 100)
    assert(got.agg(sum(col("id"))).collect().head.getLong(0) === 5050L)
  }

  test("filters push down into the remote JDBC query") {
    val df = JdbcConnector(url).read(spark, "items")
      .filter(col("id") > 90)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      plan)
    assert(df.count() === 10)
  }

  test("doc-store (JSON-lines) connector: MigrationLogSync end-to-end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docstore").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val docs = Seq(
      ("fact-pembelian", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:05:00"),
        "5.00 minutes", "Successful"),
      ("fact-pembelian", ts("2024-01-02 00:00:00"), ts("2024-01-02 00:04:00"),
        "4.00 minutes", "success"),
      ("fact-pembelian", ts("2024-01-03 00:00:00"), ts("2024-01-03 00:03:00"),
        "3.00 minutes", "Failed: boom"),
      ("fact-packing", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:09:00"),
        "9.00 minutes", "Successful")
    ).toDF("description", "start", "finish", "executionTime", "status")
    val conn = JsonLinesConnector(dir)
    conn.write(docs, "externalLog", SaveMode.Overwrite)
    val reg = ConnectorRegistry(Map("docstore" -> conn))
    val got = reg.read(spark, "docstore", "externalLog")
    // timestamps survive the document round-trip (schema-on-read)
    assert(got.schema("finish").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // the reference's $match/$sort/$group-$first shape: latest SUCCESSFUL
    // run per description — failures never win
    val out = graft.pipelines.MigrationLogSync.transform(
        Map("externalLog" -> got))
      .collect().map(r => r.getString(0) -> r.getAs[java.sql.Timestamp]("finish"))
      .toMap
    assert(out === Map(
      "fact-pembelian" -> ts("2024-01-02 00:04:00"),
      "fact-packing" -> ts("2024-02-01 00:09:00")))
  }

  test("a second document store drops into the SPI seam without touching the pipeline") {
    import spark.implicits._
    // an in-memory stand-in for a wire-protocol client: collections
    // are just raw JSON documents, exactly what a driver's cursor
    // yields — the store knows NOTHING of Spark schemas; all
    // schema-on-read behavior comes from DocumentStoreConnector
    object MemStore extends graft.sources.DocumentStore {
      private val collections =
        scala.collection.mutable.Map.empty[String, Seq[String]]
      def seed(name: String, docs: Seq[String]): Unit =
        collections(name) = docs
      def documents(s: org.apache.spark.sql.SparkSession, c: String) = {
        import s.implicits._
        collections(c).toDS()
      }
      def insert(s: org.apache.spark.sql.SparkSession,
                 docs: org.apache.spark.sql.Dataset[String],
                 c: String, mode: SaveMode): Unit =
        collections(c) = docs.collect().toSeq
    }
    MemStore.seed("externalLog", Seq(
      """{"description":"fact-kanban","start":"2024-03-01T00:00:00.000Z","finish":"2024-03-01T00:05:00.000Z","executionTime":"5.00 minutes","status":"Successful"}""",
      """{"description":"fact-kanban","start":"2024-03-02T00:00:00.000Z","finish":"2024-03-02T00:04:00.000Z","executionTime":"4.00 minutes","status":"Failed: x"}"""))
    val conn = graft.sources.DocumentStoreConnector(MemStore)
    val got = conn.read(spark, "externalLog")
    // identical Spark-side semantics: timestamps inferred, same
    // pipeline transform, zero MigrationLogSync changes
    assert(got.schema("finish").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val out = graft.pipelines.MigrationLogSync.transform(
        Map("externalLog" -> got))
      .collect().map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(out === Map("fact-kanban" -> "Successful"))
    // the write half round-trips through the same seam
    conn.write(got.limit(1), "copy", SaveMode.Overwrite)
    assert(conn.read(spark, "copy").count() === 1)
  }

  /** In-process server speaking the SocketDocumentStore line protocol,
    * with fault injection: after serving `failAfterDocs` documents it
    * hard-closes the TCP connection mid-cursor — the wire failure no
    * file- or memory-backed store can produce. */
  private final class DocServer(token: String,
      data: scala.collection.mutable.Map[String, Vector[String]],
      failAfterDocs: Int = Int.MaxValue) {
    private val server = new java.net.ServerSocket(0) // ephemeral port
    def port: Int = server.getLocalPort
    @volatile private var servedDocs = 0
    private val acceptor = new Thread(() => {
      try while (!server.isClosed) {
        val sock = server.accept()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    def close(): Unit = server.close()

    private def handle(sock: java.net.Socket): Unit = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), true)
      try {
        if (in.readLine() != s"HELLO $token") { out.println("DENIED"); return }
        out.println("OK")
        var cursor = Vector.empty[String]
        var pos = 0
        var batch = 64
        def sendBatch(): Unit = {
          val end = math.min(pos + batch, cursor.length)
          while (pos < end) {
            if (servedDocs >= failAfterDocs) { sock.close(); return }
            servedDocs += 1
            out.println("DOC " + cursor(pos)); pos += 1
          }
          out.println(if (pos < cursor.length) "MORE c0" else "END")
        }
        var line = in.readLine()
        while (line != null) {
          val p = line.split(" ")
          p(0) match {
            case "QUERY" =>
              cursor = data.getOrElse(p(1), Vector.empty)
              pos = 0; batch = p(2).toInt
              sendBatch()
            case "GETMORE" => sendBatch()
            case "INSERT" =>
              val buf = Vector.newBuilder[String]
              var l = in.readLine()
              while (l != null && l != "COMMIT") {
                buf += l.stripPrefix("DOC "); l = in.readLine()
              }
              val docs = buf.result()
              data(p(1)) =
                if (p(2) == "Append") data.getOrElse(p(1), Vector.empty) ++ docs
                else docs
              out.println(s"OK ${docs.size}")
            case _ => out.println("ERR")
          }
          line = in.readLine()
        }
      } catch { case _: Throwable => () }
      finally { try sock.close() catch { case _: Throwable => () } }
    }
  }

  private val logDocs = Vector(
    """{"description":"fact-kanban","start":"2024-03-01T00:00:00.000Z","finish":"2024-03-01T00:05:00.000Z","executionTime":"5.00 minutes","status":"Successful"}""",
    """{"description":"fact-kanban","start":"2024-03-02T00:00:00.000Z","finish":"2024-03-02T00:04:00.000Z","executionTime":"4.00 minutes","status":"Failed: x"}""",
    """{"description":"fact-kanban","start":"2024-03-03T00:00:00.000Z","finish":"2024-03-03T00:02:00.000Z","executionTime":"2.00 minutes","status":"success"}""",
    """{"description":"fact-packing","start":"2024-04-01T00:00:00.000Z","finish":"2024-04-01T00:09:00.000Z","executionTime":"9.00 minutes","status":"Successful"}""",
    """{"description":"fact-packing","start":"2024-04-02T00:00:00.000Z","finish":"2024-04-02T00:08:00.000Z","executionTime":"8.00 minutes","status":"Failed: y"}""")

  test("socket doc store: authenticated, cursor-batched wire read runs " +
      "MigrationLogSync; insert round-trips; bad token refused") {
    val data = scala.collection.mutable.Map("externalLog" -> logDocs)
    val srv = new DocServer("s3cret", data)
    try {
      // batchSize=2 over 5 docs → QUERY + two GETMOREs: the cursor loop
      // is genuinely exercised, not just a single-frame read
      val conn = graft.sources.DocumentStoreConnector(
        graft.sources.SocketDocumentStore("127.0.0.1", srv.port,
          authToken = "s3cret", batchSize = 2))
      val got = conn.read(spark, "externalLog")
      assert(got.count() === 5)
      assert(got.schema("finish").dataType ===
        org.apache.spark.sql.types.TimestampType)
      // same pipeline, zero changes: latest SUCCESSFUL run per
      // description ('success' counts, failures never win)
      val out = graft.pipelines.MigrationLogSync.transform(
          Map("externalLog" -> got))
        .collect().map(r => r.getString(0) -> r.getAs[String]("status"))
        .toMap
      assert(out === Map("fact-kanban" -> "success",
        "fact-packing" -> "Successful"))
      // write half round-trips over the wire through the same seam
      conn.write(got.limit(2), "copy", SaveMode.Overwrite)
      assert(conn.read(spark, "copy").count() === 2)
      // connection config is real: a wrong token is refused at handshake
      val denied = graft.sources.SocketDocumentStore("127.0.0.1", srv.port,
        authToken = "wrong")
      val ex = intercept[java.io.IOException](
        denied.documents(spark, "externalLog"))
      assert(ex.getMessage.contains("handshake refused"))
    } finally srv.close()
  }

  test("socket doc store: a connection dropped mid-cursor fails the run " +
      "and leaves the watermark untouched") {
    import graft.control.WatermarkManager
    import graft.pipelines.PipelineRunner
    val data = scala.collection.mutable.Map("externalLog" -> logDocs)
    // the server hard-closes the socket after 3 of 5 docs — a partial
    // batch must NEVER be mistaken for a complete collection
    val srv = new DocServer("s3cret", data, failAfterDocs = 3)
    try {
      val conn = graft.sources.DocumentStoreConnector(
        graft.sources.SocketDocumentStore("127.0.0.1", srv.port,
          authToken = "s3cret", batchSize = 2, readTimeoutMs = 3000))
      val dir = java.nio.file.Files.createTempDirectory("graft-sockfail")
        .toString
      val control = new WatermarkManager(spark, s"$dir/control")
      val runner = new PipelineRunner(spark, control, s"$dir/warehouse")
      intercept[Exception] {
        runner.run(graft.pipelines.MigrationLogSync,
          t => conn.read(spark, t))
      }
      // the transactional envelope held: failure row logged, watermark
      // still at epoch, no partial fact rows promoted
      assert(control.lastWatermark(
        graft.pipelines.MigrationLogSync.name) === control.epoch)
      assert(control.log.filter("status like 'Failed%'").count() === 1)
    } finally srv.close()
  }

  /** In-process OP_MSG binary server for
    * [[graft.sources.BsonSocketDocumentStore]], with byte-level fault
    * injection line framing can never produce. Once `failAfterDocs`
    * documents have been served, the NEXT cursor reply is mangled per
    * `fault`:
    *  - "drop":   hard socket close instead of a reply (mid-cursor drop)
    *  - "torn":   first half of the reply frame, then close (torn read
    *              mid-document — the length word is valid, the body short)
    *  - "prefix": 2 of the 4 length-prefix bytes, then close
    *  - "badlen": the length word byte-swapped (what a big-endian writer
    *              or corruption does to a little-endian frame)
    */
  private final class BsonDocServer(token: String,
      data: scala.collection.mutable.Map[String, Vector[String]],
      failAfterDocs: Int = Int.MaxValue, fault: String = "drop") {
    import graft.sources.BsonWire._
    private val server = new java.net.ServerSocket(0) // ephemeral port
    def port: Int = server.getLocalPort
    @volatile private var servedDocs = 0
    private val acceptor = new Thread(() => {
      try while (!server.isClosed) {
        val sock = server.accept()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    def close(): Unit = server.close()

    private def handle(sock: java.net.Socket): Unit = {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      var replyId = 1000
      var cursor = Vector.empty[String]
      var pos = 0
      var cbatch = 64
      def send(to: Int, doc: BDoc): Unit = {
        replyId += 1; writeMsg(out, replyId, to, doc)
      }
      def sendMangled(to: Int, doc: BDoc): Unit = {
        replyId += 1
        val bytes = messageBytes(replyId, to, doc)
        fault match {
          case "torn" => out.write(bytes, 0, bytes.length / 2); out.flush()
          case "prefix" => out.write(bytes, 0, 2); out.flush()
          case "badlen" =>
            val b = bytes.clone()
            val t0 = b(0); b(0) = b(3); b(3) = t0
            val t1 = b(1); b(1) = b(2); b(2) = t1
            out.write(b); out.flush()
          case _ => () // "drop": no bytes at all
        }
        sock.close()
      }
      def batchReply(to: Int, field: String): Unit = {
        val end = math.min(pos + cbatch, cursor.length)
        val id = if (end < cursor.length) 7L else 0L
        val doc = BDoc("ok" -> BDbl(1.0), "cursor" -> BDoc(
          "id" -> BLong(id),
          field -> BArr(cursor.slice(pos, end).toVector.map(BStr(_)))))
        if (servedDocs + (end - pos) > failAfterDocs) { sendMangled(to, doc); return }
        servedDocs += end - pos; pos = end
        send(to, doc)
      }
      try {
        var msg = readMsg(in, 1 << 20)
        while (msg.isDefined) {
          val (reqId, _, body) = msg.get
          if (body.get("hello").isDefined) {
            if (body.get("token") == Some(BStr(token))) send(reqId, BDoc("ok" -> BDbl(1.0)))
            else send(reqId, BDoc("ok" -> BDbl(0.0), "errmsg" -> BStr("bad token")))
          } else body.get("find") match {
            case Some(BStr(coll)) =>
              cursor = data.getOrElse(coll, Vector.empty); pos = 0
              cbatch = body.get("batchSize") match {
                case Some(BInt(n)) => n; case _ => 64
              }
              batchReply(reqId, "firstBatch")
            case _ => body.get("getMore") match {
              case Some(BLong(_)) => batchReply(reqId, "nextBatch")
              case _ => body.get("insert") match {
                case Some(BStr(coll)) =>
                  val docs = body.get("documents") match {
                    case Some(BArr(items)) => items.collect { case BStr(s) => s }
                    case _ => Vector.empty[String]
                  }
                  data(coll) =
                    if (body.get("mode") == Some(BStr("Append")))
                      data.getOrElse(coll, Vector.empty) ++ docs
                    else docs
                  send(reqId, BDoc("ok" -> BDbl(1.0), "n" -> BInt(docs.size)))
                case _ =>
                  send(reqId, BDoc("ok" -> BDbl(0.0),
                    "errmsg" -> BStr("unknown command")))
              }
            }
          }
          msg = readMsg(in, 1 << 20)
        }
      } catch { case _: Throwable => () }
      finally { try sock.close() catch { case _: Throwable => () } }
    }
  }

  /** Like [[logDocs]] but the first document is pretty-printed across
    * seven lines — valid JSON that LINE framing would tear into garbage
    * but length-prefixed binary framing carries verbatim. */
  private val bsonLogDocs: Vector[String] = Vector(
    """|{
       |  "description": "fact-kanban",
       |  "start": "2024-03-01T00:00:00.000Z",
       |  "finish": "2024-03-01T00:05:00.000Z",
       |  "executionTime": "5.00 minutes",
       |  "status": "Successful"
       |}""".stripMargin) ++ logDocs.tail

  test("bson doc store: OP_MSG cursor read runs MigrationLogSync; " +
      "multi-line documents survive binary framing; insert round-trips") {
    val data = scala.collection.mutable.Map("externalLog" -> bsonLogDocs)
    val srv = new BsonDocServer("s3cret", data)
    try {
      // batchSize=2 over 5 docs → find + two getMores: the binary cursor
      // loop is genuinely exercised, not a single-frame read
      val conn = graft.sources.DocumentStoreConnector(
        graft.sources.BsonSocketDocumentStore("127.0.0.1", srv.port,
          authToken = "s3cret", batchSize = 2))
      val got = conn.read(spark, "externalLog")
      assert(got.count() === 5)
      assert(got.schema("finish").dataType ===
        org.apache.spark.sql.types.TimestampType)
      // the multi-line document parsed into real fields, not junk rows
      assert(got.filter(col("description") === "fact-kanban").count() === 3)
      val out = graft.pipelines.MigrationLogSync.transform(
          Map("externalLog" -> got))
        .collect().map(r => r.getString(0) -> r.getAs[String]("status"))
        .toMap
      assert(out === Map("fact-kanban" -> "success",
        "fact-packing" -> "Successful"))
      // write half round-trips over the binary wire through the same seam
      conn.write(got.limit(2), "copy", SaveMode.Overwrite)
      assert(conn.read(spark, "copy").count() === 2)
      // the runner's bson:<host>:<port>:<token> URI binds this store
      val viaUri = graft.runner.Main.connectorFor(
        s"bson:127.0.0.1:${srv.port}:s3cret")
      assert(viaUri.read(spark, "externalLog").count() === 5)
    } finally srv.close()
  }

  test("bson doc store: torn frame, partial length prefix, corrupt length " +
      "word, mid-cursor drop and refused handshake each fail the run and " +
      "leave the watermark untouched") {
    import graft.control.WatermarkManager
    import graft.pipelines.PipelineRunner
    for (fault <- Seq("torn", "prefix", "badlen", "drop", "auth")) {
      val data = scala.collection.mutable.Map("externalLog" -> bsonLogDocs)
      // server mangles the reply only after 3 of 5 docs were served, so
      // every wire fault lands MID-CURSOR, after real data flowed ("auth"
      // instead presents a wrong client token at handshake)
      val srv = new BsonDocServer("s3cret", data,
        failAfterDocs = if (fault == "auth") Int.MaxValue else 3,
        fault = fault)
      try {
        val conn = graft.sources.DocumentStoreConnector(
          graft.sources.BsonSocketDocumentStore("127.0.0.1", srv.port,
            authToken = if (fault == "auth") "wrong" else "s3cret",
            batchSize = 2, readTimeoutMs = 3000))
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-bsonfail-$fault").toString
        val control = new WatermarkManager(spark, s"$dir/control")
        val runner = new PipelineRunner(spark, control, s"$dir/warehouse")
        intercept[Exception] {
          runner.run(graft.pipelines.MigrationLogSync,
            t => conn.read(spark, t))
        }
        // the transactional envelope held for THIS fault shape: failure
        // row logged, watermark still at epoch, nothing promoted
        assert(control.lastWatermark(
          graft.pipelines.MigrationLogSync.name) === control.epoch,
          s"fault=$fault advanced the watermark")
        assert(control.log.filter("status like 'Failed%'").count() === 1,
          s"fault=$fault logged no failure row")
      } finally srv.close()
    }
  }

  test("bson codec: element bytes overrunning the buffer surface as the " +
      "contract's IOException, not BufferUnderflow") {
    import graft.sources.BsonWire
    // declared length 10 covers the buffer, but the double element's 8
    // payload bytes overrun it — the JDK raises BufferUnderflowException,
    // the wire contract requires IOException
    val bytes = Array[Byte](0x0A, 0, 0, 0, 0x01, 'k'.toByte, 0x00,
      0xAA.toByte, 0xBB.toByte, 0xCC.toByte)
    val e = intercept[java.io.IOException] {
      BsonWire.decodeDoc(java.nio.ByteBuffer.wrap(bytes))
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("bson codec: ObjectId/datetime/null round-trip and transcode to " +
      "the reference's flattening (hex string / ISO instant / null)") {
    import graft.sources.BsonWire._
    val doc = BDoc(
      "_id" -> BObjectId("64b0c5e2a1b2c3d4e5f60718"),
      "description" -> BStr("fact-kanban"),
      "start" -> BDate(1709251200000L), // 2024-03-01T00:00:00Z
      "finish" -> BNull,
      "meta" -> BDoc("n" -> BInt(3), "ok" -> BBool(true),
        "took" -> BDbl(5.5), "rows" -> BLong(42L)),
      "tags" -> BArr(Vector(BStr("a\nb"), BDate(0L))))
    val back = decodeDoc(java.nio.ByteBuffer.wrap(encodeDoc(doc)))
    assert(back === doc)
    assert(toJson(doc) === "{\"_id\":\"64b0c5e2a1b2c3d4e5f60718\"," +
      "\"description\":\"fact-kanban\"," +
      "\"start\":\"2024-03-01T00:00:00Z\",\"finish\":null," +
      "\"meta\":{\"n\":3,\"ok\":true,\"took\":5.5,\"rows\":42}," +
      "\"tags\":[\"a\\nb\",\"1970-01-01T00:00:00Z\"]}")
    // a malformed ObjectId is rejected at construction, not truncated
    intercept[IllegalArgumentException] { BObjectId("zz") }
  }

  test("document store transcodes a server speaking REAL typed BSON " +
      "documents (not JSON strings) into the SPI's JSON") {
    import graft.sources.BsonWire._
    val server = new java.net.ServerSocket(0)
    val typed = BDoc(
      "_id" -> BObjectId("0123456789abcdef01234567"),
      "description" -> BStr("fact-pembelian"),
      "start" -> BDate(1709251200000L),
      "finish" -> BNull)
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        var msg = readMsg(in, 1 << 20)
        while (msg.isDefined) {
          val (reqId, _, body) = msg.get
          if (body.get("hello").isDefined)
            writeMsg(out, 1, reqId, BDoc("ok" -> BDbl(1.0)))
          else // find: one typed document, cursor closed
            writeMsg(out, 2, reqId, BDoc("ok" -> BDbl(1.0),
              "cursor" -> BDoc("id" -> BLong(0L),
                "firstBatch" -> BArr(Vector(typed)))))
          msg = readMsg(in, 1 << 20)
        }
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true); t.start()
    try {
      val got = graft.sources.BsonSocketDocumentStore("127.0.0.1",
          server.getLocalPort, authToken = "")
        .documents(spark, "externalLog").collect().toSeq
      assert(got === Seq("{\"_id\":\"0123456789abcdef01234567\"," +
        "\"description\":\"fact-pembelian\"," +
        "\"start\":\"2024-03-01T00:00:00Z\",\"finish\":null}"))
      // and Spark's JSON reader sees the typed values the reference's
      // flattening produces
      import spark.implicits._
      val parsed = spark.read
        .schema("_id STRING, description STRING, start TIMESTAMP, finish TIMESTAMP")
        .json(got.toDS()).head()
      assert(parsed.getString(0) === "0123456789abcdef01234567")
      assert(!parsed.isNullAt(2) && parsed.isNullAt(3))
    } finally server.close()
  }

  test("CSV connector: roundtrip with declared schema beats inference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val conn = CsvConnector(dir)
    conn.write(Seq((1L, "alpha", 1.5), (2L, "beta", 2.5))
      .toDF("id", "name", "score"), "corpus", SaveMode.Overwrite)
    // inferred read parses numerics back — but narrows small ints to
    // INT, which is exactly why production reads declare the schema
    val inferred = conn.read(spark, "corpus")
    assert(inferred.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(inferred.count() === 2)
    // declared schema pins types without an inference pass over the data
    val declared = CsvConnector(dir,
      Some("id BIGINT, name STRING, score DOUBLE")).read(spark, "corpus")
    assert(declared.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(declared.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("alpha", "beta"))
  }

  test("ORC connector: typed roundtrip and filter pushdown to the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val conn = OrcConnector(dir)
    conn.write((1 to 100).map(i => (i.toLong, s"name$i", i * 1.5))
      .toDF("id", "name", "score"), "corpus", SaveMode.Overwrite)
    val back = conn.read(spark, "corpus")
    assert(back.schema("id").dataType ===
      org.apache.spark.sql.types.LongType) // columnar formats keep types
    assert(back.count() === 100)
    val plan = back.filter(col("id") > 90)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"ORC scan should receive the pushed filter, got:\n$plan")
  }

  test("parquet connector mergeSchema reconciles evolved table schemas") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evo").toString
    val conn = ParquetConnector(dir)
    conn.write(Seq((1L, "a")).toDF("k", "v"), "t", SaveMode.Overwrite)
    // schema evolves: a new column appears in later files
    conn.write(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), "t",
      SaveMode.Append)
    val merged = ParquetConnector(dir, mergeSchema = true).read(spark, "t")
      .select("k", "v", "score")
    val rows = merged.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }

  test("registry binds logical source names; parquet and jdbc coexist") {
    val reg = ConnectorRegistry(Map(
      "purchasing" -> JdbcConnector(url),
      "lake" -> ParquetConnector("/root/testdata/sf0.001")))
    assert(reg.read(spark, "purchasing", "items").count() === 100)
    assert(reg.read(spark, "lake", "region").count() === 5)
    intercept[IllegalArgumentException](reg.read(spark, "nope", "x"))
  }

  test("binaryFile connector: media directory → rows, glob + size guard, " +
    "decode composes") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-binconn")
    val media = dir.resolve("media"); java.nio.file.Files.createDirectories(media)
    // one real PNG (the Multimodal decode fixture shape) + one other file
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    java.nio.file.Files.write(media.resolve("a.png"), bos.toByteArray)
    java.nio.file.Files.write(media.resolve("b.txt"),
      "not an image".getBytes("UTF-8"))

    val conn = BinaryFileConnector(dir.toString)
    val rows = conn.read(spark, "media")
    assert(rows.count() === 2)
    assert(rows.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))

    // listing-level glob: only the png is even read
    val pngs = BinaryFileConnector(dir.toString, pathGlob = Some("*.png"))
      .read(spark, "media")
    assert(pngs.count() === 1)
    // size guard drops the larger file
    val small = BinaryFileConnector(dir.toString,
      maxBytes = Some(20L)).read(spark, "media")
    assert(small.count() === 1 &&
      small.head().getAs[String]("path").endsWith("b.txt"))
    // the content column feeds the Multimodal decode path directly:
    // binaryFile rows → (media_id, kind, content) → real PNG decode
    val asMedia = pngs.select(
      org.apache.spark.sql.functions.xxhash64(col("path")).as("media_id"),
      org.apache.spark.sql.functions.lit("image").as("kind"),
      col("content"))
    val feats = graft.operators.Multimodal.extractFeatures(asMedia).head()
    assert(feats.getSeq[Float](2).length === 16)
    // read-only by design
    intercept[UnsupportedOperationException](
      conn.write(rows, "media", org.apache.spark.sql.SaveMode.Overwrite))
  }
}
