package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sources.{BinaryFileConnector, BsonSocketDocumentStore, CsvConnector, DocumentStoreConnector, JdbcConnector, JsonLinesConnector, JsonLinesStore, OrcConnector, ParquetConnector}

/** Exercises every connector the runner's `--sources` URIs bind: the
  * real JDBC code path against embedded Derby (the same engine Spark
  * ships for its metastore) — write, read and predicate pushdown into
  * the remote query — the document stores, including the OP_MSG wire
  * client against an in-process fault-injecting server, and the file
  * formats. */
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
    val got = conn.read(spark, "externalLog")
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

  private val logDocs = Vector(
    """{"description":"fact-kanban","start":"2024-03-01T00:00:00.000Z","finish":"2024-03-01T00:05:00.000Z","executionTime":"5.00 minutes","status":"Successful"}""",
    """{"description":"fact-kanban","start":"2024-03-02T00:00:00.000Z","finish":"2024-03-02T00:04:00.000Z","executionTime":"4.00 minutes","status":"Failed: x"}""",
    """{"description":"fact-kanban","start":"2024-03-03T00:00:00.000Z","finish":"2024-03-03T00:02:00.000Z","executionTime":"2.00 minutes","status":"success"}""",
    """{"description":"fact-packing","start":"2024-04-01T00:00:00.000Z","finish":"2024-04-01T00:09:00.000Z","executionTime":"9.00 minutes","status":"Successful"}""",
    """{"description":"fact-packing","start":"2024-04-02T00:00:00.000Z","finish":"2024-04-02T00:08:00.000Z","executionTime":"8.00 minutes","status":"Failed: y"}""")

  /** In-process OP_MSG binary server for
    * [[graft.sources.BsonSocketDocumentStore]], with byte-level fault
    * injection. Once `failAfterDocs`
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

  test("connectorFor binds every --sources scheme to its connector; " +
      "a malformed bson URI fails naming the URI") {
    import spark.implicits._
    import graft.runner.Main.connectorFor
    seed()
    val root = java.nio.file.Files.createTempDirectory("graft-uris").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    ParquetConnector(s"$root/pq").write(df, "t", SaveMode.Overwrite)
    JsonLinesConnector(s"$root/jl").write(df, "t", SaveMode.Overwrite)
    CsvConnector(s"$root/csv").write(df, "t", SaveMode.Overwrite)
    OrcConnector(s"$root/orc").write(df, "t", SaveMode.Overwrite)
    val media = java.nio.file.Paths.get(root, "bin", "t")
    java.nio.file.Files.createDirectories(media)
    Seq("a.bin", "b.bin").foreach(f =>
      java.nio.file.Files.write(media.resolve(f), Array[Byte](1, 2)))
    val srv = new BsonDocServer("s3cret",
      scala.collection.mutable.Map("t" -> logDocs.take(2)))
    try {
      // URI → the connector it must bind, a table, that table's rows
      val cases = Seq(
        (s"$root/pq", ParquetConnector(s"$root/pq"), "t", 2L),
        (s"jsonl:$root/jl",
          DocumentStoreConnector(JsonLinesStore(s"$root/jl")), "t", 2L),
        (s"csv:$root/csv", CsvConnector(s"$root/csv"), "t", 2L),
        (s"orc:$root/orc", OrcConnector(s"$root/orc"), "t", 2L),
        (s"binary:$root/bin", BinaryFileConnector(s"$root/bin"), "t", 2L),
        (url, JdbcConnector(url), "items", 100L),
        (s"bson:127.0.0.1:${srv.port}:s3cret", DocumentStoreConnector(
          BsonSocketDocumentStore("127.0.0.1", srv.port, authToken = "s3cret")),
          "t", 2L))
      for ((uri, want, table, rows) <- cases) {
        val got = connectorFor(uri)
        assert(got === want, uri)
        assert(got.read(spark, table).count() === rows, uri)
      }
    } finally srv.close()
    // missing, empty, non-numeric, Int-overflowing and out-of-range ports
    for (bad <- Seq("bson:127.0.0.1", "bson:127.0.0.1:", "bson:127.0.0.1:80x",
        "bson:127.0.0.1:99999999999", "bson:127.0.0.1:70000")) {
      val e = intercept[IllegalArgumentException](connectorFor(bad))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
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
