package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{SaveMode, SparkSession}

/**
 * Minimal length-prefixed binary wire format, shaped like MongoDB's
 * OP_MSG (the protocol behind the reference's one Mongo source,
 * `/root/reference/MigrationLogFunc/index.js:16-48`; the wire format is
 * public documentation): a 16-byte little-endian header
 * `(messageLength, requestID, responseTo, opCode=2013)`, then
 * `flagBits` (uint32) and one kind-0 section carrying a single BSON
 * document. The BSON codec implements the element types the reference's
 * Mongo source actually moves — double, string, document, array,
 * boolean, int32, int64, plus (r19) ObjectId, UTC datetime and null,
 * the native types `MigrationLogFunc/index.js:16-48` reads off its
 * mongo driver (`_id` ObjectIds, `start`/`finish` Dates, absent
 * fields). The [[DocumentStore]] SPI trades JSON strings; a server
 * speaking REAL typed BSON is transcoded by [[toJson]] — ObjectId →
 * its 24-hex string, datetime → ISO-8601 UTC, null → null — exactly
 * the flattening the reference applies before its SQL insert.
 *
 * This is the layer where the binary framing's own failure modes are
 * exercised live: torn reads mid-document ([[readFully]] counts its
 * bytes), a partial length prefix at frame start, and
 * endianness/corruption of the length word itself (caught by the
 * plausibility bounds in [[readMsg]] before any allocation).
 */
object BsonWire {

  val OpMsgCode = 2013
  /** header(16) + flagBits(4) + kind(1) + empty BSON doc(5). */
  val MinMessageLen = 26

  // ---- BSON value model (encode input / decode output) ----------------
  sealed trait BVal
  final case class BDbl(v: Double) extends BVal
  final case class BStr(v: String) extends BVal
  final case class BDoc(fields: Vector[(String, BVal)]) extends BVal {
    def get(name: String): Option[BVal] =
      fields.collectFirst { case (`name`, v) => v }
  }
  final case class BArr(items: Vector[BVal]) extends BVal
  final case class BBool(v: Boolean) extends BVal
  final case class BInt(v: Int) extends BVal
  final case class BLong(v: Long) extends BVal
  /** BSON 0x09 UTC datetime: millis since epoch. */
  final case class BDate(millis: Long) extends BVal
  /** BSON 0x07 ObjectId, carried as its canonical 24-hex form. */
  final case class BObjectId(hex: String) extends BVal {
    require(hex.length == 24 && hex.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"ObjectId must be 24 lowercase hex chars, got '$hex'")
  }
  /** BSON 0x0A null. */
  case object BNull extends BVal

  object BDoc {
    def apply(fields: (String, BVal)*): BDoc = BDoc(fields.toVector)
  }

  // ---- BSON encode ------------------------------------------------------
  def encodeDoc(doc: BDoc): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    doc.fields.foreach { case (k, v) => writeElement(body, k, v) }
    val out = new java.io.ByteArrayOutputStream(body.size + 5)
    writeIntLE(out, body.size + 5)
    body.writeTo(out)
    out.write(0x00)
    out.toByteArray
  }

  private def writeIntLE(o: OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }

  private def writeLongLE(o: OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { o.write(((v >> (8 * i)) & 0xffL).toInt); i += 1 }
  }

  /** BSON cstring: UTF-8 bytes + NUL. NUL inside a name is unencodable
    * by construction of the format — reject, don't truncate. */
  private def cstring(o: OutputStream, s: String): Unit = {
    require(!s.contains('\u0000'), s"BSON name/key cannot contain NUL: '$s'")
    o.write(s.getBytes(UTF_8)); o.write(0x00)
  }

  private def writeElement(o: java.io.ByteArrayOutputStream,
                           name: String, v: BVal): Unit = v match {
    case BDbl(d) =>
      o.write(0x01); cstring(o, name)
      writeLongLE(o, java.lang.Double.doubleToLongBits(d))
    case BStr(s) =>
      o.write(0x02); cstring(o, name)
      val b = s.getBytes(UTF_8)
      writeIntLE(o, b.length + 1); o.write(b); o.write(0x00)
    case d: BDoc =>
      o.write(0x03); cstring(o, name); o.write(encodeDoc(d))
    case BArr(items) =>
      // a BSON array IS a document keyed "0","1",... — same bytes
      o.write(0x04); cstring(o, name)
      o.write(encodeDoc(BDoc(items.zipWithIndex.map {
        case (it, i) => i.toString -> it
      })))
    case BBool(b) =>
      o.write(0x08); cstring(o, name); o.write(if (b) 0x01 else 0x00)
    case BInt(i) =>
      o.write(0x10); cstring(o, name); writeIntLE(o, i)
    case BLong(l) =>
      o.write(0x12); cstring(o, name); writeLongLE(o, l)
    case BObjectId(hex) =>
      o.write(0x07); cstring(o, name)
      var i = 0
      while (i < 24) {
        o.write(Integer.parseInt(hex.substring(i, i + 2), 16)); i += 2
      }
    case BDate(ms) =>
      o.write(0x09); cstring(o, name); writeLongLE(o, ms)
    case BNull =>
      o.write(0x0a); cstring(o, name)
  }

  // ---- BSON decode ------------------------------------------------------
  /** Decode one BSON document from `buf` (positioned at its length
    * word). Unknown element types are a hard error — this codec only
    * meets its own encoder. Every corruption shape — including
    * fixed-width element bytes or a cstring overrunning the buffer,
    * which the JDK surfaces as `BufferUnderflowException` — is
    * rethrown as `IOException`, the single failure type of the wire
    * contract. */
  def decodeDoc(buf: ByteBuffer): BDoc =
    try decodeDocUnchecked(buf)
    catch {
      case e: java.nio.BufferUnderflowException =>
        throw new java.io.IOException(
          "truncated BSON document: element bytes overrun the buffer", e)
    }

  private def decodeDocUnchecked(buf: ByteBuffer): BDoc = {
    buf.order(ByteOrder.LITTLE_ENDIAN)
    val start = buf.position()
    val len = buf.getInt
    if (len < 5 || start + len > buf.limit())
      throw new java.io.IOException(
        s"corrupt BSON document: declared $len bytes, " +
          s"${buf.limit() - start} available")
    val fields = Vector.newBuilder[(String, BVal)]
    var t = buf.get()
    while (t != 0x00) {
      val name = readCString(buf)
      val v: BVal = t match {
        case 0x01 => BDbl(java.lang.Double.longBitsToDouble(buf.getLong))
        case 0x02 =>
          val n = buf.getInt
          if (n < 1 || n > buf.remaining())
            throw new java.io.IOException(s"corrupt BSON string length $n")
          val b = new Array[Byte](n - 1); buf.get(b)
          if (buf.get() != 0x00)
            throw new java.io.IOException("BSON string missing terminator")
          BStr(new String(b, UTF_8))
        case 0x03 => decodeDoc(buf)
        case 0x04 => BArr(decodeDoc(buf).fields.map(_._2))
        case 0x07 =>
          val b = new Array[Byte](12); buf.get(b)
          BObjectId(b.map(x => f"${x & 0xff}%02x").mkString)
        case 0x08 => BBool(buf.get() != 0x00)
        case 0x09 => BDate(buf.getLong)
        case 0x0a => BNull
        case 0x10 => BInt(buf.getInt)
        case 0x12 => BLong(buf.getLong)
        case other =>
          throw new java.io.IOException(
            f"unsupported BSON element type 0x$other%02x ('$name')")
      }
      fields += name -> v
      t = buf.get()
    }
    if (buf.position() - start != len)
      throw new java.io.IOException(
        s"BSON document length mismatch: declared $len, " +
          s"consumed ${buf.position() - start}")
    BDoc(fields.result())
  }

  // ---- BSON → JSON transcode -------------------------------------------
  /** Canonical JSON for a decoded BSON value — the flattening the
    * reference applies between its mongo driver and its SQL insert
    * (`MigrationLogFunc/index.js:16-48`): ObjectId → its 24-hex
    * string, UTC datetime → ISO-8601 instant string, null → null.
    * Non-finite doubles have no JSON form and no business on the
    * control plane — rejected as the wire contract's IOException. */
  def toJson(v: BVal): String = v match {
    case BDoc(fields) => fields.map { case (k, x) =>
      s"${jsonStr(k)}:${toJson(x)}" }.mkString("{", ",", "}")
    case BArr(items) => items.map(toJson).mkString("[", ",", "]")
    case BStr(s) => jsonStr(s)
    case BDbl(d) =>
      if (java.lang.Double.isFinite(d)) d.toString
      else throw new java.io.IOException(
        s"non-finite double $d has no JSON representation")
    case BInt(i) => i.toString
    case BLong(l) => l.toString
    case BBool(b) => b.toString
    case BNull => "null"
    case BDate(ms) => jsonStr(java.time.Instant.ofEpochMilli(ms).toString)
    case BObjectId(hex) => jsonStr(hex)
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def readCString(buf: ByteBuffer): String = {
    val start = buf.position()
    while (buf.get() != 0x00) {
      if (!buf.hasRemaining)
        throw new java.io.IOException("unterminated BSON cstring")
    }
    val b = new Array[Byte](buf.position() - start - 1)
    val end = buf.position()
    buf.position(start); buf.get(b); buf.position(end)
    new String(b, UTF_8)
  }

  // ---- framing ----------------------------------------------------------
  /** Serialize one OP_MSG to bytes (exposed so fault-injecting test
    * servers can truncate/corrupt the frame before sending). */
  def messageBytes(requestId: Int, responseTo: Int, body: BDoc): Array[Byte] = {
    val doc = encodeDoc(body)
    val len = 16 + 4 + 1 + doc.length
    val bb = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(len).putInt(requestId).putInt(responseTo).putInt(OpMsgCode)
    bb.putInt(0) // flagBits
    bb.put(0x00.toByte) // section kind 0: single body document
    bb.put(doc)
    bb.array()
  }

  def writeMsg(out: OutputStream, requestId: Int, responseTo: Int,
               body: BDoc): Unit = {
    out.write(messageBytes(requestId, responseTo, body))
    out.flush()
  }

  /** Read exactly `buf.length` bytes, looping over short reads (TCP
    * delivers what it has — a single `read` returning half a frame is
    * normal, not an error). EOF mid-buffer IS the error: the peer tore
    * the connection inside a frame. */
  private def readFully(in: InputStream, buf: Array[Byte],
                        what: String): Unit = {
    var off = 0
    while (off < buf.length) {
      val n = in.read(buf, off, buf.length - off)
      if (n < 0)
        throw new java.io.IOException(
          s"connection dropped mid-$what (got $off of ${buf.length} bytes)")
      off += n
    }
  }

  /**
   * Read one framed message. Returns None on a clean EOF at a frame
   * boundary (peer closed between messages); throws on a partial
   * length prefix, an implausible length word (corruption or a
   * big-endian writer — a small length written big-endian decodes to
   * hundreds of millions), a torn frame body, or a non-OP_MSG opcode.
   */
  def readMsg(in: InputStream,
              maxMessageBytes: Int): Option[(Int, Int, BDoc)] = {
    val lenBuf = new Array[Byte](4)
    val first = in.read()
    if (first < 0) return None // clean close at frame boundary
    lenBuf(0) = first.toByte
    var off = 1
    while (off < 4) {
      val n = in.read(lenBuf, off, 4 - off)
      if (n < 0)
        throw new java.io.IOException(
          s"partial length prefix: connection dropped after $off of 4 bytes")
      off += n
    }
    val len = ByteBuffer.wrap(lenBuf).order(ByteOrder.LITTLE_ENDIAN).getInt
    if (len < MinMessageLen || len > maxMessageBytes)
      throw new java.io.IOException(
        s"implausible frame length $len (valid: $MinMessageLen..." +
          s"$maxMessageBytes) — corrupt stream or wrong endianness")
    val rest = new Array[Byte](len - 4)
    readFully(in, rest, "frame")
    val bb = ByteBuffer.wrap(rest).order(ByteOrder.LITTLE_ENDIAN)
    val requestId = bb.getInt
    val responseTo = bb.getInt
    val opCode = bb.getInt
    if (opCode != OpMsgCode)
      throw new java.io.IOException(s"unexpected opCode $opCode")
    bb.getInt // flagBits (none defined in this subset)
    val kind = bb.get()
    if (kind != 0x00)
      throw new java.io.IOException(s"unsupported section kind $kind")
    Some((requestId, responseTo, decodeDoc(bb)))
  }
}

/**
 * [[DocumentStore]] over the [[BsonWire]] binary framing — the
 * engine's wire client for the reference's one MongoDB source, bound by
 * the runner's `bson:<host>:<port>[:<token>]` source URI. Same command
 * surface as a MongoDB driver's `find`/`getMore`/`insert`, with an
 * authenticated handshake, connect/read timeouts, cursor batching and
 * one failure contract: any wire fault surfaces as `IOException`, which a
 * pipeline run records as a failure WITHOUT advancing its watermark.
 * ConnectorSpec's fault-injecting OP_MSG server exercises each binary
 * failure shape — torn frame mid-document, partial length prefix,
 * corrupted length word, refused handshake, hard drop mid-cursor —
 * under MigrationLogSync and asserts the watermark stays at epoch.
 * Documents may carry ANY characters — newlines included — because
 * frames are delimited by length, not by a separator byte.
 *
 * Commands (one OP_MSG each; replies carry `ok: 1.0` or
 * `ok: 0.0, errmsg`):
 * {{{
 *   {hello: 1, token}                → {ok}
 *   {find: coll, batchSize}          → {ok, cursor: {id, firstBatch: [json…]}}
 *   {getMore: id, collection: coll}  → {ok, cursor: {id, nextBatch: [json…]}}
 *   {insert: coll, mode, documents}  → {ok, n}
 * }}}
 *
 * Collections materialize driver-side (control-plane collections —
 * the reference's migration log — bounded by contract; bulk corpora
 * belong to the lake connectors).
 */
final case class BsonSocketDocumentStore(host: String, port: Int,
                                         authToken: String = "",
                                         batchSize: Int = 64,
                                         connectTimeoutMs: Int = 2000,
                                         readTimeoutMs: Int = 10000,
                                         maxMessageBytes: Int = 16 * 1024 * 1024)
    extends DocumentStore {

  import BsonWire._

  // batchSize = 0: a conformant server would answer every find/getMore
  // with an empty batch and a live cursor — an infinite loop
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  require(connectTimeoutMs > 0 && readTimeoutMs > 0,
    "connect/read timeouts must be positive")
  require(maxMessageBytes >= MinMessageLen, "maxMessageBytes too small")

  private def connected[T](f: (InputStream, OutputStream) => T): T = {
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress(host, port),
        connectTimeoutMs)
      sock.setSoTimeout(readTimeoutMs)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val hello = command(in, out,
        BDoc("hello" -> BInt(1), "token" -> BStr(authToken)))
      if (!isOk(hello))
        throw new java.io.IOException(
          s"document store handshake refused: ${errmsg(hello)}")
      f(in, out)
    } finally sock.close()
  }

  private var reqId = 0
  private def command(in: InputStream, out: OutputStream, body: BDoc): BDoc = {
    reqId += 1
    writeMsg(out, reqId, 0, body)
    readMsg(in, maxMessageBytes) match {
      case Some((_, _, reply)) => reply
      case None => throw new java.io.IOException(
        s"connection to $host:$port closed awaiting reply")
    }
  }

  private def isOk(reply: BDoc): Boolean = reply.get("ok") match {
    case Some(BDbl(d)) => d == 1.0
    case Some(BInt(i)) => i == 1
    case _ => false
  }

  private def errmsg(reply: BDoc): String = reply.get("errmsg") match {
    case Some(BStr(m)) => m
    case _ => reply.toString
  }

  private def checkOk(reply: BDoc, what: String): BDoc = {
    if (!isOk(reply))
      throw new java.io.IOException(s"$what failed: ${errmsg(reply)}")
    reply
  }

  private def cursorOf(reply: BDoc, batchField: String): (Long, Vector[String]) =
    reply.get("cursor") match {
      case Some(c: BDoc) =>
        val id = c.get("id") match {
          case Some(BLong(l)) => l
          case other => throw new java.io.IOException(
            s"cursor id missing/mistyped: $other")
        }
        val docs = c.get(batchField) match {
          case Some(BArr(items)) => items.map {
            // servers speaking the JSON SPI ship strings; a server
            // speaking REAL typed BSON ships documents — transcoded
            // here (r19), so dates/ObjectIds/nulls land as the same
            // flattened values the reference's driver produced
            case BStr(s) => s
            case d: BDoc => toJson(d)
            case other => throw new java.io.IOException(
              s"unsupported document shape in $batchField: $other")
          }
          case other => throw new java.io.IOException(
            s"cursor $batchField missing: $other")
        }
        (id, docs)
      case other =>
        throw new java.io.IOException(s"reply carries no cursor: $other")
    }

  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    require(collection.nonEmpty, "collection name must be non-empty")
    val docs = connected { (in, out) =>
      val buf = Vector.newBuilder[String]
      val first = checkOk(command(in, out, BDoc(
        "find" -> BStr(collection), "batchSize" -> BInt(batchSize))),
        s"find('$collection')")
      var (cursorId, batch) = cursorOf(first, "firstBatch")
      buf ++= batch
      while (cursorId != 0L) {
        val more = checkOk(command(in, out, BDoc(
          "getMore" -> BLong(cursorId), "collection" -> BStr(collection))),
          s"getMore('$collection')")
        val (nextId, nextBatch) = cursorOf(more, "nextBatch")
        cursorId = nextId
        buf ++= nextBatch
      }
      buf.result()
    }
    spark.createDataset(docs)
  }

  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit = {
    require(collection.nonEmpty, "collection name must be non-empty")
    // the command surface defines Append/Overwrite; anything else would
    // be serialized on faith and applied as the server pleases
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"document-store insert supports Append/Overwrite only, got $mode")
    val rows = docs.collect() // control-plane collections: bounded
    connected { (in, out) =>
      checkOk(command(in, out, BDoc(
        "insert" -> BStr(collection),
        "mode" -> BStr(mode.toString),
        "documents" -> BArr(rows.toVector.map(BStr(_))))),
        s"insert('$collection')")
    }
  }
}
