package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Config-driven source connectors — the engine's replacement for the
 * reference's seven hard-wired Sequelize singletons
 * (`/root/reference/Connection/<db>/`; credentials came from env vars, and
 * in one case were hardcoded — `MigrationLogFunc/index.js:2`, not
 * reproduced). A run binds its source by URI
 * ([[graft.runner.Main.connectorFor]]) or per pipeline (`Serve.start`'s
 * `conns`); pipelines stay storage-agnostic and tests bind the same
 * table names to in-memory DataFrames.
 */
sealed trait Connector {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, mode: SaveMode): Unit
}

/** Directory-of-parquet connector (the lake layout; one file/dir per
  * table). A table's schema is that of its first data file, as Spark
  * infers it, but read from that file's footer on the driver
  * ([[graft.core.Parquet.read]]), so opening a source runs no Spark job. */
final case class ParquetConnector(dir: String) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame =
    graft.core.Parquet.read(spark, s"$dir/$table.parquet")
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(s"$dir/$table.parquet")
}

/**
 * JDBC connector — the reference's world (five Azure SQL sources + the
 * DWH). A table reads as one `dbtable` load; Catalyst pushes filters and
 * projections into the remote SQL. Credentials come from the properties
 * map (caller sources them from env/secret store — never hardcoded).
 */
final case class JdbcConnector(url: String,
                               props: Map[String, String] = Map.empty)
    extends Connector {

  def read(spark: SparkSession, table: String): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
      .option("dbtable", table).load()
  }

  def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val w = df.write.format("jdbc").option("url", url)
      .option("dbtable", table)
    // Derby's default StringType mapping is CLOB, which cannot take a
    // pushed-down comparison (filter pushdown on a string key would
    // then fail remotely) — land strings as VARCHAR instead. Derby's
    // VARCHAR ceiling is 32672; anything shorter would make the INSERT
    // reject long document/text payloads a CLOB used to accept.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
    val w2 =
      if (url.startsWith("jdbc:derby") && stringCols.nonEmpty)
        w.option("createTableColumnTypes",
          stringCols.map(f => s"${f.name} VARCHAR(32672)").mkString(", "))
      else w
    props.foldLeft(w2) { case (acc, (k, v)) => acc.option(k, v) }
      .mode(mode).save()
  }
}

/** CSV connector — the other raw-corpus interchange format next to
  * JSON-lines. Header-driven schema with type inference by default;
  * pass an explicit DDL `schema` in production so a malformed file
  * fails loudly instead of silently inferring strings. */
final case class CsvConnector(dir: String,
                              schema: Option[String] = None) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s))
      .csv(s"$dir/$table.csv")
  }
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).option("header", "true").csv(s"$dir/$table.csv")
}

/** ORC connector — the other columnar lake format (Hive-heritage
  * lakes). Same predicate-pushdown/column-pruning/vectorized-read
  * properties as parquet under Spark's native ORC reader, so pipelines
  * can point at either format by rebinding the source name. */
final case class OrcConnector(dir: String) extends Connector {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.orc(s"$dir/$table.orc")
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).orc(s"$dir/$table.orc")
}

/**
 * Raw-media connector — Spark's built-in `binaryFile` source over a
 * directory tree of image/audio/video files: one row per file with
 * (path, modificationTime, length, content), the ingestion front door
 * of the [[graft.operators.Multimodal]] family (decode/resize/
 * feature-extract run on the `content` bytes). Read-only by design —
 * binaryFile has no writer; media blobs leave the engine through the
 * parquet/ORC lake as binary columns, not as loose files — so write()
 * refuses loudly instead of corrupting expectations. `pathGlob`
 * filters at the LISTING level (e.g. `*.png`), before any bytes are
 * read; `maxBytes` guards executors against a single runaway blob.
 */
final case class BinaryFileConnector(dir: String,
                                     pathGlob: Option[String] = None,
                                     maxBytes: Option[Long] = None)
    extends Connector {
  def read(spark: SparkSession, table: String): DataFrame = {
    val r = spark.read.format("binaryFile")
    val g = pathGlob.fold(r)(p => r.option("pathGlobFilter", p))
    val df = g.load(s"$dir/$table")
    maxBytes.fold(df)(m =>
      df.filter(org.apache.spark.sql.functions.col("length") <= m))
  }
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    throw new UnsupportedOperationException(
      "binaryFile is a read-only source; write media as binary columns " +
        "through the parquet/ORC lake connectors")
}

/**
 * Document-store SPI — the seam a wire-protocol client (the real
 * MongoDB driver behind the reference's one Mongo source,
 * `MigrationLogFunc/index.js:16-48`) drops into without touching any
 * pipeline: a store yields each collection as RAW JSON documents and
 * accepts them back, nothing more. Everything Spark-side — schema-on-
 * read inference, timestamp detection, nested/sparse fields — lives in
 * [[DocumentStoreConnector]] and is therefore identical across
 * backends, so "swap the stand-in for Mongo" changes ONE binding and
 * zero semantics (ConnectorSpec proves it by running the migration-log
 * pipeline over a second, in-memory store).
 */
trait DocumentStore {
  /** One collection as raw JSON texts, one document per element (what
    * a driver's cursor yields). */
  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String]

  /** Persist documents into a collection (stand-ins and tests; a
    * read-only production binding may throw). */
  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit
}

/** [[Connector]] over any [[DocumentStore]]: the shared Spark-side
  * half of every document source — schema-on-read with timestamp
  * inference over the store's raw JSON (S5, the document-database
  * shape: nested objects, sparse fields, no declared schema). */
final case class DocumentStoreConnector(store: DocumentStore)
    extends Connector {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.option("inferTimestamp", "true")
      .json(store.documents(spark, table))
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    store.insert(df.sparkSession, df.toJSON, table, mode)
}

/** JSON-lines file store, one `<collection>.jsonl` per collection —
  * the driverless stand-in for the reference's MongoDB (this
  * environment has no Mongo server). */
final case class JsonLinesStore(dir: String) extends DocumentStore {
  def documents(spark: SparkSession, collection: String)
      : org.apache.spark.sql.Dataset[String] =
    spark.read.textFile(s"$dir/$collection.jsonl")
  def insert(spark: SparkSession,
             docs: org.apache.spark.sql.Dataset[String],
             collection: String, mode: SaveMode): Unit =
    docs.write.mode(mode).text(s"$dir/$collection.jsonl")
}

/** The historical entry point: a JSON-lines document source routed
  * through the [[DocumentStore]] seam. */
object JsonLinesConnector {
  def apply(dir: String): DocumentStoreConnector =
    DocumentStoreConnector(JsonLinesStore(dir))
}
