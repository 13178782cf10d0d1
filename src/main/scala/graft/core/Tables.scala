package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Canonical table loader for the engine's test corpus
 * (`/root/testdata/sf*`, see TESTDATA.md).
 *
 * In the reference every pipeline opens its own Sequelize connection per
 * source DB (`Connection/Core/core-connection.js:3-11`); here a source is
 * just a DataFrame, so pipelines stay pure functions over DataFrames and
 * the physical source (parquet / JDBC / Delta) is an injection concern.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One corpus table; its schema comes from a footer read on the
    * driver ([[Parquet.read]]), so loading it runs no Spark job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** `events` with its `ts` column normalized to a microsecond
    * `TimestampType`, whatever encoding the fixture generation used —
    * the driver has shipped this table both as TIMESTAMP(NANOS) (read
    * as BIGINT nanos under `spark.sql.legacy.parquet.nanosAsLong=true`,
    * set in [[Sessions]]) and as plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Every consumer sees the same session-TZ
    * `TimestampType` either way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      // nanos-as-long: `div` = integral division — nanos exceed Double's
      // 2^53 mantissa, so float division here would corrupt timestamps
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // NTZ wall times are UTC by construction; the session TZ is pinned
      // UTC everywhere, so this cast is instant-preserving
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
