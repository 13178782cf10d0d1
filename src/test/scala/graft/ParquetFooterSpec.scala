package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.core.{Parquet, Tables}
import graft.queries.PipelineQueries
import graft.sink.UpsertWriter
import graft.sources.ParquetConnector

/** `Parquet.read` against Spark's own schema inference: same schema,
  * same rows, no Spark job; and where it falls back, exactly Spark's
  * behaviour. */
class ParquetFooterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Footer reads ≡ `spark.read.parquet` on each path, and together
    * they run no job. */
  private def assertParity(paths: String*): Seq[DataFrame] = {
    val (dfs, jobs) = JobWatch(spark)(paths.map(Parquet.read(spark, _)))
    assert(jobs.isEmpty, s"footer reads ran jobs $jobs")
    paths.zip(dfs).foreach { case (path, df) =>
      val inferred = spark.read.parquet(path)
      assert(df.schema === inferred.schema, path)
      assert(rows(df) === rows(inferred), path)
    }
    dfs
  }

  /** Both reads fail alike: same exception class and message. */
  private def assertSameFailure(path: String): Unit = {
    val mine = intercept[Exception](Parquet.read(spark, path))
    val spark0 = intercept[Exception](spark.read.parquet(path))
    assert(mine.getClass === spark0.getClass)
    assert(mine.getMessage === spark0.getMessage)
  }

  test("every corpus table: Spark's inferred schema and rows, no Spark job") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assertParity(Tables.names.map(n => s"$sf/$n.parquet"): _*)
    // the conversion follows the session: events' local (not UTC-adjusted) ts
    // infers as NTZ by default and as a session-TZ timestamp without NTZ
    val events = s"$sf/events.parquet"
    assert(Parquet.read(spark, events).schema("ts").dataType === TimestampNTZType)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try assert(assertParity(events).head.schema("ts").dataType === TimestampType)
    finally spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
  }

  test("a pipeline source lake and an upserted fact target") {
    val dir = Files.createTempDirectory("graft-footer").toString
    val lake = ParquetConnector(s"$dir/lake")
    val srcs = PipelineQueries.dealTrackingStageSources(spark, sf)
    srcs.foreach { case (t, df) => lake.write(df, t, SaveMode.Overwrite) }
    val tables = srcs.keys.toSeq
    assertParity(tables.map(t => s"$dir/lake/$t.parquet"): _*).zip(tables)
      .foreach { case (df, t) => assert(lake.read(spark, t).schema === df.schema, t) }
    // a fact after a first write and after a merge into it
    val (t, batch) = srcs.head
    val key = batch.columns.head
    val fact = s"$dir/dwh/fact"
    UpsertWriter.upsert(spark, batch, fact, Seq(key))
    assertParity(fact)
    UpsertWriter.upsert(spark, Parquet.read(spark, s"$dir/lake/$t.parquet")
      .limit(5), fact, Seq(key))
    assertParity(fact)
  }

  test("part files with different schemas: the first by path wins, as in Spark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-parts")
    def part(df: DataFrame, name: String): Unit = {
      val tmp = dir.resolve(s"_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val file = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(file, dir.resolve(name))
    }
    part(Seq((1L, "x")).toDF("a", "b"), "part-00000.parquet")
    part(Seq((2L, 2.5)).toDF("a", "c"), "part-00001.parquet")
    assert(assertParity(dir.toString).head.columns.toSeq === Seq("a", "b"))
    Files.move(dir.resolve("part-00000.parquet"), dir.resolve("part-00002.parquet"))
    assert(assertParity(dir.toString).head.columns.toSeq === Seq("a", "c"))
  }

  test("fallbacks read as spark.read.parquet does: missing, partitioned, empty") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-fallback").toString
    assertSameFailure(s"$dir/missing")
    Files.createDirectories(Paths.get(s"$dir/empty"))
    assertSameFailure(s"$dir/empty")
    Seq((1L, "p1"), (2L, "p2")).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$dir/parted")
    val (mine, myJobs) = JobWatch(spark)(Parquet.read(spark, s"$dir/parted"))
    val (theirs, theirJobs) = JobWatch(spark)(spark.read.parquet(s"$dir/parted"))
    assert(mine.schema === theirs.schema)
    assert(rows(mine) === rows(theirs))
    assert(myJobs.size === theirJobs.size && myJobs.nonEmpty)
  }
}
