package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.sink.UpsertWriter

/** S12 atomicity: two facts, one commit point — a failure while staging
  * either table leaves BOTH live tables untouched
  * (`/root/reference/DailyOperation/run.js:249-295`: two staging tables
  * in one DWH transaction). */
class DualSinkSpec extends SparkSpec {

  private def poison = {
    // a plan that fails during the WRITE JOB, not at plan build; the
    // tasks that do not fail spin (an interrupt cannot stop them) until
    // well after the job has failed, then open their output files
    val boom = udf { (x: Long) =>
      if (x > 2) throw new RuntimeException("staging failure injection")
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 500000000L) {}
      x
    }
    spark.range(10).select(col("id").as("k"), boom(col("id")).as("v"))
  }

  test("upsertAll promotes both tables on success") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dual").toString
    val a1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((1L, 10.0)).toDF("k", "x")
    val counts = UpsertWriter.upsertAll(spark, Seq(
      (a1, s"$dir/factA", Seq("k")), (b1, s"$dir/factB", Seq("k"))))
    assert(counts === Seq(2L, 1L))

    // second run: keyed replace on A, new key on B — both promote
    val a2 = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    val b2 = Seq((2L, 20.0)).toDF("k", "x")
    val counts2 = UpsertWriter.upsertAll(spark, Seq(
      (a2, s"$dir/factA", Seq("k")), (b2, s"$dir/factB", Seq("k"))))
    assert(counts2 === Seq(3L, 2L))
    val a = spark.read.parquet(s"$dir/factA").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("backfill-sized batch merges without a forced broadcast") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-backfill").toString
    // tiny existing fact, then a batch 1000× its size (the first-run /
    // backfill shape: watermark = epoch, batch = full history)
    UpsertWriter.upsert(spark,
      Seq((1L, -1.0), (2L, -2.0)).toDF("k", "x"), s"$dir/fact", Seq("k"))
    val backfill = spark.range(10000)
      .select(col("id").as("k"), col("id").cast("double").as("x"))
    // the merge plan must not force the batch key set onto the driver
    val plan = UpsertWriter.mergedPlan(
      spark.read.parquet(s"$dir/fact"), backfill, Seq("k"))
    assert(!plan.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "merge plan carries a forced broadcast hint")
    val n = UpsertWriter.upsert(spark, backfill, s"$dir/fact", Seq("k"))
    assert(n === 10000L) // keys 0..9999; old 1,2 replaced, nothing else kept
    val kept = spark.read.parquet(s"$dir/fact")
      .filter(col("x") < 0).count()
    assert(kept === 0L)
  }

  test("crash between promote renames: history restored, nothing lost") {
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // the promote died after target→backup, before staging→target —
    // the live table is GONE and its history sits at __old
    val dir = Files.createTempDirectory("graft-crash").toString + "/fact"
    UpsertWriter.upsert(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      dir, Seq("k"))
    fs.rename(new Path(dir), new Path(dir + "__old"))
    assert(!fs.exists(new Path(dir)))
    val n = UpsertWriter.upsert(spark,
      Seq((2L, "B!"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    assert(n === 3, "history must be restored before the merge")
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "B!"), (3L, "c")))
  }

  test("failure staging the SECOND table leaves the first untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dual2").toString
    // seed both facts
    UpsertWriter.upsertAll(spark, Seq(
      (Seq((1L, "orig")).toDF("k", "v"), s"$dir/factA", Seq("k")),
      (Seq((1L, 1.0)).toDF("k", "x"), s"$dir/factB", Seq("k"))))

    val goodUpdate = Seq((1L, "SHOULD-NOT-LAND")).toDF("k", "v")
    intercept[Exception] {
      UpsertWriter.upsertAll(spark, Seq(
        (goodUpdate, s"$dir/factA", Seq("k")),
        (poison.select(col("k"), col("v").cast("double").as("x")),
          s"$dir/factB", Seq("k"))))
    }
    // NEITHER table changed: A still has the original value…
    val a = spark.read.parquet(s"$dir/factA").collect()
    assert(a.length === 1 && a.head.getString(1) === "orig")
    // …B still has its original row, and no staging debris remains
    val b = spark.read.parquet(s"$dir/factB").collect()
    assert(b.length === 1 && b.head.getDouble(1) === 1.0)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/factA__staging")))
    assert(!fs.exists(new Path(s"$dir/factB__staging")))
  }
}
