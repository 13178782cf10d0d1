package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** The generated-code cache `Sessions.local` sizes and shares: a working
  * set larger than Spark's default of 100 classes compiles once, and a
  * job's tasks reuse the classes its driver compiled. */
class CodegenCacheSpec extends SparkSpec {

  test("a working set above 100 generated classes compiles once, not every pass") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    // each plan inlines its own literal, so each generates distinct code;
    // planning to an RDD compiles it without running a job
    val plans = 150
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to plans).foreach { i =>
        spark.range(4).selectExpr(s"id * $i + ${i * 7} AS v")
          .filter(s"v <> ${-i}").queryExecution.toRdd
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    // more classes than Spark's default cache holds: an LRU of 100
    // cycled through this set would miss on every access and compile
    // about `first` classes again on the second pass
    assert(first > 100, s"first pass compiled only $first classes")
    assert(pass() === 0)
  }

  test("a fresh plan run as a job compiles each generated class once") {
    // a literal no earlier plan used, so none of its classes is cached
    val salt = System.nanoTime() % 1000000007L
    val df = spark.range(0, 1000, 1, 2).selectExpr(s"id * $salt AS v")
      .filter(s"v <> ${-salt}")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    df.write.format("noop").mode("overwrite").save()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // no exchange, so the plan is not adaptive and is one codegen stage
    val sources = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }
    assert(sources.nonEmpty)
    // the driver compiles each class once; a task whose context loader
    // differed from the driver's would compile it again under its own
    // cache key, about twice as many compiles in all
    assert(compiled === sources.distinct.size)
  }
}
