package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache `Sessions.local` sizes: a working set
  * larger than Spark's default of 100 classes compiles once. */
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
}
