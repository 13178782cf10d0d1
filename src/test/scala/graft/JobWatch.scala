package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a body submits, as a `SparkListener` sees them. */
object JobWatch {
  private val GroupKey = "spark.jobGroup.id"
  private val DescriptionKey = "spark.job.description"
  val Tag = "job-watch"

  /** Runs `body` on this thread under a fresh job group described
    * [[Tag]], and returns its result with the description of every job
    * submitted under that group (jobs of helper threads that inherit it
    * included). A sentinel job under the same group closes the watch:
    * the listener bus delivers events in order, so once the sentinel's
    * start is seen, every earlier job's start has been seen too. */
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-watch-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val seen = new ConcurrentLinkedQueue[String]()
    val end = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(GroupKey) == group) {
          val d = String.valueOf(e.properties.getProperty(DescriptionKey))
          if (d == sentinel) end.countDown() else seen.add(d)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, Tag)
      val r = body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(end.await(30, TimeUnit.SECONDS), "sentinel job never reported")
      (r, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
