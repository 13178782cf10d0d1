package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted over some set of jobs. Every field except the
  * times is contention-insensitive: it repeats exactly for the same
  * plan over the same data. */
final case class Counters(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
                          taskCpuS: Double = 0, taskRunS: Double = 0,
                          readMb: Double = 0, writtenMb: Double = 0,
                          shuffleMb: Double = 0, spillMb: Double = 0,
                          jobBusyS: Double = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuS + o.taskCpuS, taskRunS + o.taskRunS,
    readMb + o.readMb, writtenMb + o.writtenMb, shuffleMb + o.shuffleMb,
    spillMb + o.spillMb, jobBusyS + o.jobBusyS)
}

/**
 * Listener-side record of every Spark job: submit/end wall time and its
 * completed stages' task metrics. Attribution to spans happens after the
 * run, once the listener bus has drained.
 */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.numTasks,
      m.executorCpuTime, m.executorRunTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    events.incrementAndGet()
  }

  /** Wait until no listener event has arrived for a while and every
    * started job has ended — the bus is asynchronous. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 20000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = events.get()
      val open = jobs.values.asScala.exists(_.endMs < 0)
      if (now == last && !open) quiet += 1 else quiet = 0
      last = now
    }
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  def counters(js: Seq[Job]): Counters = {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
    Counters(js.size, ss.size, ss.map(_.tasks.toLong).sum,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.runMs).sum / 1e3,
      ss.map(_.readB).sum / 1e6, ss.map(_.writtenB).sum / 1e6,
      ss.map(_.shuffleB).sum / 1e6, ss.map(_.spillB).sum / 1e6,
      Trace.unionS(js.map(j => (j.startMs, math.max(j.startMs, j.endMs)))))
  }

  /** Counters per span id, each job counted once: in the latest-starting
    * of `spans` that had begun and not yet ended when the job was
    * submitted (adjacent spans share their boundary millisecond). */
  def bySpan(spans: Seq[Span]): Map[Long, Counters] = {
    val assigned = all.flatMap { j =>
      val open = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (open.isEmpty) None else Some(open.maxBy(s => (s.startMs, s.id)).id -> j)
    }.groupBy(_._1)
    spans.map(s => s.id -> counters(assigned.getOrElse(s.id, Nil).map(_._2))).toMap
  }

  /** Jobs submitted inside [fromMs, toMs] (both inclusive). */
  def within(fromMs: Long, toMs: Long): Seq[Job] =
    all.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
}

object JobLog {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
                       stageIds: Seq[Int])
  final case class Stage(tasks: Int, cpuNs: Long, runMs: Long,
                         readB: Long, writtenB: Long, shuffleB: Long,
                         spillB: Long)
}

/** One timed region. `parent` is the enclosing span's id (0 = none);
  * spans of one pipeline run or one query share `runId`. */
final case class Span(id: Long, name: String, runId: String, parent: Long,
                      startMs: Long, endMs: Long, seconds: Double)

/** In-memory span recorder; written out once, at the end of a run. */
final class Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String, runId: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      stack.set(stack.get.tail)
      spans.add(Span(id, name, runId, parent, w0,
        System.currentTimeMillis(), secs))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {
  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) total += curE - curS
    total / 1e3
  }

  def attach(sc: SparkContext): JobLog = {
    val l = new JobLog
    sc.addSparkListener(l)
    l
  }
}
