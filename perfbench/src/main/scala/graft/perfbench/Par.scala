package graft.perfbench

import java.util.concurrent.Executors

object Par {
  /** Map on four threads, results in input order. The benchmark's own
    * bookkeeping (input generation, lake builds, deltas, checks) is
    * driver-bound small Spark jobs, so it overlaps well. */
  def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}
