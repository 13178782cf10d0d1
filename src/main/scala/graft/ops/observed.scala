package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.Observation

/**
 * The metrics of an `Observation` whose action has already run, waited
 * for under a fixed bound. Spark delivers observed metrics through a
 * query-execution listener after the action returns, and
 * `Observation.get` waits for them without limit — an action whose
 * plan never ran the observed node (a cached or pruned subtree) would
 * hang the caller. Here the wait fails instead, naming the operator.
 */
object observed {

  /** Far above the listener's delivery delay, even on a loaded host. */
  private val Bound = 60.seconds

  private[graft] def apply(obs: Observation, op: String,
                           bound: FiniteDuration = Bound): Map[String, Any] = {
    val row = try Await.result(obs.future, bound) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$op: observed metrics were not delivered within $bound")
    }
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }
}
