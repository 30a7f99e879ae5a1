package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Guards the full-materialisation rule: the action the benchmark times
  * must run the query's whole plan. An action such as `count()` lets
  * Catalyst drop a final Sort, and whole Window, Aggregate or Join nodes
  * whose output nobody reads, so it times less work than the query
  * asks for. The check compares the optimized plan of the action that
  * actually ran with the query's own optimized plan. */
object PlanCheck {
  private val kinds = Seq("Sort", "Window", "Aggregate", "Join")

  /** Count of each guarded operator kind in `plan`, subqueries included. */
  def shape(plan: LogicalPlan): Map[String, Int] =
    plan.collectWithSubqueries {
      case _: Sort      => "Sort"
      case _: Window    => "Window"
      case _: Aggregate => "Aggregate"
      case _: Join      => "Join"
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Operator kinds (with the count lost) present in `query` but missing
    * from `timed`; empty when the timed action kept all of them. */
  def missing(query: LogicalPlan, timed: LogicalPlan): Map[String, Int] = {
    val (q, t) = (shape(query), shape(timed))
    kinds.flatMap { k =>
      val lost = q.getOrElse(k, 0) - t.getOrElse(k, 0)
      if (lost > 0) Some(k -> lost) else None
    }.toMap
  }

  /** The benchmark's timed action: every row and every column of the
    * result, collected into this JVM. */
  def materialise(df: DataFrame): Array[org.apache.spark.sql.Row] = df.collect()
}

/** Records the QueryExecution of every successful action, so the plan
  * check can look at what the timed action really executed. */
final class ActionCapture extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[QueryExecution]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The first action recorded whose execution was created no earlier
    * than `df`'s own (the eager jobs a query's `fn` ran come before
    * it); clears the record. Call after the listener bus drained. */
  def timedActionOf(df: DataFrame): Option[QueryExecution] = {
    val first = df.queryExecution.id
    var found: Option[QueryExecution] = None
    var qe = seen.poll()
    while (qe != null) {
      if (found.isEmpty && qe.id >= first) found = Some(qe)
      qe = seen.poll()
    }
    found
  }
}
