package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Audit seam: capture the query executions of every Dataset ACTION fired
  * while a thunk runs — the `localCheckpoint` materializations, GlobalRank
  * boundary/offset collects, and codebook trains that run EAGERLY during
  * query *construction* and are therefore invisible to a plan audit that
  * only inspects the returned frame's final plan (round-10 verdict: 104 of
  * 276 PLANS.md rows showed 0 parquet scans because the scan/pushdown
  * behavior lives in exactly these hidden build actions).
  *
  * Mechanics: a [[QueryExecutionListener]] registered for the duration of
  * the thunk. Spark dispatches execution listeners asynchronously on the
  * shared listener bus, so the capture flushes the bus before returning —
  * via `LiveListenerBus.waitUntilEmpty()` (a `private[spark]` member, hence
  * public in bytecode and reachable by reflection from this dev/audit-only
  * path; a bounded sleep is the fallback if the member moves).
  *
  * Dev/audit tooling (graft.Plans, PlanGuardSpec) — never on a query's
  * execution path.
  */
object PlanCapture {

  /** One captured build action: the Dataset action name (`checkpoint`,
    * `head`, `collect`, ...) and its QueryExecution (optimized + executed
    * plans both reachable).
    */
  final case class BuildAction(funcName: String, qe: QueryExecution)

  /** Run `thunk`, returning its result plus every Dataset action captured
    * while it ran. Not reentrant across overlapping captures on the same
    * session (the audit mains run keys sequentially).
    */
  def capture[T](spark: SparkSession)(thunk: => T): (T, Seq[BuildAction]) = {
    val buf = new ConcurrentLinkedQueue[BuildAction]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        buf.add(BuildAction(funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = thunk
      flushListenerBus(spark)
      (r, buf.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Blocks until every event posted so far has reached every listener. */
  private[graft] def flushListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      m match {
        case Some(wait0) => wait0.invoke(bus)
        case None =>
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(10000L))
      }
    } catch {
      case _: ReflectiveOperationException => Thread.sleep(2000)
    }
}
