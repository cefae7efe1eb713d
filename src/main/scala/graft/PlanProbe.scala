package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import scala.util.control.NonFatal

/** Test-support plan capture for the SIDE-EFFECTFUL tier (streaming gates,
  * index maintenance, source/sink round-trips): those queries execute work
  * at construction, so the standing scale-killer sweep (PlanAuditSpec)
  * can't plan them side-effect-free — instead the gates hand their ACTUAL
  * executed plans to this probe as they run, and the sweep applies the
  * same asserts post-hoc. Disabled (the default) this is a single volatile
  * null-check per execution — zero cost on the production path.
  *
  * Capture surfaces:
  *  - [[attach]]: a QueryExecutionListener on a (child) session — fires
  *    for every named batch action (foreachBatch bodies, sink writes,
  *    index builds) with its executedPlan.
  *  - [[recordStreaming]]: a finished streaming query's last micro-batch
  *    `IncrementalExecution` — QueryExecutionListener does NOT fire for
  *    micro-batch sink executions (no executionName), and the wrapper
  *    types are `private[sql]`, so this goes through reflection;
  *    reflection failures degrade to no capture, never to a query error.
  */
object PlanProbe {
  @volatile private var sink: Option[(String, SparkPlan) => Unit] = None

  def enabled: Boolean = sink.isDefined
  def start(f: (String, SparkPlan) => Unit): Unit = sink = Some(f)
  def stop(): Unit = sink = None
  def record(label: String, plan: SparkPlan): Unit = sink.foreach(_(label, plan))

  /** Register a capture listener on `ss` when probing is active. The
    * listener stays for the session's lifetime, but records only while
    * the probe is started (the sink check is per-event). */
  def attach(ss: SparkSession, label: String): Unit = if (enabled) {
    ss.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        record(s"$label/$funcName", qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
  }

  /** Capture a finished streaming query's last micro-batch plan under the
    * standard `stream/<name-or-id>` label — the one-argument form every
    * gate's await site calls. */
  def recordStreaming(q: StreamingQuery): Unit =
    recordStreaming("stream/" + Option(q.name).getOrElse(q.id.toString), q)

  /** Capture the last micro-batch executed plan of a (finished) streaming
    * query: unwrap StreamingQueryWrapper → StreamExecution.lastExecution
    * reflectively (both are `private[sql]`). */
  def recordStreaming(label: String, q: StreamingQuery): Unit = if (enabled) {
    try {
      val m = q.getClass.getMethod("streamingQuery")
      m.setAccessible(true)
      val se = m.invoke(q)
      val le = se.getClass.getMethod("lastExecution")
      le.setAccessible(true)
      le.invoke(se) match {
        case qe: QueryExecution if qe != null => record(label, qe.executedPlan)
        case _ => ()
      }
    } catch { case NonFatal(_) => () }
  }
}
