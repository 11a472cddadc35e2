package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the millisecond timestamps Spark's listener events
  * carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class OpRec(id: Long, kind: String, start: Double, end: Double,
                       ok: Boolean, rows: Long)
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, op: Long)
final case class JobRec(id: Int, start: Double, var end: Double, span: Long,
                        stageIds: Seq[Int])
final case class StageRec(id: Int, tasks: Int, taskS: Double, shuffleBytes: Long,
                          spillBytes: Long, inputBytes: Long, inputRecords: Long)
final case class PlanRec(start: Double, planMs: Double)

/** Records ops (always) and, when `enabled`, the spans around each call
  * into a layer plus Spark's jobs, stages and planning phases. Everything
  * stays in memory until the run writes it out. The load generator is a
  * single thread; listener callbacks arrive on Spark's bus thread. */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val ids = new AtomicLong()
  private var stack: List[Long] = Nil
  private var curOp = 0L

  if (enabled) Trace.setup(spark, this)

  /** Runs one op; `body` returns whether its check passed and the rows
    * it wrote or read. A thrown exception or a failed check marks the op
    * failed; the load goes on. */
  def op(kind: String)(body: => (Boolean, Long)): Unit = {
    val id = ids.incrementAndGet()
    curOp = id
    val t0 = Clock.nowMs
    val (ok, rows) =
      try span(id, "op")(body)
      catch { case e: Exception =>
        System.err.println(s"[graftbench] $kind failed: $e")
        (false, 0L)
      }
    ops.synchronized(ops += OpRec(id, kind, t0, Clock.nowMs, ok, rows))
  }

  /** A span named `name` around `body`, child of the innermost open one. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body else span(ids.incrementAndGet(), name)(body)

  private def span[T](id: Long, name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.toString).orNull)
      spans.synchronized(spans += Span(id, name, t0, t1, parent, curOp))
    }
  }

  /** Waits until Spark has delivered every listener event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftbenchBridge.drainListeners(spark.sparkContext)

  private[graftbench] object listener extends SparkListener {
    private val byId = scala.collection.mutable.HashMap.empty[Int, JobRec]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val j = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, span, e.stageIds)
      byId(e.jobId) = j
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      byId.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val rec =
        if (m == null) StageRec(si.stageId, si.numTasks, 0, 0, 0, 0, 0)
        else StageRec(si.stageId, si.numTasks, m.executorRunTime / 1000.0,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      stages.synchronized(stages += rec)
    }
  }

  private[graftbench] object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.synchronized(plans +=
        PlanRec(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble))
    }
  }
}

object Trace {
  val SpanProp = "graftbench.span"
  private var installedOn: Option[SparkContext] = None

  /** Installs the listeners once per session: a second tracer on the same
    * context would double-count every job. */
  private def setup(spark: SparkSession, t: Trace): Unit = synchronized {
    if (!installedOn.contains(spark.sparkContext)) {
      spark.sparkContext.addSparkListener(t.listener)
      spark.listenerManager.register(t.planListener)
      installedOn = Some(spark.sparkContext)
    }
  }
}
