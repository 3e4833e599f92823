package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import graft.core.{LifecycleHook, Stage}

/** Epoch milliseconds with sub-millisecond resolution: a nanoTime offset
  * anchored once to currentTimeMillis, so spans line up with Spark's event
  * times (which are currentTimeMillis). */
object Clock {
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis().toDouble
  def nowMs: Double = milli0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory trace of one run: spans recorded by the runner around its
  * calls into each layer, plus the Spark job, action, Catalyst-phase and
  * task events of each operation. Nothing is written until the run ends.
  *
  * Listener events arrive asynchronously; the runner drains the listener
  * bus after every operation, so an event is tagged with the operation that
  * was current when it was delivered. */
final class Tracer {
  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int)

  @volatile var op: Int = -1
  @volatile private var opSpan: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Any]] // jobId -> op, start, end, desc
  private val actions = mutable.LinkedHashMap.empty[Long, Array[Any]] // execId -> op, start, end, desc
  private val phases = mutable.ArrayBuffer.empty[JValue]
  private val tasks = mutable.Map.empty[Int, Array[Long]] // op -> taskMs, shR, shW, spill, rows, n

  def span(name: String, start: Double, end: Double, parent: Int = opSpan): Int = synchronized {
    spans += Span(spans.size, name, start, end, parent, op)
    spans.size - 1
  }

  /** Run `body` as operation `i`: one top-level span named `name`. */
  def operation[T](i: Int, name: String)(body: => T): (T, Double, Double) = {
    op = i
    val t0 = Clock.nowMs
    opSpan = synchronized { spans += Span(spans.size, name, t0, t0, -1, i); spans.size - 1 }
    stageMark = t0
    val r = body
    val t1 = Clock.nowMs
    synchronized { spans(opSpan) = spans(opSpan).copy(end = t1) }
    (r, t0, t1)
  }

  /** A span around `body`, a child of the current operation's span. */
  def child[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    val r = body
    span(name, t0, Clock.nowMs)
    r
  }

  @volatile private var stageMark = 0.0

  /** Pipeline stages: each `after` call closes the span of the stage that
    * just finished, which started when the previous one ended. */
  val stageHook: LifecycleHook = new LifecycleHook {
    def after(stage: Stage, index: Int, total: Int, result: Option[DataFrame]): Unit =
      if (active) {
        val now = Clock.nowMs
        span(s"core.stage.${stage.stageType}", stageMark, now)
        stageMark = now
      }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs(e.jobId) = Array(op, e.time.toDouble, e.time.toDouble, desc.getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_(2) = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasks.getOrElseUpdate(op, new Array[Long](6))
        a(0) += m.executorRunTime
        a(1) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(4) += m.inputMetrics.recordsRead
        a(5) += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
          actions(s.executionId) = Array(op, s.time.toDouble, s.time.toDouble, s.description)
        }
      case s: SparkListenerSQLExecutionEnd => synchronized {
          actions.get(s.executionId).foreach(_(2) = s.time.toDouble)
        }
      case _ => ()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val rec = JObject("op" -> JInt(op), "func" -> JString(funcName),
        "analysis" -> JDouble(ms("analysis")), "optimization" -> JDouble(ms("optimization")),
        "planning" -> JDouble(ms("planning")), "ms" -> JDouble(durationNs / 1e6))
      synchronized { phases += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile var active = false

  def attach(spark: SparkSession): Unit = {
    active = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    active = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)

  def toJson: JValue = synchronized {
    // jobs and actions become spans too: children of their operation's span
    val opSpans = spans.filter(_.parent == -1).map(s => s.op -> s.id).toMap
    val extra = mutable.ArrayBuffer.empty[Span]
    def add(name: String, op: Int, s: Double, e: Double): Unit =
      opSpans.get(op).foreach(p => extra += Span(spans.size + extra.size, name, s, e, p, op))
    jobs.values.foreach(j => add("spark.job", j(0).asInstanceOf[Int],
      j(1).asInstanceOf[Double], j(2).asInstanceOf[Double]))
    actions.values.foreach(a => add("spark.action", a(0).asInstanceOf[Int],
      a(1).asInstanceOf[Double], a(2).asInstanceOf[Double]))
    JObject(
      "spans" -> JArray((spans ++ extra).toList.map(s => JObject(
        "id" -> JInt(s.id), "name" -> JString(s.name), "start" -> JDouble(s.start),
        "end" -> JDouble(s.end), "parent" -> JInt(s.parent), "op" -> JInt(s.op)))),
      "jobs" -> JArray(jobs.values.toList.map(j => JObject(
        "op" -> JInt(j(0).asInstanceOf[Int]), "start" -> JDouble(j(1).asInstanceOf[Double]),
        "end" -> JDouble(j(2).asInstanceOf[Double]), "desc" -> JString(j(3).toString)))),
      "actions" -> JArray(actions.values.toList.map(a => JObject(
        "op" -> JInt(a(0).asInstanceOf[Int]), "start" -> JDouble(a(1).asInstanceOf[Double]),
        "end" -> JDouble(a(2).asInstanceOf[Double]), "desc" -> JString(a(3).toString)))),
      "phases" -> JArray(phases.toList),
      "tasks" -> JArray(tasks.toList.sortBy(_._1).map { case (o, a) => JObject(
        "op" -> JInt(o), "task_ms" -> JLong(a(0)), "shuffle_read_bytes" -> JLong(a(1)),
        "shuffle_write_bytes" -> JLong(a(2)), "spill_bytes" -> JLong(a(3)),
        "input_rows" -> JLong(a(4)), "tasks" -> JLong(a(5)))
      }))
  }
}
