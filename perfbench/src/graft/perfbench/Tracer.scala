package graft.perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Span and counter recorder for the traced run.
  *
  * [[span]] sets the `perfbench.span` local property around a call; every
  * Spark job that call launches carries it, so the listener attributes the
  * job, its stages and their tasks' metrics to the span. Spans nest: a
  * span's self time is its duration minus the time its child spans cover.
  * File writes are recorded as (output path, rows) in completion order
  * through a [[QueryExecutionListener]].
  *
  * Everything is kept in memory; listener events arrive asynchronously, so
  * readers call [[drain]] first, which runs one marker job and waits until
  * the listener has seen it end (the listener bus delivers in order). */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val counters = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val spanLog = mutable.ArrayBuffer.empty[Span]
  private val writeLog = mutable.ArrayBuffer.empty[Write]
  private var open = List.empty[Array[Long]] // child-covered nanos per open span
  @volatile private var marker: CountDownLatch = _
  private var markerJob = -1

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    val child = Array(0L)
    open = child :: open
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val d = System.nanoTime() - t0
      sc.setLocalProperty(SpanKey, prev)
      open = open.tail
      open.headOption.foreach(_(0) += d)
      synchronized { spanLog += Span(name, d / 1e9, (d - child(0)) / 1e9) }
    }
  }

  /** Blocks until every event posted before this call was delivered. */
  def drain(): Unit = {
    marker = new CountDownLatch(1)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    require(marker.await(60, TimeUnit.SECONDS),
      "listener bus did not deliver the trace marker job within 60 s")
  }

  def spans: Seq[Span] = synchronized(spanLog.toList)
  def writes: Seq[Write] = synchronized(writeLog.toList)
  def counter(span: String): Counters =
    synchronized(counters.getOrElse(span, new Counters).copy())

  /** Forgets every span, counter and write recorded so far. */
  def reset(): Unit = {
    drain()
    synchronized {
      counters.clear(); spanLog.clear(); writeLog.clear()
    }
  }

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s == Marker) markerJob = e.jobId
    else {
      counters.getOrElseUpdate(s, new Counters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (synchronized(e.jobId == markerJob)) marker.countDown()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSpan.getOrElse(e.stageId, Marker)
      val c = if (s == Marker) new Counters
        else counters.getOrElseUpdate(s, new Counters)
      c.tasks += 1
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRows += m.shuffleWriteMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    def visit(p: SparkPlan): Unit = p match {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          val rows = w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          synchronized { writeLog += Write(i.outputPath.toUri.getPath, rows) }
        case _ =>
      }
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case other => other.children.foreach(visit)
    }
    visit(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
  private val Marker = "perfbench.marker"

  final case class Span(name: String, durS: Double, selfS: Double)
  final case class Write(path: String, rows: Long)

  final case class Counters(var jobs: Long = 0, var tasks: Long = 0,
                            var inputBytes: Long = 0, var inputRows: Long = 0,
                            var shuffleWriteBytes: Long = 0,
                            var shuffleWriteRows: Long = 0,
                            var outputBytes: Long = 0,
                            var outputRows: Long = 0,
                            var spillBytes: Long = 0)
}
