package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection main (diagnostics, not part of the harness
  * contract): runs one registered query and prints every execution the
  * engine reports for it — each localCheckpoint, each arm-decision
  * head/collect and the final count — so the pipeline behind a
  * checkpoint is read from what ran, not from a hand-kept copy of it.
  * Usage:
  *   graft.Explain <queryName> [sfDir] [full]
  * Per execution: one header (action name, duration), then the scan
  * lines (ReadSchema / PushedFilters / PartitionFilters) and a one-line
  * exchange / in-memory-scan census; `full` prints the execution's
  * formatted plan instead.
  */
object Explain {

  /** One execution a query ran: the action, its duration, its plan. */
  final case class Execution(funcName: String, durationNs: Long,
                             qe: QueryExecution)

  /** Every execution that `SparkEntry.queries(name)` and a final
    * `count()` of its frame run, in completion order. A
    * QueryExecutionListener watches the call and is unregistered on the
    * way out. Its events arrive asynchronously, in posting order, so a
    * marker execution drains them: once the marker's own event is in,
    * every earlier one is too. */
  def executions(spark: SparkSession, name: String,
                 sfDir: String): Seq[Execution] = {
    val seen = mutable.ArrayBuffer.empty[Execution]
    val marker = spark.range(1)
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe eq marker.queryExecution) drained.countDown()
        else seen.synchronized { seen += Execution(funcName, durationNs, qe) }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sfDir).count()
      marker.collect()
      require(drained.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the marker execution within 60 s")
      seen.synchronized(seen.toList)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of `p`, walking into adaptive plans and query stages —
    * the physical TREE, not its string: a cached relation's description
    * re-prints its child subtree under every InMemoryTableScan, so
    * string counts overstate scans and exchanges. */
  private[graft] def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: graft.Explain <queryName> [sfDir] [full]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(8)
    executions(spark, name, sfDir).zipWithIndex.foreach { case (e, i) =>
      println(f"[execution ${i + 1}] ${e.funcName} " +
        f"${e.durationNs / 1e9}%.3f s")
      val p = e.qe.executedPlan
      if (args.lift(2).contains("full")) {
        println(e.qe.explainString(FormattedMode))
      } else {
        // The final adaptive plan alone: the adaptive node's own string
        // repeats every scan under its "Initial Plan".
        val shown = p match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case _ => p
        }
        shown.toString.linesIterator
          .filter(l => l.contains("ReadSchema") ||
            l.contains("PushedFilters") || l.contains("PartitionFilters"))
          .foreach(l => println(l.trim.take(240)))
        // No codegen census: under AQE, CollapseCodegenStages runs at
        // stage materialization, so the retained plan tree reports 0
        // WholeStageCodegenExec nodes even when every stage codegens;
        // use `full` and read the `*(n)` markers instead.
        val all = nodes(p)
        val exchanges = all.count(_.isInstanceOf[Exchange])
        val cacheScans = all.count(_.getClass.getSimpleName
          .startsWith("InMemoryTableScan"))
        println(s"[explain] $name: exchanges=$exchanges " +
          s"inMemoryScans=$cacheScans")
      }
    }
    spark.stop()
  }
}
