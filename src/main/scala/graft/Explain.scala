package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main (diagnostics, not part of the harness
  * contract): prints the formatted physical plan of one registered
  * query — the `.explain("formatted")` review loop the scale rules
  * demand (pushed filters, pruned read schemas, exchange count,
  * whole-stage codegen spans). Usage:
  *   graft.Explain <queryName> [sfDir] [full]
  * `full` dumps the whole formatted plan; default prints the scan
  * lines (ReadSchema / PushedFilters / PartitionFilters) plus a
  * one-line exchange/codegen census.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: graft.Explain <queryName> [sfDir] [full]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(8)
    // `inner:` names expose the pre-checkpoint pipeline of queries whose
    // registered face is a localCheckpoint read (the checkpoint hides the
    // real plan behind an ExistingRDD — the r17 plan-evidence gap).
    val inner: Map[String,
        (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "inner:dedup_containment" -> ((s, d) =>
        graft.text.ContainmentDedup.confirmedFrame(s, d)._1),
      "inner:sim_pq_topk" -> ((s, d) =>
        graft.sim.ProductQuantizer.topKFrame(s, d)._1),
      "inner:sketch_hll_wau" -> ((s, d) =>
        graft.ops.EventOps.hllWauActivePlan(s, d)),
      // The pre-checkpoint session-envelope sub-job of
      // join_interval_overlap (the r18 exchange-elision surface).
      "inner:join_interval_overlap" ->
        graft.ops.IntervalJoin.sessionEnvelopes _,
      "inner:dedup_incremental" -> ((s, d) => {
        val idx = graft.sim.AnnIndex.dir(s, d, "incdedup")
        graft.sim.AnnIndex.ensure(idx)(
          graft.text.IncrementalDedup.buildIndex(s, d, idx))
        graft.text.IncrementalDedup.checkFrame(s,
          graft.text.IncrementalDedup.deltaDocs(s, d), idx)._1
      })
    )
    val df =
      if (name.startsWith("inner:")) inner(name)(spark, sfDir)
      else SparkEntry.queries(name)(spark, sfDir)
    df.count() // let AQE finalize the real plan
    val plan = df.queryExecution.executedPlan.toString
    if (args.lift(2).contains("full")) {
      df.explain("formatted")
    } else {
      plan.linesIterator
        .filter(l => l.contains("ReadSchema") ||
          l.contains("PushedFilters") || l.contains("PartitionFilters"))
        .foreach(l => println(l.trim.take(240)))
      // Census over the physical TREE, not the string: a cached
      // relation's description re-prints its child subtree under every
      // InMemoryTableScan, so string counts overstate scans/exchanges.
      val p = df.queryExecution.executedPlan
      def census(n: org.apache.spark.sql.execution.SparkPlan,
                 pred: org.apache.spark.sql.execution.SparkPlan => Boolean)
          : Int = {
        val self = if (pred(n)) 1 else 0
        self + n.children.map(census(_, pred)).sum + (n match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => census(a.executedPlan, pred)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            census(q.plan, pred)
          case _ => 0
        })
      }
      val exchanges = census(p,
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      // NOTE: no codegen census — under AQE, CollapseCodegenStages runs
      // at stage materialization, so the retained plan tree reports 0
      // WholeStageCodegenExec nodes even when every stage codegens; use
      // `full` and read the `*(n)` markers instead.
      val cacheScans = census(p, _.getClass.getSimpleName
        .startsWith("InMemoryTableScan"))
      println(s"[explain] $name: exchanges=$exchanges " +
        s"inMemoryScans=$cacheScans")
    }
    spark.stop()
  }
}
