package graft

import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** graft.Explain watches the registered query instead of re-composing
  * it: the localCheckpoint executions it captures carry the pipelines
  * behind the checkpoints, and its listener is gone once it returns. */
class ExplainSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def checkpoints(name: String): Seq[Explain.Execution] =
    Explain.executions(spark, name, dir)
      .filter(_.funcName == "localCheckpoint")

  test("join_interval_overlap: a localCheckpoint aggregates by " +
      "(user_id, session_id)") {
    val envelopes = checkpoints("join_interval_overlap").filter { e =>
      Explain.nodes(e.qe.executedPlan).exists {
        case a: BaseAggregateExec =>
          a.groupingExpressions.map(_.name) == Seq("user_id", "session_id")
        case _ => false
      }
    }
    assert(envelopes.nonEmpty,
      "no localCheckpoint execution ran the session-envelope aggregate")
  }

  test("dedup_containment: a localCheckpoint runs the confirmed frame") {
    val ran = checkpoints("dedup_containment")
    val (confirmed, persists) =
      graft.text.ContainmentDedup.confirmedFrame(spark, dir)
    try {
      val plan = confirmed.queryExecution.analyzed
      assert(ran.exists(_.qe.analyzed.sameResult(plan)),
        s"none of ${ran.size} localCheckpoint executions ran the " +
          "confirmed frame")
    } finally persists.foreach(_.unpersist())
  }

  test("no listener stays registered, so a later action is not captured") {
    // The manager's listener list is Spark-internal API; read it
    // reflectively.
    def registered: Seq[QueryExecutionListener] = spark.listenerManager
      .getClass.getMethod("listListeners").invoke(spark.listenerManager)
      .asInstanceOf[Array[QueryExecutionListener]].toSeq
    val before = registered
    assert(checkpoints("sketch_hll_wau").nonEmpty)
    assert(registered == before)
  }
}
