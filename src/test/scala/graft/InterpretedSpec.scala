package graft

import graft.runtime.{Incremental, IncrementalSilver, Interpreted}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The micro-batch layers' execution arm: the interpreted scope
  * compiles nothing, answers the same, and restores the caller's confs
  * on every exit path. */
class InterpretedSpec extends SparkSpec {

  private val Keys =
    Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled")
  private def confs = Keys.map { k =>
    val c = spark.sessionState.conf
    k -> Option.when(c.contains(k))(c.getConfString(k))
  }
  private def interpreted: Boolean =
    spark.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN" &&
      spark.conf.get("spark.sql.codegen.wholeStage") == "false"

  // A literal no earlier query used, so no cached class can serve it.
  private def query(k: Long) =
    spark.range(0, 2000).toDF("id")
      .withColumn("v", (col("id") + lit(k)) % 97)
      .filter(col("v") > 3)
      .join(spark.range(0, 50).toDF("w"), col("v") === col("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .orderBy(col("w"))

  test("a small query in the scope compiles no class and returns the " +
      "rows it returns compiled") {
    val k = 1000003L + System.nanoTime() % 1000000L
    // A first query in a fresh JVM compiles a few literal-independent
    // classes (session-wide, cached by source) even interpreted.
    Interpreted.run(spark)(query(k + 1).collect())
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val inScope = Interpreted.run(spark)(query(k).collect().toSeq)
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled in the scope")
    val compiled = query(k).collect().toSeq
    assert(compiles.getCount > before, "the compiled run compiles")
    assert(inScope.nonEmpty && inScope == compiled)
  }

  test("the caller's confs come back after a normal exit, an exception, " +
      "nested scopes and two concurrent scopes") {
    val caller = confs
    assert(!interpreted)
    assert(Interpreted.run(spark)(interpreted))
    assert(confs == caller)

    intercept[IllegalStateException] {
      Interpreted.run(spark)(throw new IllegalStateException())
    }
    assert(confs == caller)

    Interpreted.run(spark) {
      Interpreted.run(spark)(assert(interpreted))
      assert(interpreted, "the outer scope is still open")
    }
    assert(confs == caller)

    // An explicitly set caller value is restored as set.
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try {
      Interpreted.run(spark)(assert(interpreted))
      assert(spark.sessionState.conf.contains("spark.sql.codegen.wholeStage")
        && spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    assert(confs == caller)

    // Thread a exits while b's scope is open: the session stays
    // interpreted until b, the last scope, exits.
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    val aOut = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def scope(name: String)(afterBothIn: => Unit): Thread = new Thread(() =>
      Interpreted.run(spark) {
        bothIn.countDown()
        bothIn.await()
        afterBothIn
        seen.add(s"$name:$interpreted")
      })
    val a = scope("a")(())
    val b = scope("b")(aOut.await())
    a.start(); b.start()
    a.join()
    assert(interpreted, "b's scope is still open")
    aOut.countDown()
    b.join()
    assert(seen.toArray.toSet == Set("a:true", "b:true"))
    assert(confs == caller)
  }

  test("a micro-batch layer runs in the scope, and a fresh silver's " +
      "affected dates are the recompute's") {
    val dir = tmpDir("interpreted-layer")
    Incremental.appendBatch(spark, s"$dir/bronze",
      spark.range(0, 3).toDF("user_id"), 1L)
    val day = java.sql.Date.valueOf("2024-01-01")
    var derivedInScope = false
    val d = IncrementalSilver.updateDetailed(spark, s"$dir/bronze",
      s"$dir/silver", None, toSilver = { df =>
        derivedInScope = interpreted
        df.withColumn("datetime", lit(day))
      })
    assert(derivedInScope && !interpreted)
    assert(d.watermark.contains(1L) && d.affectedDates == Seq(day))
  }
}
