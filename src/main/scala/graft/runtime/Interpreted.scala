package graft.runtime

import org.apache.spark.sql.SparkSession

/** The execution arm of the micro-batch layers: inside [[run]], Spark's
  * code generation is OFF.
  *
  * A micro-batch's fixed cost is dominated by Janino compiling the
  * generated classes of every plan it runs (hundreds per batch), and
  * nothing carries over to the next batch: the generated-class cache
  * holds 100 entries (`spark.sql.codegen.cache.maxEntries`, a static
  * conf) and batch ids, watermarks and positions are inlined into the
  * generated source as literals. At the benchmark's history size (a
  * 0.5 MB silver) the interpreted evaluators finish before the
  * compiler would. With a history ~100× deeper (tens of MB per layer)
  * codegen's per-row speed wins back on silver and some date golds;
  * no workload measures that size yet (ROADMAP item 2).
  *
  * The scope sets three session confs and restores the caller's values
  * when the last open scope on that session exits, also on exception:
  *  - `spark.sql.codegen.wholeStage=false`;
  *  - `spark.sql.codegen.factoryMode=NO_CODEGEN`, an INTERNAL conf
  *    (`SQLConf.CODEGEN_FACTORY_MODE`). It switches expression
  *    projections, predicates and orderings to their interpreted
  *    forms; Spark's own test harness uses it to run its suites
  *    interpreted. The Spark version is pinned by the build's local
  *    jars; InterpretedSpec fails if the key stops taking effect;
  *  - `spark.sql.optimizer.dynamicPartitionPruning.enabled=false`.
  *    Interpreted, a dynamic-pruning filter that the optimizer pushes
  *    through a union into a branch that is not a partitioned scan
  *    fails its task ("IN dynamicpruning#… has not finished"; the same
  *    plan compiled runs). A join view's span-start state is such a
  *    union (the live rows a one-entry log span does not name, plus
  *    the entry's old images), semi-joined to a moving dim's keys on
  *    the fact's partition column; StarJoinViewSpec pins it. At delta
  *    size the pruning saves nothing worth its broadcast subquery.
  * Apart from the dropped pruning filters the scope changes no plan
  * and no code path of the engine: the same physical operators run,
  * evaluated instead of compiled. Queries another thread runs on the
  * same session while a scope is open run interpreted too; they are
  * correct either way. */
object Interpreted {

  private val Confs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false")

  /** Open scopes per session, and the caller's conf values the last
    * one to exit restores. Identity-keyed: a session's conf is its
    * own, whatever `equals` says. */
  private final class Scope(var open: Int,
                            val saved: Seq[(String, Option[String])])
  private val scopes =
    new java.util.IdentityHashMap[SparkSession, Scope]()

  /** Runs `body` with code generation off on `spark`'s session. */
  def run[T](spark: SparkSession)(body: => T): T = {
    scopes.synchronized {
      val s = scopes.get(spark)
      if (s != null) s.open += 1
      else {
        // Explicitly set values only: an unset key is unset again.
        val conf = spark.sessionState.conf
        scopes.put(spark, new Scope(1, Confs.map { case (k, _) =>
          k -> Option.when(conf.contains(k))(conf.getConfString(k))
        }))
        Confs.foreach { case (k, v) => spark.conf.set(k, v) }
      }
    }
    try body
    finally scopes.synchronized {
      val s = scopes.get(spark)
      s.open -= 1
      if (s.open == 0) {
        scopes.remove(spark)
        s.saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
  }
}
