package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interval-overlap join — the range-join class the engine's as-of
  * (point→latest) and band (point±window) joins don't cover: both sides
  * carry [start, end] INTERVALS and the predicate is overlap. The naive
  * plan is a cartesian with an inequality filter — the classic
  * O(n²) range-join trap; the scale shape here is TIME-BUCKET
  * EQUI-JOIN: each interval explodes to the fixed-width buckets it
  * spans, candidates meet on bucket equality (never a cross product),
  * the exact overlap predicate filters, and pairs that share several
  * buckets dedupe before counting. Completeness: an overlapping pair
  * shares every bucket containing an overlap point, so bucket equality
  * never misses a true pair. Fan-out is span/bucketWidth per interval —
  * session-length bounded, not corpus-scaled.
  *
  * Skew bound (the measured-arm treatment every scale-sensitive op in
  * this engine gets): per-bucket work is quadratic in that hour's
  * CONCURRENCY m, so one viral hour at 100× makes one straggler task.
  * [[AutoArm]] measures max bucket membership in one aggregate; within
  * [[HotBucketCap]] the plain per-bucket join runs unchanged
  * ([[ColdArm]] — the harness-scale plan, zero machinery added). Past
  * it, [[SaltArm]] splits each HOT bucket's members into
  * g = ⌈m/cap⌉ hash-salt groups and joins on (bucket, saltA, saltB) —
  * both sides replicate ×g so every (saltA, saltB) cell is its own
  * task of ≤ cap² pairs; total pair work is unchanged (the OUTPUT is
  * inherently pair-scale) but the straggler becomes g² parallel tasks.
  * Each unordered candidate pair is generated exactly once per bucket
  * (its (saltA, saltB) cell is unique), cold buckets keep the plain
  * join, and both arms feed the identical overlap filter + distinct,
  * so the oracle hash is arm-independent (OpsExtSpec proves ColdArm ==
  * SaltArm cell-for-cell at a forced 1-row cap). The hot-bucket table
  * broadcast is bounded by CALENDAR TIME, not corpus size: buckets are
  * hours, so a decade of data has ≤ ~87,600 of them — metadata-scale
  * by construction, the same argument as the union-find edge gate.
  *
  * Registered form: per-session concurrency — for each session's
  * [min start, max end] envelope, how many OTHER sessions' envelopes
  * overlap it (any user) — the load/concurrency lens a capacity
  * planner reads. */
object IntervalJoin {

  /** Bucket width: one hour of epoch-µs. */
  val BucketUs = 3600000000L

  /** Candidate-generation arm (the MinHashDedup.Arm idiom). */
  sealed trait Arm
  /** Plain per-bucket equi self-join (the within-cap plan). */
  case object ColdArm extends Arm
  /** Salted sub-bucket pass for hot buckets, plain join for the rest. */
  case object SaltArm extends Arm
  /** Measure max bucket membership and choose. */
  case object AutoArm extends Arm

  /** Straggler cap: one bucket-task scores at most cap² ≈ 16M pairs —
    * seconds of one core's integer work, the same task-size budget as
    * Similarity.NearDupBlocks' per-block-pair volume. */
  val HotBucketCap: Long = 4096L

  /** The [[AutoArm]] rule, exposed for specs. */
  def selectArm(maxBucket: Long, cap: Long = HotBucketCap): Arm =
    if (maxBucket <= cap) ColdArm else SaltArm

  /** Each session's [min start, max end] envelope (`session_id`, `s`,
    * `e`) — the pre-checkpoint sub-plan of [[concurrentSessions]], and
    * the plan-evidence surface of graft.Explain
    * `inner:join_interval_overlap`. Gold-side convention: sessions over
    * cleansed events (the silver dedup is its own materialization — the
    * goldPre oracle preamble).
    *
    * Envelopes straight from the session ASSIGNMENT (r17): the silver
    * aggregate's 9-key groupBy + 10 aggregate functions + state machine
    * were all discarded by the envelope re-group — min/max ts_us over a
    * session's EVENTS equals min(start_us)/max(end_us) over its silver
    * rows by definition, so one corpus-scale aggregate replaces two and
    * the wide silver projection never materializes (measured −0.4 s at
    * sf0.1, identical output).
    *
    * groupBy (user_id, session_id), not session_id alone (r18, guide
    * §2.4 exchange reuse): session_id is user-scoped ("<user>_<seq>"),
    * so the grouping is identical — but with user_id among the keys the
    * sessionize window's hash(user_id) partitioning satisfies the
    * aggregate's required distribution and the envelope groupBy reuses
    * that exchange instead of re-shuffling every event row on the
    * derived string key. */
  private[graft] def sessionEnvelopes(spark: SparkSession,
                                      dir: String): DataFrame =
    graft.silver.Sessionize
      .assignSessions(graft.ingest.Events.cleansed(spark, dir))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("s"), max(col("ts_us")).as("e"))
      .select("session_id", "s", "e")

  def concurrentSessions(spark: SparkSession, dir: String,
                         arm: Arm = AutoArm,
                         cap: Long = HotBucketCap): DataFrame = {
    // localCheckpoint, not persist (the KnnEval convention): the
    // corpus-scale cleanse→sessionize derivation feeds the buckets
    // explode (which AutoArm's membership aggregate and BOTH salted-arm
    // sides re-read) AND the final n_concurrent join — without the
    // checkpoint the SaltArm path re-executes the derivation up to five
    // times, and a bare persist would leak past the lazy return.
    val sess = sessionEnvelopes(spark, dir).localCheckpoint()
    // explode_outer + null filter: the bucket list is a DERIVED array
    // (the InferFiltersFromGenerate pitfall PlanSpec guards). NOT
    // checkpointed (r18): every consumer reads it straight off the sess
    // checkpoint — the explode is one narrow codegen'd Generate, and
    // re-running it 2–3× (arm aggregate + the join sides) is cheaper
    // than a whole extra materialization job was (same-window A/B with
    // the envelope-exchange elision: 3.48 → 3.07 s at sf0.1; an
    // always-salted variant that also drops the arm-decision job
    // measured 3.23 s — the in-plan hot-table machinery costs more than
    // the decision job saves, so AutoArm stays). The SaltArm's extra readers (hot agg,
    // anti-join, both salted sides) likewise re-derive from sess blocks.
    val buckets = sess.select(col("session_id"), col("s"), col("e"),
      explode_outer(expr(s"sequence(s div ${BucketUs}L, e div ${BucketUs}L)"))
        .as("bkt"))
      .filter(col("bkt").isNotNull)
    val resolved = arm match {
      case AutoArm =>
        // One metadata-scale aggregate decides the arm.
        val mx = buckets.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
          .agg(coalesce(max(col("m")), lit(0L))).head().getLong(0)
        selectArm(mx, cap)
      case a => a
    }
    val raw = resolved match {
      case SaltArm => saltedPairs(buckets, cap)
      case _       => plainPairs(buckets)
    }
    // countDistinct, not distinct().groupBy.count (r17): a pair sharing
    // k buckets appears k times in `raw`, and each must count once — but
    // the explicit distinct shuffled the pair list on (session_id,
    // other_id) and then the count re-shuffled on session_id. The
    // single distinct-aggregate computes the identical number with the
    // pair-grain dedup fused into its first phase (measured 0.6 % dups
    // at sf0.1 — the dedup itself is nearly free either way; the win is
    // one fewer pair-list exchange + stage barrier).
    val counts = raw.groupBy(col("session_id"))
      .agg(countDistinct(col("other_id")).as("n_concurrent"))
    sess.join(counts, Seq("session_id"), "left")
      .select(col("session_id"), col("s").as("start_us"),
        col("e").as("end_us"),
        coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"))
  }

  /** Arm dispatch over a prepared buckets frame — exposed for
    * PropertySpec's randomized arm-equality proof. */
  private[graft] def pairsOf(buckets: DataFrame, salted: Boolean,
                             cap: Long): DataFrame =
    if (salted) saltedPairs(buckets, cap) else plainPairs(buckets)

  /** Ordered candidate pairs via the plain per-bucket equi self-join. */
  private def plainPairs(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bkt") === col("b.bkt") &&
          col("a.session_id") =!= col("b.session_id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.session_id").as("session_id"),
        col("b.session_id").as("other_id"))

  /** The hot-bucket arm: buckets past `cap` take the 2-D salt split
    * (join key (bkt, sa, sb); both sides fan out ×g so each cell is an
    * independent ≤cap² task), cold buckets keep the plain join. The
    * split is a broadcast semi/anti join against the hot-bucket table
    * (calendar-bounded — scaladoc above). */
  private def saltedPairs(buckets: DataFrame, cap: Long): DataFrame = {
    val hot = buckets.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
      .filter(col("m") > cap)
      .select(col("bkt"),
        expr(s"(m + ${cap}L - 1) div ${cap}L").cast("int").as("g"))
    val coldB = buckets.join(broadcast(hot.select("bkt")),
      Seq("bkt"), "left_anti")
    val hotB = buckets.join(broadcast(hot), Seq("bkt"))
    val aH = hotB
      .withColumn("sa", pmod(hash(col("session_id")), col("g")))
      .withColumn("sb", explode_outer(expr("sequence(0, g - 1)")))
      .filter(col("sb").isNotNull)
    val bH = hotB
      .withColumn("sb", pmod(hash(col("session_id")), col("g")))
      .withColumn("sa", explode_outer(expr("sequence(0, g - 1)")))
      .filter(col("sa").isNotNull)
    val hotPairs = aH.as("a")
      .join(bH.as("b"),
        col("a.bkt") === col("b.bkt") &&
          col("a.sa") === col("b.sa") && col("a.sb") === col("b.sb") &&
          col("a.session_id") =!= col("b.session_id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.session_id").as("session_id"),
        col("b.session_id").as("other_id"))
    plainPairs(coldB).unionByName(hotPairs)
  }
}
