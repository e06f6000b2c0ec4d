package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators beyond the windowing family: semi-structured
  * (JSON) property extraction and time-range window frames — both staples
  * of a feature pipeline that the reference sidesteps (its producer emits
  * a fixed flat schema; props-style JSON payloads are the general case).
  */
object EventOps {

  /** Semi-structured extraction + aggregation: pull `k` out of the JSON
    * `props` column and aggregate by (event_type, k mod 10). The JSON
    * path evaluation (`get_json_object`) is codegen'd; JSON parsing
    * dominates the query's cost, so Layout.spread fans the single-file
    * scan out before it instead of serializing the parse on one input
    * split (measured 3-9 s single-core at sf0.1, sub-second spread). */
  def jsonPropsAgg(spark: SparkSession, dir: String): DataFrame =
    // spreadBy(user_id): the countDistinct's partial phase clusters on
    // (event_type, k_bucket, user_id) ⊇ user_id, so the keyed spread
    // exchange is reused by it (RR added one more).
    graft.util.Layout.spreadBy(graft.ingest.Events.raw(spark, dir),
        col("user_id"))
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("value_cents",
        expr("try_cast(round(value * 100, 0) as bigint)"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value_cents")).as("sum_value_cents"))

  /** Gap-based sessionization: a session is a maximal run of one user's
    * events with < 30 minutes between consecutive events — the classic
    * clickstream operator (the silver path instead groups by an explicit
    * session key; this derives sessions when no key exists). Two window
    * passes over ONE shuffle on user_id: lag() marks session starts, a
    * running sum numbers them (the standard gaps-and-islands plan — both
    * windows share the same partitioning+ordering so Catalyst runs them in
    * one Window exec without re-sorting), then the per-session aggregate
    * re-shuffles on (user_id, session_idx). Ordering is (ts_us, event_id)
    * — a total order, so numbering is deterministic under equal
    * timestamps. */
  def sessionizeGap(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("value_cents",
        expr("try_cast(round(value * 100, 0) as bigint)"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") >= gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_ts_us"),
        max(col("ts_us")).as("end_ts_us"),
        countDistinct(col("event_type")).as("n_event_types"),
        sum(col("value_cents")).as("sum_value_cents"))
      .withColumn("duration_us", col("end_ts_us") - col("start_ts_us"))
  }

  /** Funnel transition matrix: for every ordered pair of consecutive
    * events INSIDE one [[sessionizeGap]] session (same user, < 30 min
    * apart), count transitions, distinct transitioning users, and the
    * mean gap — the user-flow analytics a clickstream feature store
    * exists to serve (which paths follow which, and how fast).
    *
    * Plan shape: the same single user_id-partitioned Window pass as
    * sessionizeGap (lag of ts and of event_type share one sort — no
    * session_idx running sum is even needed: the < gap filter IS the
    * same-session predicate for consecutive rows), then one hash
    * aggregate on (from_type, to_type) — a |event_types|²-bounded
    * output. One user-keyed shuffle + one tiny agg shuffle, nothing
    * pairwise: the 100 TB plan is identical. Gap stats are integer µs
    * summed exactly; the mean is one IEEE division rounded by the
    * portable scale-0 rule. */
  def funnelTransitions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_ts_us").isNotNull &&
        col("ts_us") - col("prev_ts_us") < gapUs)
      .withColumn("gap_us", col("ts_us") - col("prev_ts_us"))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(
        count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("gap_us")).as("sum_gap_us"))
      .withColumn("mean_gap_sec",
        graft.util.Num.ratio(col("sum_gap_us"), col("n_transitions") *
          lit(1000000L), 2))
  }

  /** Hourly anomaly scores: each (event_type, hour) bucket's count
    * z-scored against its trailing 24 OBSERVED buckets (rows-frame, so
    * silent hours simply don't dilute the baseline) — the monitoring
    * query a streaming gold table feeds. Buckets with fewer than 8
    * trailing observations or zero variance score 0.
    *
    * Cross-engine exactness: trailing sum and sum-of-squares stay
    * INTEGER through the window (order-independent, unlike a double
    * sum), and the variance numerator n·Σx² − (Σx)² / denominator
    * n·(n−1) are integer; the z expression then runs the identical
    * IEEE op sequence in both engines (two divisions, one sqrt, one
    * subtraction — each correctly rounded) before the portable scale-4
    * round. Integer headroom: Σx² caps bigint at per-bucket counts
    * ~3·10⁸ — beyond that, shard the bucket key (the gold partition
    * convention) rather than widening to unordered double sums.
    *
    * Plan shape: one hash aggregate to the (type, hour) grain —
    * |types|·|hours| rows, metadata-scale vs the event corpus — then a
    * type-partitioned 25-row sliding frame over that TINY frame. The
    * corpus-sized input crosses one exchange, pre-reduced map-side. */
  def anomalyHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .groupBy(col("event_type"),
        window(timestamp_micros(col("ts_us")), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"),
        unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("window_start_us")).rowsBetween(-24, -1)
    hourly
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("sum_trail", coalesce(sum(col("n_events")).over(w),
        lit(0L)))
      .withColumn("sumsq_trail",
        coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
      .withColumn("var_num",
        col("n_trail") * col("sumsq_trail") -
          col("sum_trail") * col("sum_trail"))
      .withColumn("z_score",
        when(col("n_trail") >= 8 && col("var_num") > 0,
          graft.util.Num.r(
            (col("n_events").cast("double") -
              col("sum_trail").cast("double") / col("n_trail")) /
              sqrt(col("var_num").cast("double") /
                (col("n_trail") * (col("n_trail") - 1))), 4))
          .otherwise(0.0))
      .withColumn("is_anomaly",
        when(abs(col("z_score")) >= 3.0, 1).otherwise(0).cast("int"))
      .select("event_type", "window_start_us", "n_events", "n_trail",
        "z_score", "is_anomaly")
  }

  /** Market-basket co-occurrence of webtoons at the (user, day) basket
    * grain: for every webtoon pair read by one user on one day, the
    * pair count (support) and lift — the co-consumption signal a
    * recommender's candidate generator starts from.
    *
    * The pairwise step is bounded COMBINATORICS, not corpus-pairwise:
    * pairs expand INSIDE each basket's distinct-webtoon array, and one
    * user's one-day distinct webtoon list is catalog-behavior bounded
    * (~10 here; a power reader's ceiling, not corpus-scaled) — so pair
    * volume is Σ_baskets |basket|², linear in baskets, with no
    * corpus-grain self-join anywhere. Lift is the exact rational
    * n_ab·n_baskets / (n_a·n_b), one IEEE division rounded scale-4. */
  def cooccurrenceWebtoons(spark: SparkSession, dir: String): DataFrame = {
    // ONE wide shuffle reduces the corpus to (user, day) baskets with a
    // sorted distinct-webtoon array (bounded state: one user's one-day
    // catalog behavior; null webtoon_ids drop — they can never join a
    // marginal, identically to the former plan). The former plan
    // self-joined a corpus-grain basket relation on (user, day) and
    // re-derived it for the marginals and the denominator — four
    // corpus-grain scans/shuffles where one suffices. Pairs are now
    // in-array combinatorics (Σ|basket|² rows, linear in baskets) and
    // the marginals/denominator re-aggregate the persisted BASKET-grain
    // frame, which is the corpus already reduced |events|/|baskets|-fold
    // (kept cached for its two consumers, the tfIdf prefix-frame
    // precedent). explode_outer + isNotNull, NOT explode: the inner form
    // makes InferFiltersFromGenerate inline the array builder into
    // per-element lambdas (PlanSpec-guarded pitfall).
    val baskets = graft.ingest.Events.cleansed(spark, dir)
      .groupBy(col("user_id"), col("datetime"))
      .agg(sort_array(collect_set(col("webtoon_id"))).as("ws"))
      .persist()
    val nBaskets = baskets.count()
    val marg = baskets
      .select(explode_outer(col("ws")).as("webtoon_id"))
      .filter(col("webtoon_id").isNotNull)
      .groupBy(col("webtoon_id"))
      .agg(count(lit(1)).as("n_w"))
    val pairs = baskets
      .select(explode_outer(expr(
        "flatten(transform(ws, (x, i) -> " +
          "transform(slice(ws, i + 2, size(ws)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.a").as("webtoon_a"), col("p.b").as("webtoon_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("webtoon_id").as("webtoon_a"),
        col("n_w").as("n_a"))), Seq("webtoon_a"))
      .join(broadcast(marg.select(col("webtoon_id").as("webtoon_b"),
        col("n_w").as("n_b"))), Seq("webtoon_b"))
      .withColumn("lift", graft.util.Num.r(
        (col("n_ab") * lit(nBaskets)).cast("double") /
          (col("n_a") * col("n_b")), 4))
      .select("webtoon_a", "webtoon_b", "n_ab", "n_a", "n_b", "lift")
  }

  /** Dense hourly resample with zero-fill: every (event_type, hour)
    * cell over the corpus's FULL observed hour span, silent hours
    * explicitly zero — the time-series regularization that makes
    * downstream row-frame windows (trailing means, [[anomalyHourly]]'s
    * 24-bucket baseline) mean wall-clock ranges exactly, and the shape
    * a forecasting consumer exports.
    *
    * Plan shape: the corpus reduces to the sparse hourly aggregate
    * (map-side combined, metadata-scale output), the dense grid is a
    * GENERATED |types| × |hours| frame (sequence over the min/max hour
    * span exploded against the distinct types — both driver-scalar
    * bounded, nothing scans the corpus twice), and a left join +
    * coalesce fills. At 100 TB only the first aggregate touches data. */
  def resampleHourlyFilled(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("hour_idx", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n_events"))
    val span = hourly.agg(min(col("hour_idx")).as("lo"),
      max(col("hour_idx")).as("hi"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode_outer(expr("sequence(lo, hi)")).as("hour_idx"))
      .filter(col("hour_idx").isNotNull)
    grid.join(hourly, Seq("event_type", "hour_idx"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("window_start_us", col("hour_idx") * lit(3600000000L))
      .withColumn("is_gap",
        when(col("n_events") === 0, 1).otherwise(0).cast("int"))
      .select("event_type", "window_start_us", "n_events", "is_gap")
  }

  /** SCD Type-2 dimension history: collapse each user's event stream
    * into device validity intervals — version v is the v-th maximal run
    * of consecutive events on one device, valid from its first event
    * until the next run begins (NULL = current) — the
    * slowly-changing-dimension build every warehouse runs to make
    * "which device was this user on at time T" joinable (the as-of /
    * PIT features consume exactly such tables).
    *
    * Plan shape: gaps-and-islands on attribute CHANGE (lag + running
    * sum share one user-partitioned Window pass — the sessionizeGap
    * plan with the gap predicate swapped for device inequality), a
    * (user, run) aggregate, then lead() over the RUN-grain frame
    * (versions-per-user rows — bounded) for valid_to. Integer µs and
    * strings only. */
  def scd2UserDevice(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = graft.ingest.Events.cleansed(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("device"))
      .withColumn("prev_device", lag(col("device"), 1).over(w))
      .withColumn("chg",
        when(col("prev_device").isNull ||
          col("prev_device") =!= col("device"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("version"), col("device"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("valid_from_us"))
    val vw = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(vw))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, 1).otherwise(0).cast("int"))
      .select("user_id", "version", "device", "valid_from_us",
        "valid_to_us", "n_events", "is_current")
  }

  /** Z-order (Morton) layout key over (user_id, hour): the
    * multi-dimensional clustering key a lakehouse layout optimizer
    * (Delta's OPTIMIZE ZORDER, Iceberg's sort orders) writes files by,
    * so range predicates on EITHER dimension prune files — a 1-D sort
    * serves only its leading column. 16 bits of each dimension
    * interleave into a 32-bit key; the whole derivation is one
    * codegen'd integer expression per row (the [[graft.sim
    * .RandomProjection]] literal-fold move — no explode, no join, zero
    * shuffles), and at write time `repartitionByRange(z)` + sort is the
    * layout job. Bit arithmetic is engine-exact, so the oracle replays
    * every key. */
  /** Width-matched Morton interleave over prepared non-negative
    * integer columns (`(column, significant bits)`): bit i of every
    * column (while it has one) lands at consecutive output positions,
    * round-robin — one codegen'd integer expression, no UDF. WIDTHS
    * MATTER: interleaving a 4-bit dimension against a 16-bit one at
    * equal widths lets the wide dimension's high bits dominate the
    * key, and the layout degenerates to a 1-D sort on it (measured:
    * a 16+16 user×hour key over the harness events gave ZERO file
    * pruning on user ranges — every file's user envelope was the full
    * domain). Match each width to the dimension's significant bits
    * and every dimension gets file-bounded envelopes. Total bits must
    * stay under 62 (long arithmetic). */
  private[graft] def mortonExpr(cols: Seq[(String, Int)]): String = {
    require(cols.map(_._2).sum <= 62, "morton key must fit a long")
    val terms = scala.collection.mutable.Buffer[String]()
    var pos = 0
    for (i <- 0 until cols.map(_._2).max; (c, w) <- cols)
      if (i < w) {
        terms += s"((shiftright($c, $i) & 1) * ${1L << pos}L)"
        pos += 1
      }
    terms.mkString(" + ")
  }

  /** The 16+16-bit Morton interleave over prepared `u16`/`h16`
    * columns ([[zorderKey]]'s registered contract — fixed widths so
    * the DuckDB oracle replays every key bit-for-bit). */
  private[graft] val ZTerms: String =
    mortonExpr(Seq(("u16", 16), ("h16", 16)))

  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    val terms = ZTerms
    graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .select(col("event_id"), col("user_id"),
        expr("ts_us div 3600000000").as("hour_idx"))
      .withColumn("u16", expr("user_id % 65536"))
      .withColumn("h16", expr("hour_idx % 65536"))
      .withColumn("z_value", expr(terms))
      .select("event_id", "user_id", "hour_idx", "z_value")
  }

  /** Daily + trailing-7-day active users (DAU / WAU) — the heartbeat
    * metric of every product dashboard. WAU needs a PER-DAY DISTINCT
    * over a sliding window, which no window frame expresses; the
    * scale-correct plan CONTRIBUTES instead of scanning: each (user,
    * day) activity row fans out to the 7 target days it supports
    * (explode of a constant 0..6 offset array — ×7, bounded), a
    * distinct collapses multi-day activity inside one window, and a
    * plain count per target day finishes. All aggregation state is
    * bounded hash-agg keys; nothing re-scans a 7-day range per day. */
  /** The sketch-state form of [[dauWau]]: trailing-7-day WAU computed
    * by UNIONING per-day HLL sketches ([[graft.runtime.SketchGold]])
    * instead of re-scanning the window's events, next to the exact
    * WAU it approximates. This is the registered face of the sketch
    * gold's 100 TB claim — a rolling distinct whose per-day cost is
    * |window| sketch rows (kilobytes), not |window| days of traffic —
    * under the [[approxDistinctUsers]] oracle contract: the estimate
    * itself is engine-specific, so the query emits `dau_within` /
    * `wau_within` (estimate within 5% of exact — >6σ at lgK 14), which
    * the DuckDB oracle expects literally TRUE per day while verifying
    * the exact counts and row shape. Determinism: the HLL estimate is
    * a pure function of register state, and register state is a pure
    * function of the input SET — partitioning- and order-independent —
    * so the contract can never flap. */
  /** The pre-checkpoint (user_id, day) activity sub-job of
    * [[sketchHllWau]], shown by graft.Explain as its localCheckpoint:
    * the keyed spread's hash(user_id) exchange is the ONLY exchange
    * here, reused by the distinct (r17 keyed-spread claim, adjudicated
    * r18: same-window A/B keyed {1.00, 1.19} s vs round-robin
    * {1.67, 1.17} s — kept). */
  private[graft] def hllWauActivePlan(spark: SparkSession,
                                      dir: String): DataFrame =
    graft.util.Layout.spreadBy(
        graft.ingest.Events.raw(spark, dir), col("user_id"))
      .transform(graft.ingest.Events.withTsUs)
      .select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()

  def sketchHllWau(spark: SparkSession, dir: String): DataFrame = {
    import graft.runtime.SketchGold
    // localCheckpoint (the KnnEval convention): four subtrees read
    // `active` (sketch build, sketch WAU, exact DAU, exact WAU) — the
    // lazy return would otherwise re-run the events scan + distinct
    // once per subtree.
    // spreadBy(user_id): the (user_id, day) distinct clusters on a
    // superset of user_id, reusing the spread exchange.
    val active = hllWauActivePlan(spark, dir)
      .localCheckpoint()
    // Stored-state path: one ~16 KB sketch row per day...
    val daily = SketchGold.dailySketch(active)
    // ...then each window is a union of ≤7 sketch rows (forward
    // explode over the metadata-scale daily frame, the dauWau trick).
    val wauEst = daily
      .select(col("day"), col("user_sketch"),
        explode_outer(sequence(lit(0), lit(6))).as("off"))
      .filter(col("off").isNotNull)
      .select(expr("date_add(day, off)").as("day"), col("user_sketch"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("user_sketch"), lit(false))).as("wau_est"))
    // Exact twins (the dauWau computation) for the contract columns.
    val dauEx = active.groupBy(col("day"))
      .agg(count(lit(1)).as("dau_exact"))
    val wauEx = active
      .select(col("user_id"), col("day"),
        explode_outer(sequence(lit(0), lit(6))).as("off"))
      .filter(col("off").isNotNull)
      .select(col("user_id"), expr("date_add(day, off)").as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau_exact"))
    def within(est: org.apache.spark.sql.Column,
               exact: org.apache.spark.sql.Column) =
      abs(est - exact.cast("double")) / exact.cast("double") <= 0.05
    dauEx.join(wauEx, Seq("day"))
      .join(daily.select(col("day"), col("dau_est")), Seq("day"))
      .join(wauEst, Seq("day"))
      .select(col("day"), col("dau_exact"), col("wau_exact"),
        within(col("dau_est"), col("dau_exact")).as("dau_within"),
        within(col("wau_est"), col("wau_exact")).as("wau_within"))
  }

  /** The SERVING half of the sketch gold: a 30-day rolling MAU
    * answered from the MATERIALIZED sketch table
    * ([[graft.runtime.SketchGold.rollingDistinct]]), not from events.
    * [[sketchHllWau]] proves the sketch math inline; this query proves
    * the stored read path — the table is built once per JVM (the
    * [[graft.sim.AnnIndex.ensure]] convention every serving layout
    * uses: the sketch gold is the nightly incremental artifact, the
    * MAU query is what repeats), and the estimate plan then reads one
    * ~16 KB sketch ROW per day — 30 rows per window instead of 30 days
    * of traffic, independent of history depth. `n_days` (the count of
    * sketch rows present in each trailing window) is exact and
    * oracle-verified, so a consumer can tell a partial leading window
    * from a full one; the estimate itself is engine-specific and rides
    * the 5% contract column (`mau_within`, >6σ at lgK 14 — the
    * [[sketchHllWau]] convention). The exact-MAU twin is computed from
    * events only to FEED the contract column; the serving path touches
    * no event row (SketchGoldSpec pins the scan set). */
  def sketchMauStored(spark: SparkSession, dir: String): DataFrame = {
    import graft.runtime.SketchGold
    val goldDir = graft.sim.AnnIndex.dir(spark, dir, "sketch_user_gold")
    graft.sim.AnnIndex.ensure(goldDir) {
      // Fresh-process rebuild (the AnnIndex contract: correctness beats
      // a stale layout read) — wipe any prior process's table, then one
      // additive build from the day-user activity set.
      val p = new org.apache.hadoop.fs.Path(goldDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      SketchGold.unionDelta(spark, goldDir,
        graft.util.Layout.spreadBy(graft.ingest.Events.raw(spark, dir),
            col("user_id"))
          .transform(graft.ingest.Events.withTsUs)
          .select(col("user_id"),
            to_date(timestamp_micros(col("ts_us"))).as("day"))
          .distinct())
    }
    val rolling = SketchGold.rollingDistinct(spark, goldDir, 30)
    val mauEx = graft.util.Layout.spreadBy(
        graft.ingest.Events.raw(spark, dir), col("user_id"))
      .transform(graft.ingest.Events.withTsUs)
      .select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()
      .select(col("user_id"), col("day"),
        explode_outer(sequence(lit(0), lit(29))).as("off"))
      .filter(col("off").isNotNull)
      .select(col("user_id"), expr("date_add(day, off)").as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("mau_exact"))
    mauEx.join(rolling, Seq("day"))
      .select(col("day"), col("mau_exact"), col("n_days"),
        (abs(col("distinct_est") - col("mau_exact").cast("double")) /
          col("mau_exact").cast("double") <= 0.05).as("mau_within"))
  }

  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val active = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()
    val dau = active.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = active
      .select(col("user_id"), col("day"),
        explode_outer(sequence(lit(0), lit(6))).as("off"))
      .filter(col("off").isNotNull)
      .select(col("user_id"), expr("date_add(day, off)").as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau_7d"))
    dau.join(wau, Seq("day"))
      .select("day", "dau", "wau_7d")
  }

  /** Top session paths: the ordered event-type sequence of every gap
    * session, aggregated to the most common paths — the path-funnel
    * complement of [[funnelTransitions]] (which marginalizes to pairs;
    * this keeps whole trajectories).
    *
    * The per-session event list is bounded by session length (a
    * 30-minute human session — NOT user- or corpus-scaled), so the
    * collect_list aggregation state is bounded; events sort inside the
    * session by the (ts, event_id) total order AFTER collection
    * (array_sort on structs — deterministic, engine-replayable), so no
    * window pass is needed beyond the session assignment itself. The
    * path aggregate's output is bounded by distinct trajectories, and
    * the final top-20 sorts that aggregate, not the corpus. */
  def pathTopSequences(spark: SparkSession, dir: String,
                       topK: Int = 20): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") >= gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(collect_list(struct(col("ts_us"), col("event_id"),
        col("event_type"))).as("evs"))
      .withColumn("path", concat_ws(">",
        expr("transform(array_sort(evs), e -> e.event_type)")))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Data-quality expectations report — the validation gate a pipeline
    * runs before promoting a partition (the Great-Expectations shape,
    * declaratively in Spark): per-table constraint checks with row and
    * violation counts, one row per check. Events: non-null user,
    * positive value, known event-type domain, unique event_id,
    * timestamps inside the 2024 ingest year. Documents: n_chars
    * consistent with the text, no empty docs.
    *
    * Plan shape: ONE aggregate pass per table computing every violation
    * count as a conditional sum (map-side combined; the only Expand is
    * the scalar countDistinct for uniqueness), then a `stack` unpivot of
    * the single result row. Violation counts, not samples: the report
    * is fixed-width however large the table. */
  def dqExpectations(spark: SparkSession, dir: String): DataFrame = {
    val lo = 1704067200000000L // 2024-01-01 UTC, µs
    val hi = 1735689600000000L // 2025-01-01 UTC, µs
    val ev = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L))
          .as("null_user"),
        sum(when(col("value") <= 0.0, 1L).otherwise(0L))
          .as("nonpos_value"),
        sum(when(!col("event_type").isin(
          "view", "click", "purchase", "error", "signup"), 1L)
          .otherwise(0L)).as("bad_type"),
        (count(lit(1)) - countDistinct(col("event_id")))
          .as("dup_event_id"),
        sum(when(col("ts_us") < lo || col("ts_us") >= hi, 1L)
          .otherwise(0L)).as("ts_oob"))
      .select(lit("events").as("table_name"), col("n_rows"),
        expr("stack(5, " +
          "'not_null_user_id', null_user, " +
          "'positive_value', nonpos_value, " +
          "'known_event_type', bad_type, " +
          "'unique_event_id', dup_event_id, " +
          "'ts_in_ingest_year', ts_oob) AS (check_name, n_violations)"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("n_chars") =!= length(col("text")), 1L)
          .otherwise(0L)).as("chars_mismatch"),
        sum(when(length(col("text")) === 0, 1L).otherwise(0L))
          .as("empty_text"))
      .select(lit("documents").as("table_name"), col("n_rows"),
        expr("stack(2, " +
          "'n_chars_consistent', chars_mismatch, " +
          "'nonempty_text', empty_text) AS (check_name, n_violations)"))
    ev.unionByName(docs)
      .withColumn("pass",
        when(col("n_violations") === 0 && col("n_rows") > 0, 1)
          .otherwise(0).cast("int"))
      .select("table_name", "check_name", "n_rows", "n_violations",
        "pass")
  }

  /** Strict ordered-step conversion funnel over gap sessions: how many
    * sessions progress view → click → purchase IN TIME ORDER (a click
    * before the first view does not count, a purchase before the
    * qualifying click does not count) — the canonical funnel report;
    * [[funnelTransitions]] is its pairwise marginal.
    *
    * Per session the three per-type timestamp lists collect SORTED
    * (bounded by session length — the pathTopSequences state argument),
    * and the step chain is pure scalar array logic: t1 = first view,
    * t2 = first click after t1, t3 = first purchase after t2 (null
    * comparisons drop out of the filters on both engines identically).
    * One session aggregate + one fixed-width rollup; the final report
    * is three rows. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def stepList(t: String) = sort_array(collect_list(
      when(col("event_type") === t, col("ts_us"))))
    val per = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") >= gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(stepList("view").as("views"),
        stepList("click").as("clicks"),
        stepList("purchase").as("purchases"))
      // get(): null on empty/short arrays (ANSI-safe, unlike [] or
      // element_at which error out of bounds under ANSI)
      .withColumn("t1", expr("get(views, 0)"))
      .withColumn("t2", expr("get(filter(clicks, x -> x > t1), 0)"))
      .withColumn("t3", expr("get(filter(purchases, x -> x > t2), 0)"))
    val totals = per.agg(
      count(lit(1)).as("n_sessions"),
      count(col("t1")).as("s1"),
      count(col("t2")).as("s2"),
      count(col("t3")).as("s3"))
    totals.select(col("n_sessions"), expr(
      "stack(3, 1, 'view', s1, n_sessions, " +
        "2, 'view>click', s2, s1, " +
        "3, 'view>click>purchase', s3, s2) " +
        "AS (step, step_name, n_reached, n_prev)"))
      .withColumn("conversion_from_prev",
        graft.util.Num.guardedRatio(col("n_reached"), col("n_prev"), 4))
      .withColumn("conversion_from_start",
        graft.util.Num.guardedRatio(col("n_reached"), col("n_sessions"), 4))
      .select("step", "step_name", "n_reached", "conversion_from_prev",
        "conversion_from_start")
  }

  /** Cohort retention matrix — the general day-N form of the gold
    * tables' 1-day retention self-joins: users are cohorted by their
    * FIRST active day; every (cohort_day, day_offset) cell counts the
    * cohort members active offset days later, with the retention rate
    * against the cohort's day-0 size.
    *
    * Plan shape: one distinct to (user, day) grain (bounded-state hash
    * aggregate — the Expand-free path), a user-keyed min() that REUSES
    * the same user-hashed exchange, a co-partitioned user join back
    * (no second corpus shuffle of the distinct frame), then a
    * (cohort, offset) aggregate whose output is |days|² / 2 cells —
    * metadata-scale however large the corpus. Cohort sizes come from
    * the offset-0 cells of the SAME aggregate (self-join on the tiny
    * output), not a second pass over the events. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val active = graft.ingest.Events.raw(spark, dir)
      .transform(graft.ingest.Events.withTsUs)
      .select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()
    val first = active.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val cells = active.join(first, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    // offset-0 is the cohort size by construction (every member is
    // active on their first day)
    val sizes = cells.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_active").as("cohort_n"))
    cells.join(sizes, Seq("cohort_day"))
      .withColumn("retention_rate",
        graft.util.Num.ratio(col("n_active"), col("cohort_n"), 4))
      .select("cohort_day", "day_offset", "n_active", "cohort_n",
        "retention_rate")
  }

  /** The 100 TB count-distinct path: HyperLogLog++ sketches
    * (`approx_count_distinct`) next to the exact count it approximates.
    * The sketch is a fixed-size mergeable aggregation buffer — partial
    * aggregation stays map-side and the shuffle carries ~1.5 KB per group
    * regardless of cardinality, where exact distinct re-shuffles every
    * distinct value (the Expand plan in ordersDailyDistinct).
    *
    * The raw HLL estimate is implementation-specific, so instead of
    * emitting it (which no other engine could reproduce) the query emits
    * `within_pct` — the 5%-relative-error contract the sketch is
    * configured for (rsd 0.01 ⇒ ±1% σ; 5% is > 4σ) — which the DuckDB
    * oracle CAN verify (it expects literal TRUE per group): everything
    * about the row is oracle-checked except the unportable estimate
    * itself. ApproxSpec additionally bounds the estimate in-engine. */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    // spread: the HLL buffer update and the countDistinct Expand run
    // MAP-side, and the single-file harness scan would otherwise run
    // them on one core (the jsonPropsAgg precedent; a many-split
    // production scan makes this a no-op).
    val ev = graft.util.Layout.spreadBy(
      graft.ingest.Events.raw(spark, dir), col("user_id"))
    // The sketch aggregates in its OWN branch, joined back on the
    // |event_types|-row key: fusing it with countDistinct puts both
    // under one Expand plan whose first-phase groups are (type, USER) —
    // allocating a 12 KB rsd=0.01 HLL buffer per DISTINCT USER (~GBs of
    // partial state at harness scale, unbounded at 100 TB), the exact
    // opposite of the sketch's fixed-state purpose. Split, the sketch
    // keeps one buffer per event type and the measured cost drops ~2x.
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"))
    val sketch = ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01)
        .as("approx_users"))
    exact.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (col("exact_users") === 0 && col("approx_users") === 0 ||
          abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.05).as("within_pct"))
  }

  /** The 100 TB percentile path: Greenwald-Khanna sketches
    * (`approx_percentile`) next to the exact quantiles they approximate —
    * the [[approxDistinctUsers]] contract pattern applied to quantiles.
    * The GK buffer is fixed-size and mergeable (map-side partials, ~KB
    * per group through the shuffle) where exact `percentile` buffers
    * every value per group.
    *
    * GK at accuracy A guarantees the returned value's RANK is within
    * ε = 1/A of the target, so the contract verifies exactly that:
    * count the group's values strictly below / at-or-below the sketch
    * output (a second fixed-width pass joined back by the tiny
    * broadcast of per-group sketch results) and assert some rank in
    * [⌊(p−ε)n⌋, ⌈(p+ε)n⌉] holds the returned value. Unlike
    * value-bracketing by exact (p±kε) quantiles, the rank check is the
    * guarantee itself — valid at every group size (interpolation-vs-
    * data-value boundary effects bracketed checks out at small n). The
    * oracle recomputes n and the exact quantiles (bit-identical:
    * integer cents + one IEEE interpolation, the percentile_spend
    * precedent) and expects both contract columns literally TRUE. */
  def approxPercentileSpend(spark: SparkSession, dir: String): DataFrame = {
    val acc = 1000
    val eps = 1.0 / acc
    val e = graft.ingest.Events.raw(spark, dir)
      .withColumn("value_cents",
        expr("try_cast(round(value * 100, 0) as bigint)"))
      .select("event_type", "value_cents")
    val sk0 = e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // The rank base must count the VALUES the sketch ranked —
        // percentile/approx_percentile and the below/beloweq sums all
        // skip NULLs, so count(*) would inflate the window on nullable
        // data and fail the contract on correct GK output.
        count(col("value_cents")).as("n_valued"),
        expr("percentile(value_cents, 0.5)").as("p50_exact"),
        expr("percentile(value_cents, 0.9)").as("p90_exact"),
        expr(s"approx_percentile(value_cents, 0.5, $acc)").as("p50_gk"),
        expr(s"approx_percentile(value_cents, 0.9, $acc)").as("p90_gk"))
    // One row per group (metadata-scale): collect once and rebuild as a
    // local frame, or the aggregate — including exact percentile, which
    // buffers every group value — would execute twice (once under the
    // ranks broadcast, once in the final join).
    val sk = spark.createDataFrame(
      java.util.Arrays.asList(sk0.collect(): _*), sk0.schema)
    val ranks = e
      .join(broadcast(sk.select("event_type", "p50_gk", "p90_gk")),
        Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value_cents") < col("p50_gk"), 1L).otherwise(0L))
          .as("below50"),
        sum(when(col("value_cents") <= col("p50_gk"), 1L).otherwise(0L))
          .as("beloweq50"),
        sum(when(col("value_cents") < col("p90_gk"), 1L).otherwise(0L))
          .as("below90"),
        sum(when(col("value_cents") <= col("p90_gk"), 1L).otherwise(0L))
          .as("beloweq90"))
    // The returned value occupies ranks (below, beloweq]; the GK window
    // [⌊(p−ε)n⌋, ⌈(p+ε)n⌉] must intersect it.
    def within(p: Double, below: String, beloweq: String) = {
      val lo = floor((lit(p) - eps) * col("n_valued"))
      val hi = ceil((lit(p) + eps) * col("n_valued"))
      // Vacuously TRUE when the group has no values at all: the sketch
      // returns NULL and there is no rank guarantee to fail (the oracle
      // emits literal TRUE for every group).
      col("n_valued") === 0 || (col(beloweq) >= lo && col(below) < hi)
    }
    sk.join(ranks, Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        col("p50_exact"), col("p90_exact"),
        within(0.5, "below50", "beloweq50").as("p50_within"),
        within(0.9, "below90", "beloweq90").as("p90_within"))
  }

  /** Trailing-7-day per-user purchase spend, one row per purchase: a
    * RANGE window frame over integer µs event time (rowsBetween counts
    * rows; rangeBetween bounds the ORDER BY value — the only way to
    * express "last 7 days" when event density varies). RANGE frames
    * include all ties of the current timestamp, so the result is
    * deterministic even under duplicate timestamps. One shuffle on
    * user_id; the frame is evaluated with a sliding aggregate, not
    * per-row rescans. */
  def rolling7dSpend(spark: SparkSession, dir: String): DataFrame = {
    val sevenDaysUs = 7L * 24 * 3600 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-sevenDaysUs, 0)
    graft.ingest.Events.raw(spark, dir)
      .filter(col("event_type") === "purchase")
      .transform(graft.ingest.Events.withTsUs)
      .withColumn("value_cents",
        expr("try_cast(round(value * 100, 0) as bigint)"))
      .withColumn("spend_7d_cents", sum(col("value_cents")).over(w))
      .withColumn("n_purchases_7d", count(lit(1)).over(w))
      .select("user_id", "event_id", "ts_us", "value_cents",
        "spend_7d_cents", "n_purchases_7d")
  }
}
