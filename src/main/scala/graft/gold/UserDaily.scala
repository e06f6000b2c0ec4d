package graft.gold

import graft.util.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-user daily feature vector (reference gold_user_daily_metrics.py).
  * Exercises A2–A9, A11, W3, J1, J2 from SURVEY.md §2.
  *
  * Plan shape: one shuffle for the main (datetime, user_id) aggregate; the
  * lag-window side pipeline shuffles on user_id then re-aggregates; the
  * repeat-reads side pipeline is a two-level aggregate. Both side results are
  * tiny relative to sessions, and the joins back are on the aggregate's own
  * key — AQE picks broadcast at runtime for the small sides.
  */
object UserDaily {

  /** Distinct counts run as `size(collect_set(...))` (`d` below):
    * identical semantics to exact `countDistinct` (both drop nulls;
    * set size = distinct count) — the bucketed twin proved the
    * equivalence against the shared oracle for a full round before the
    * plain path adopted it — but WITHOUT
    * the Expand pipeline `RewriteDistinctAggregates` plans for five
    * distincts, which multiplies every session row ×6 through the
    * shuffle AND discards the child's partitioning (the flagged
    * blow-up-at-100× shape the country/webtoon cascades removed in the
    * previous round). Set state is bounded: the group is one user's
    * day, catalog-behavior-sized at any corpus scale. Exact
    * `countDistinct` coverage (§2 A2–A4) lives on in
    * `orders_daily_distinct` and the funnel/path queries. */
  def build(sessions: DataFrame): DataFrame = {
    def d(c: Column): Column = size(collect_set(c)).cast("bigint")
    // A2/A3/A4/A5/A6/A8 main aggregate.
    val base = sessions.groupBy(col("datetime"), col("user_id")).agg(
      d(col("session_id")).as("total_sessions"),
      d(struct(col("webtoon_id"), col("episode_id")))
        .as("content_items"),
      d(col("webtoon_id")).as("webtoons_read"),
      d(when(col("is_complete") === 1, col("session_id")))
        .as("completed_sessions"),
      d(when(col("is_exit") === 1, col("session_id")))
        .as("exit_sessions"),
      count(lit(1)).as("n_rows"),
      sum(when(col("is_complete") === 0, 1).otherwise(0))
        .cast("bigint").as("incomplete_rows"),
      sum(col("is_complete")).cast("bigint").as("complete_rows"),
      sum(col("duration_ms")).as("dur_ms_sum"),
      sum(col("max_value_cents")).as("mv_cents_sum"))
      .withColumn("completion_rate",
        Num.ratio(col("complete_rows"), col("n_rows"), 4))
      .withColumn("avg_duration_ms",
        Num.ratio(col("dur_ms_sum"), col("n_rows"), 2))
      .withColumn("avg_max_value",
        Num.r(col("mv_cents_sum").cast("double") / (col("n_rows") * 100), 2))
      .withColumn("sessions_per_webtoon",
        Num.guardedRatio(col("total_sessions"), col("webtoons_read"), 2))
      .drop("dur_ms_sum", "mv_cents_sum", "complete_rows")

    // W3: previous-session-end lag → return interval, averaged per user-day.
    // Fully deterministic ordering (ties broken by the whole session key).
    val byUser = Window.partitionBy(col("user_id")).orderBy(
      col("start_us"), col("end_us"), col("session_id"), col("webtoon_id"),
      col("episode_id"), col("platform"), col("device"), col("browser"))
    val intervals = sessions
      .withColumn("interval_us",
        greatest(col("start_us") - lag(col("end_us"), 1).over(byUser), lit(0L)))
      .groupBy(col("datetime"), col("user_id"))
      .agg(count(col("interval_us")).as("n_iv"),
        sum(col("interval_us")).as("s_iv"))
      .withColumn("avg_return_interval_ms",
        when(col("n_iv") > 0,
          Num.r(col("s_iv") / (lit(1000.0) * col("n_iv")), 2)).otherwise(0.0))
      .select(col("datetime"), col("user_id"), col("avg_return_interval_ms"))

    // A9: two-level aggregate — repeat completed reads of the same episode.
    val repeats = sessions.filter(col("is_complete") === 1)
      .groupBy(col("datetime"), col("user_id"), col("webtoon_id"),
        col("episode_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("datetime"), col("user_id"))
      .agg(sum(greatest(col("cnt") - 1, lit(0L))).cast("bigint")
        .as("repeat_reads"))

    base
      .join(intervals, Seq("datetime", "user_id"), "left")   // J1
      .join(repeats, Seq("datetime", "user_id"), "left")     // J2
      .na.fill(Map("repeat_reads" -> 0L, "avg_return_interval_ms" -> 0.0))
  }
}
