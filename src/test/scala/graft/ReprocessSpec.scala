package graft

import graft.ingest.Events
import graft.runtime.{ChangeLog, Incremental, MaterializedView, Pipeline,
  StarJoinView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Logic-change reprocess ([[Pipeline.reprocessPublishing]]): a full
  * re-consume of bronze under REVISED logic must converge every table
  * to the new answer AND publish what changed as ordinary log entries
  * at fresh ids — so consumers replay/refresh across the logic change
  * with no re-seed, the contract the cdc_guard's refusal of blind
  * recomputes exists to protect. */
class ReprocessSpec extends SparkSpec {

  private def cells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  test("reprocess under a changed sessionization horizon publishes " +
      "the state flips; consumers replay and refresh across it; ids " +
      "stay monotonic and the chain resumes") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(4)
    val raw = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
      .localCheckpoint()
    val bronze = tmpDir("rp-bronze")
    val wh = tmpDir("rp-wh")
    val silverDir = s"$wh/silver_sessions"

    // Horizon A sits just past the data: sessions ending within the
    // timeout window of it are IN_PROGRESS. Horizon B is far past:
    // they all flip to a terminal state — a real logic change.
    val maxUs = raw.transform(Events.withTsUs)
      .agg(max(col("ts_us"))).head().getLong(0)
    val asOfA = maxUs + 1L
    val asOfB = maxUs + 100L * Events.TimeoutUs

    var wm: Option[Long] = None
    Seq((dts(0), dts(1)), (dts(2), dts(3))).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        Incremental.appendBatch(spark, bronze,
          raw.filter(to_date(col("ts")) >= lit(lo) &&
            to_date(col("ts")) <= lit(hi)), i + 1L)
        wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm,
          asOfUs = asOfA)
    }
    assert(wm.contains(2L))
    val inProgressA = spark.read.parquet(silverDir)
      .filter(col("session_state") === "IN_PROGRESS").count()
    assert(inProgressA > 0,
      "fixture must leave sessions in progress at horizon A")

    // A registered consumer mid-stream: the per-country view at
    // position 2, and the position-2 silver snapshot a replay
    // consumer would hold.
    val viewDir = s"$wh/view_country"
    def viewProject(d: DataFrame): DataFrame =
      d.select(col("country"), col("n_events"), col("sum_value_cents"))
    def refreshView(): Long = StarJoinView.refresh(spark,
      silverDir, Nil, viewDir, graft.silver.Sessionize.SessionKey,
      Seq("country"),
      Seq("n_events", "sum_value_cents").map(m => m -> col(m))).head
    assert(refreshView() === 2L)
    val snapAt2 = spark.read.parquet(silverDir).localCheckpoint()

    // The logic change, published.
    val wmR = Pipeline.reprocessPublishing(spark, bronze, wh,
      asOfUs = asOfB)
    assert(wmR.contains(2L), "reprocess re-consumes to the same endpoint")
    val silverNow = spark.read.parquet(silverDir).localCheckpoint()
    assert(silverNow
      .filter(col("session_state") === "IN_PROGRESS").isEmpty,
      "horizon B must terminate every session")

    // Fresh ids strictly past the revised history.
    val logIds = Incremental.batches(spark, ChangeLog.logDir(silverDir))
    assert(logIds.max > 2L, s"reprocess ids must be fresh, got $logIds")

    // A replay consumer at position 2 crosses the logic change.
    val span = ChangeLog.readSince(spark, silverDir, Some(2L)).get
    assert(cells(ChangeLog.replay(snapAt2, span,
        graft.silver.Sessionize.SessionKey)) === cells(silverNow),
      "replay across the reprocess diverged")

    // The registered view refreshes across it — NO invalidation, NO
    // re-seed, just one more span of signed deltas.
    assert(!MaterializedView.isInvalid(spark, viewDir))
    refreshView()
    val expView = viewProject(silverNow).groupBy(col("country"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value_cents")).as("sum_value_cents"),
        count(lit(1)).as("n_rows"))
    assert(cells(spark.read.parquet(viewDir).drop("_as_of_f", "gv_pt"))
      === cells(expView), "view refresh across the logic change")

    // The incremental chain resumes cleanly past the reprocess, its
    // ids landing after the reprocess entries.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) === lit(dts.last))
        .withColumn("event_id", col("event_id") + 5000000L), 3L)
    val wm2 = Pipeline.runDailyIncremental(spark, bronze, wh, wm,
      asOfUs = asOfB)
    assert(wm2.contains(3L))
    val idsAfter = Incremental.batches(spark, ChangeLog.logDir(silverDir))
    assert(idsAfter.max > logIds.max,
      "post-reprocess chain ids must stay monotonic")
    // And the replay contract holds over the WHOLE revised history.
    assert(cells(ChangeLog.replay(snapAt2,
        ChangeLog.readSince(spark, silverDir, Some(2L)).get,
        graft.silver.Sessionize.SessionKey)) ===
      cells(spark.read.parquet(silverDir)),
      "replay through reprocess + resumed chain diverged")
  }
}
