package graft

import graft.ingest.Events
import graft.ops.TableDiff
import graft.runtime.{ChangeLog, Incremental, Pipeline}
import graft.streaming.SilverLoop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CDC contract of the incremental chain: every gold upsert
  * publishes a per-batch change entry, and the ACCUMULATED log between
  * two chain states replays to exactly the diff of those states —
  * `ChangeLog.netDiff(log(t0..t1])` equals
  * `TableDiff.diff(snapshot(t0), snapshot(t1))` cell-for-cell, and
  * `ChangeLog.replay(snapshot(t0), log(t0..t1])` reproduces
  * `snapshot(t1)` — across four bronze batches on real sf0.001 events,
  * including a REDELIVERED batch (silver unchanged ⇒ every gold's log
  * entry is empty) and a late re-stamped event that DELETES a
  * (datetime, user) gold grain (the log carries the `removed` row).
  * One-entry spans of those logs take the entry as it is
  * ([[ChangeLog.net]], [[ChangeLog.snapshotAt]]): the same net as the
  * general collapse, the same snapshot as the frozen one; and the gold
  * join view refreshed over a multi-entry span equals its recompute.
  * Snapshots are frozen table reads — the endpoint-snapshot role
  * `Incremental.readAsOf` plays for batch-logged tables, taken here by
  * materializing the merge-maintained table after each batch. */
class ChangeLogSpec extends SparkSpec {

  /** Silver plus the six chain golds and their row keys; the sketch
    * gold is compared at its CONTRACT grain (datetime, dau_est) —
    * serialized sketch bytes are build-order-dependent, the estimate
    * is not. Silver's key is the session grain (Sessionize.SessionKey)
    * — its MERGE is the reference operation whose effects a consumer
    * cannot otherwise see. */
  private val golds = Seq(
    ("silver_sessions", graft.silver.Sessionize.SessionKey),
    ("gold_user_daily", Seq("datetime", "user_id")),
    ("gold_episode_daily", Seq("datetime", "webtoon_id", "episode_id")),
    ("gold_webtoon_daily", Seq("datetime", "webtoon_id")),
    ("gold_platform_device_daily",
      Seq("datetime", "platform", "device", "browser")),
    ("gold_country_daily", Seq("datetime", "country")),
    ("gold_user_sketch", Seq("datetime")))

  private def freeze(wh: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$wh/$table")
    val proj =
      if (table == "gold_user_sketch")
        df.select(col("datetime"), col("dau_est"))
      else df
    // Materialized: later batches swap the same files a lazy plan
    // would re-read — the snapshot must be the state at THIS batch.
    proj.localCheckpoint()
  }

  private def assertSame(got: DataFrame, exp: DataFrame,
                         what: String): Unit = {
    val cols = exp.columns.sorted.map(col).toSeq
    // Materialize before exceptAll: comparing two netDiff/TableDiff
    // plans directly makes Catalyst's constraint propagation inline
    // the ~40 aliased case-when/struct-field expressions into the
    // anti-join's null-safe equality constraints on BOTH sides — an
    // exponential blowup that OOMs an 8g driver. Checkpointed inputs
    // reduce the comparison to two flat scans.
    val g = got.select(cols: _*).localCheckpoint()
    val e = exp.select(cols: _*).localCheckpoint()
    assert(g.exceptAll(e).isEmpty && e.exceptAll(g).isEmpty,
      s"$what diverged")
  }

  test("per-batch gold change logs replay to the endpoint snapshot " +
      "diff across 4 batches, incl. a redelivery and a deletion") {
    // First 10 days only: the chain re-derives silver + six golds per
    // batch, and four batches over the full sf0.001 span is suite-heavy
    // (IncrementalPipelineSpec already proves the chain at full span —
    // this spec proves the LOG, which 10 days exercise completely).
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val allDts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime)
    assert(allDts.length >= 10)
    val dts = allDts.take(10)
    val raw = allRaw.filter(to_date(col("ts")) <= lit(dts.last)).persist()
    val cut = dts(dts.length - 2)
    val bronze = tmpDir("cl-bronze")
    val wh = tmpDir("cl-wh")

    // Batch 1: history before the cut.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) < lit(cut)), 1L)
    var wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    assert(wm.contains(1L))
    val snap1 = golds.map { case (t, _) => t -> freeze(wh, t) }.toMap
    // The gold join view, seeded here and refreshed only after batch 4:
    // its refresh then reads a multi-entry span of each log.
    SilverLoop.refreshGoldJoinView(spark, wh)

    // Batch 2: the remaining days.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) >= lit(cut)), 2L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm.contains(2L))
    val snap2 = golds.map { case (t, _) => t -> freeze(wh, t) }.toMap

    // Batch 3: REDELIVERY — the first date's events arrive again,
    // byte-identical. Silver converges to itself, so every gold's
    // change entry for this batch must be EMPTY.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) === lit(dts(0))), 3L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm.contains(3L))

    // Batch 4: DELETION — pick a (user, date) whose activity is a
    // single event (not on the first/last date, so halos stay inside
    // the data range) and redeliver that event re-stamped +2 days:
    // keep-latest adopts the later version, the user's rows move off
    // the date entirely, and the (date, user) gold grain must DIE.
    val singleton = raw
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("eid"))
      .filter(col("n") === 1 &&
        col("d") > lit(dts(1)) && col("d") < lit(dts(dts.length - 3)))
      .orderBy(col("user_id"), col("d"))
      .limit(1).collect()
    assert(singleton.nonEmpty, "no singleton (user, date) in sf0.001")
    val delUser = singleton.head.getLong(0)
    val delDate = singleton.head.getDate(1)
    val delEid = singleton.head.getLong(3)
    Incremental.appendBatch(spark, bronze,
      raw.filter(col("event_id") === delEid)
        .withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS")), 4L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm.contains(4L))
    val snapF = golds.map { case (t, _) => t -> freeze(wh, t) }.toMap

    for ((table, keys) <- golds) {
      val log = ChangeLog.readLog(spark, s"$wh/$table")
        .getOrElse(fail(s"$table has no change log"))

      // Redelivery ⇒ empty entry (batch 3 recomputed identical rows).
      assert(log.filter(col("batch_id") === 3L).isEmpty,
        s"$table logged rows for the no-op redelivery batch")

      // Accumulated log over (1, 4] == endpoint-snapshot diff.
      val span = log.filter(col("batch_id") > 1L)
      val endpoint = TableDiff
        .diff(snap1(table), snapF(table), keys)
        .filter(col("diff_status") =!= "unchanged")
      assertSame(ChangeLog.netDiff(span, keys), endpoint,
        s"$table netDiff vs endpoint diff")

      // And the log REPLAYS the t0 snapshot to the t1 snapshot.
      assertSame(ChangeLog.replay(snap1(table), span, keys),
        snapF(table), s"$table replay")
    }

    // One-entry spans take the entry as it is: every one-entry span's
    // net equals the general collapse, and snapshotAt over a one-entry
    // span equals the frozen snapshot (as the multi-entry one does).
    for ((table, keys) <- golds) {
      val dir = s"$wh/$table"
      val log = ChangeLog.readLog(spark, dir).get
      val ids = Incremental.batches(spark, ChangeLog.logDir(dir))
      val spans = (0L +: ids).zip(ids).flatMap { case (prev, id) =>
        Seq(prev -> id, (id - 1L) -> id).distinct }
      for ((p0, p1) <- spans) {
        val span = ChangeLog.span(spark, dir, p0, p1)
        assert(span.single, s"$table ($p0, $p1] is one entry")
        assertSame(ChangeLog.net(span, keys), ChangeLog.netDiff(
            log.filter(col("batch_id") > p0 && col("batch_id") <= p1), keys),
          s"$table one-entry net over ($p0, $p1]")
      }
      // Positions 1 and 2 (= 3: the redelivery changed nothing): at
      // least one of the two spans to the head is a single entry.
      val at = Seq(1L -> snap1(table), 2L -> snap2(table))
      assert(at.exists(p => ChangeLog.span(spark, dir, p._1).single),
        s"$table has no one-entry span to the head")
      for ((p, snap) <- at)
        assertSame(ChangeLog.snapshotAt(spark, dir, keys, p), snap,
          s"$table snapshotAt($p)")
    }

    // The join view refreshed over the (1, 4] spans equals its
    // recompute from the current golds.
    SilverLoop.refreshGoldJoinView(spark, wh)
    assertSame(
      spark.read.parquet(s"$wh/gold_episode_webtoon_jview")
        .drop("_as_of_f", "_as_of_d0"),
      spark.read.parquet(s"$wh/gold_episode_daily")
        .join(spark.read.parquet(s"$wh/gold_webtoon_daily"),
          Seq("datetime", "webtoon_id"), "left")
        .groupBy(col("datetime"))
        .agg(sum(col("sessions")).as("ep_sessions"),
          sum(coalesce(col("total_sessions"), lit(0L)))
            .as("wt_sessions_fanout"),
          count(lit(1)).as("n_rows")),
      "join view after a multi-entry span")

    // The deletion surfaced as a `removed` row for the vanished grain.
    val userLog = ChangeLog.readLog(spark, s"$wh/gold_user_daily").get
    assert(userLog.filter(col("batch_id") === 4L &&
        col("diff_status") === "removed" &&
        col("user_id") === delUser &&
        col("datetime") === lit(delDate)).count() == 1L,
      "the re-stamped event's vanished (date, user) grain was not " +
        "logged as removed")
  }
}
