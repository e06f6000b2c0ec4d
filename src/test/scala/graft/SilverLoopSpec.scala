package graft

import graft.ingest.ReferenceEvents
import graft.silver.{Dedup, Sessionize}
import graft.streaming.{BronzeIngest, SilverLoop}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end streaming loop on the reference wire format: micro-batches →
  * bronze appends → incremental silver updates, surviving a restart, with
  * silver equal to the batch recompute of everything ingested. */
class SilverLoopSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: String, user: Int, session: String, ts: String,
                 etype: String, ratio: Double): String =
    s"""{"event_id":"$id","user_id":$user,"webtoon_id":"webtoon_1",
       |"episode_id":"ep_1","session_id":"$session","utimestamptz":"$ts",
       |"local_timestamptz":"$ts","event_type":"$etype","country":"KR",
       |"platform":"ios","device":"phone","browser":"chrome",
       |"scroll_ratio":$ratio,"scroll_event_count":1,"dwell_time_ms":1000}"""
      .stripMargin.replace("\n", "")

  private val toSilver: DataFrame => DataFrame = raw =>
    Sessionize.sessionsFromProvided(
      Dedup.keepLatest(ReferenceEvents.adapt(raw), key = "event_id"))

  test("streaming loop maintains silver == batch recompute across batches") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("loop-bronze")
    val silver = tmpDir("loop-silver")
    val wmPath = s"${tmpDir("loop-wm")}/wm"
    val ckpt = tmpDir("loop-ckpt")

    val batch1 = Seq(
      ev("e1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("e2", 1, "s1", "2024-01-01T10:00:40+00:00", "scroll", 0.5))
    val batch2 = Seq(
      ev("e3", 1, "s1", "2024-01-01T10:01:20+00:00", "complete", 1.0),
      ev("e4", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))

    val stream = MemoryStream[String]
    stream.addData(batch1)
    SilverLoop.start(BronzeIngest.parse(stream.toDF()), bronze, silver,
      wmPath, ckpt, toSilver, availableNow = true).awaitTermination()
    assert(spark.read.parquet(silver).count() == 1) // s1 in progress

    // restart the query from the checkpoint with more data (late complete)
    stream.addData(batch2)
    SilverLoop.start(BronzeIngest.parse(stream.toDF()), bronze, silver,
      wmPath, ckpt, toSilver, availableNow = true).awaitTermination()

    val got = spark.read.parquet(silver)
    val expected = toSilver(BronzeIngest.parse((batch1 ++ batch2).toDF("value")))
    val cols = expected.columns.sorted.map(col).toSeq
    assert(got.select(cols: _*).exceptAll(expected.select(cols: _*)).isEmpty
      && expected.select(cols: _*).exceptAll(got.select(cols: _*)).isEmpty)
    val s1 = got.filter(col("session_id") === "s1").collect().head
    assert(s1.getAs[String]("session_state") == "COMPLETE")
    assert(s1.getAs[Long]("n_events") == 3)
  }

  test("streamed silver feeds the production bucketed layout and a gold " +
      "read (the C5 chain from a live stream)") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("prod-bronze")
    val silver = tmpDir("prod-silver")
    val wmPath = s"${tmpDir("prod-wm")}/wm"
    val ckpt = tmpDir("prod-ckpt")

    // Two users, two days, a completed and an in-progress session —
    // enough shape for the gold aggregate to have real rows.
    val batches = Seq(
      ev("p1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("p2", 1, "s1", "2024-01-01T10:00:40+00:00", "scroll", 0.5),
      ev("p3", 1, "s1", "2024-01-01T10:01:20+00:00", "complete", 1.0),
      ev("p4", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0),
      ev("p5", 2, "s3", "2024-01-02T09:00:00+00:00", "enter", 0.0),
      ev("p6", 2, "s3", "2024-01-02T09:00:30+00:00", "complete", 1.0))
    val stream = MemoryStream[String]
    stream.addData(batches)
    SilverLoop.start(BronzeIngest.parse(stream.toDF()), bronze, silver,
      wmPath, ckpt, toSilver, availableNow = true).awaitTermination()

    // Pipeline's layout write off the STREAMED silver (not a batch
    // recompute): bucketBy(user_id), then the layout-specialized user
    // gold over the bucketed table.
    val streamedSilver = spark.read.parquet(silver)
    graft.runtime.Bucketed.writeSilver(spark, "silver_loop_bucketed",
      streamedSilver)
    val gold = graft.runtime.Bucketed.userDaily(spark, "silver_loop_bucketed")

    // Same rows as the gold over the batch-recomputed silver.
    val expected = graft.gold.UserDaily.build(
      toSilver(BronzeIngest.parse(batches.toDF("value"))))
    val cols = expected.columns.sorted.map(col).toSeq
    assert(gold.count() > 0)
    assert(gold.select(cols: _*).exceptAll(expected.select(cols: _*)).isEmpty
      && expected.select(cols: _*).exceptAll(gold.select(cols: _*)).isEmpty)

    // The layout property survives the streaming origin: the whole gold
    // job plans with zero shuffle exchanges over the bucketed scan.
    val plan = gold.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.size
    assert(shuffles == 0,
      s"streamed->bucketed gold must be exchange-free:\n$plan")
  }

  test("streamed incremental chain: silver AND all six golds == batch " +
      "recompute across three micro-batches including a re-stamped " +
      "redelivery that moves a session across a date boundary") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("chain-bronze")
    val wh = tmpDir("chain-wh")
    val wmPath = s"${tmpDir("chain-wm")}/wm"
    val ckpt = tmpDir("chain-ckpt")

    val b1 = Seq(
      ev("r1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("r2", 1, "s1", "2024-01-01T10:00:40+00:00", "scroll", 0.5),
      // u2's ONLY event — the sole 2024-01-01 row besides u1's.
      ev("r4", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))
    val b2 = Seq(
      ev("r3", 1, "s1", "2024-01-01T10:01:20+00:00", "complete", 1.0),
      ev("r5", 3, "s4", "2024-01-02T09:00:00+00:00", "enter", 0.0))
    // r4 REDELIVERED re-stamped one day later: keep-latest keeps this
    // copy, so u2's silver rows (and the (2024-01-01, u2) gold grains)
    // must MOVE to 01-02 — the deletion-propagation path, driven from
    // the stream.
    val b3 = Seq(
      ev("r4", 2, "s2", "2024-01-02T11:00:00+00:00", "enter", 0.0))

    val stream = MemoryStream[String]
    for (b <- Seq(b1, b2, b3)) { // restart from checkpoint per batch
      stream.addData(b)
      SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
        wh, wmPath, ckpt, toSilver, availableNow = true,
        keyIndex = true).awaitTermination()
    }

    // keyIndex = true: the loop keeps the bronze user→batch index
    // current with the high watermark, so the 100 TB erasure path
    // could run right now without a catch-up scan.
    val idx = graft.runtime.KeyIndex.dirFor(bronze)
    assert(graft.runtime.KeyIndex.watermark(spark, idx) ===
      graft.runtime.Incremental.highWatermark(spark, bronze))
    Seq(1L, 2L, 3L).foreach { u =>
      val got = graft.runtime.KeyIndex.lookup(spark, idx, u)
        .select(col("batch_id").cast("long")).collect()
        .map(_.getLong(0)).toSet
      val exp = spark.read.parquet(bronze)
        .filter(col("user_id") === u)
        .select(col("batch_id").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSet
      assert(got === exp, s"streamed index footprint diverged for u$u")
    }

    val fullSilver = toSilver(
      BronzeIngest.parse((b1 ++ b2 ++ b3).toDF("value")))
    def same(dir: String, exp: DataFrame, what: String): Unit = {
      val cols = exp.columns.sorted.map(col).toSeq
      val got = spark.read.parquet(dir).select(cols: _*)
      val e = exp.select(cols: _*)
      assert(got.exceptAll(e).isEmpty && e.exceptAll(got).isEmpty,
        s"$what diverged from the batch recompute")
    }
    same(s"$wh/silver_sessions", fullSilver, "silver")
    same(s"$wh/gold_user_daily",
      graft.gold.UserDaily.build(fullSilver), "user gold")
    same(s"$wh/gold_episode_daily",
      graft.gold.EpisodeDaily.build(fullSilver), "episode gold")
    same(s"$wh/gold_webtoon_daily",
      graft.gold.WebtoonDaily.build(fullSilver,
        graft.gold.EpisodeDaily.build(fullSilver)), "webtoon gold")
    same(s"$wh/gold_platform_device_daily",
      graft.gold.PlatformDeviceDaily.build(fullSilver), "platform gold")
    same(s"$wh/gold_country_daily",
      graft.gold.CountryDaily.build(fullSilver), "country gold")
    same(s"$wh/gold_user_sketch",
      graft.runtime.SketchGold.silverDailySketch(fullSilver)
        .select(col("datetime"), col("dau_est")), "sketch gold")

    // The moved session is really gone from its original day.
    assert(spark.read.parquet(s"$wh/gold_user_daily")
      .filter(col("datetime") === "2024-01-01" && col("user_id") === 2)
      .count() == 0L, "stale (2024-01-01, u2) gold grain survived")
    assert(spark.read.parquet(s"$wh/silver_sessions")
      .filter(col("datetime") === "2024-01-01" && col("user_id") === 2)
      .count() == 0L, "stale (2024-01-01, u2) silver rows survived")
  }

  test("logRetention bounds the streamed chain's change logs: old " +
      "entries fold into the net base, replay-from-origin preserved") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("ret-bronze")
    val wh = tmpDir("ret-wh")
    val wmPath = s"${tmpDir("ret-wm")}/wm"
    val ckpt = tmpDir("ret-ckpt")
    val b1 = Seq(
      ev("r1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("r2", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))
    val b2 = Seq(
      ev("r3", 1, "s1", "2024-01-01T10:00:40+00:00", "complete", 1.0),
      ev("r4", 3, "s3", "2024-01-02T09:00:00+00:00", "enter", 0.0))
    val b3 = Seq(
      ev("r5", 2, "s4", "2024-01-02T11:00:00+00:00", "enter", 0.0))

    val stream = MemoryStream[String]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b)
      SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
        wh, wmPath, ckpt, toSilver, availableNow = true,
        logRetention = Some(1L)).awaitTermination()
    }

    // Micro-batches 0,1,2: after the third update (watermark 2,
    // retention 1) everything up to batch 1 must be ONE base entry.
    val goldDir = s"$wh/gold_user_daily"
    import graft.runtime.{ChangeLog, Incremental}
    assert(Incremental.batches(spark, ChangeLog.logDir(goldDir))
      === Seq(1L, 2L), "log prefix did not fold into the base entry")
    assert(ChangeLog.collapseBoundary(spark, goldDir).contains(1L))

    // The collapsed log still replays the table from its ORIGIN (the
    // first entry recorded creation-from-empty, and the fold nets it
    // forward) — the bounded log loses no replay power at the head.
    val table = spark.read.parquet(goldDir)
    val replayed = ChangeLog.replay(table.filter(lit(false)),
      ChangeLog.readSince(spark, goldDir, None).get,
      Seq("datetime", "user_id"))
    val cols = table.columns.sorted.map(col).toSeq
    assert(replayed.select(cols: _*)
        .exceptAll(table.select(cols: _*)).isEmpty &&
      table.select(cols: _*)
        .exceptAll(replayed.select(cols: _*)).isEmpty,
      "replay from origin diverged after retention collapse")

    // A consumer left behind the boundary is refused, never
    // double-served.
    intercept[IllegalArgumentException] {
      ChangeLog.readSince(spark, goldDir, Some(0L)).get.count()
    }
  }

  test("scd2Store: the loop maintains the streamed user-day dimension " +
      "— incremental refreshes across micro-batches == the rebuild, " +
      "a moved session's old-day version tombstone-closed") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("scd2s-bronze")
    val wh = tmpDir("scd2s-wh")
    val wmPath = s"${tmpDir("scd2s-wm")}/wm"
    val ckpt = tmpDir("scd2s-ckpt")
    val b1 = Seq(
      ev("r1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("r4", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))
    val b2 = Seq(
      ev("r2", 1, "s1", "2024-01-01T10:00:40+00:00", "complete", 1.0))
    // r4 redelivered re-stamped a day later: u2's session MOVES dates
    // — in the dimension that is a tombstone on the 01-01 version and
    // a fresh version on 01-02.
    val b3 = Seq(
      ev("r4", 2, "s2", "2024-01-02T11:00:00+00:00", "enter", 0.0))

    val stream = MemoryStream[String]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b)
      SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
        wh, wmPath, ckpt, toSilver, availableNow = true,
        scd2Store = true).awaitTermination()
    }

    import graft.runtime.{ChangeLog, Scd2Store}
    val goldDir = s"$wh/gold_user_daily"
    val store = s"$wh/gold_user_daily_scd2"
    val key = Seq("datetime", "user_id")
    def cells(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
        .toSeq.sortBy(_.mkString("|"))
    }
    assert(cells(Scd2Store.read(spark, store)) ===
      cells(ChangeLog.scd2(spark, goldDir, key, basePosition = -1L)),
      "streamed store diverged from the from-scratch rebuild")

    // u2's 01-01 version exists, is CLOSED (tombstoned by the move,
    // not superseded in place), and its 01-02 successor is current.
    val u2 = Scd2Store.read(spark, store).filter(col("user_id") === 2)
    assert(u2.filter(col("datetime") === "2024-01-01" &&
      !col("is_current") && col("valid_to").isNotNull).count() === 1L)
    assert(u2.filter(col("datetime") === "2024-01-02" &&
      col("is_current")).count() === 1L)
    // The dimension answers the as-of question the live table cannot:
    // at position 1 the session sat on 01-01.
    val asOf1 = u2.filter(col("valid_from") <= 1L &&
      (col("valid_to").isNull || col("valid_to") > 1L))
    assert(asOf1.count() === 1L &&
      asOf1.head().getAs[java.sql.Date]("datetime").toString ===
        "2024-01-01")
  }

  test("scd2HistoryRetention: the loop archives versions closed more " +
      "than k positions back — live buckets stay at live-set size, " +
      "readHistory still equals the from-scratch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("scd2r-bronze")
    val wh = tmpDir("scd2r-wh")
    val wmPath = s"${tmpDir("scd2r-wm")}/wm"
    val ckpt = tmpDir("scd2r-ckpt")
    // The scd2Store shapes: a version chain (u1's day recomputed per
    // batch) plus a date MOVE (u2's tombstone + new-day version).
    val b1 = Seq(
      ev("h1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("h4", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))
    val b2 = Seq(
      ev("h2", 1, "s1", "2024-01-01T10:00:40+00:00", "scroll", 0.5))
    val b3 = Seq(
      ev("h3", 1, "s1", "2024-01-01T10:01:20+00:00", "complete", 1.0),
      ev("h4", 2, "s2", "2024-01-02T11:00:00+00:00", "enter", 0.0))

    val stream = MemoryStream[String]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b)
      SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
        wh, wmPath, ckpt, toSilver, availableNow = true,
        scd2Store = true, scd2HistoryRetention = Some(1L))
        .awaitTermination()
    }

    import graft.runtime.{ChangeLog, Incremental, Scd2Store}
    val goldDir = s"$wh/gold_user_daily"
    val store = s"$wh/gold_user_daily_scd2"
    val key = Seq("datetime", "user_id")
    def cells(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
        .toSeq.sortBy(_.mkString("|"))
    }
    // Full history preserved across the split...
    assert(cells(Scd2Store.readHistory(spark, store)) ===
      cells(ChangeLog.scd2(spark, goldDir, key, basePosition = -1L)),
      "live ∪ archive diverged from the from-scratch rebuild")
    // ...while the LIVE buckets hold only versions that closed within
    // the last k=1 positions (cutoff = pos) or are still open.
    val pos = Incremental.loadWatermark(spark, store + "_pos").get
    assert(spark.read.option("mergeSchema", "true").parquet(store)
      .filter(col("is_open") && col("valid_to") < lit(pos))
      .isEmpty, "live buckets must not keep versions past the cutoff")
    // The archive is non-trivial: u1's superseded day versions and
    // u2's moved-off 01-01 version live there.
    assert(!spark.read.parquet(store + "_archive").isEmpty,
      "the loop must actually have archived closed versions")
  }

  test("joinView: the loop maintains the gold→gold join view from " +
      "BOTH gold change logs — incremental across micro-batches == " +
      "the endpoint re-join, both consumers registered") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("jv-bronze")
    val wh = tmpDir("jv-wh")
    val wmPath = s"${tmpDir("jv-wm")}/wm"
    val ckpt = tmpDir("jv-ckpt")
    def evW(id: String, user: Int, session: String, ts: String,
            etype: String, ratio: Double, webtoon: String,
            episode: String): String =
      ev(id, user, session, ts, etype, ratio)
        .replace("\"webtoon_id\":\"webtoon_1\"",
          s""""webtoon_id":"$webtoon"""")
        .replace("\"episode_id\":\"ep_1\"",
          s""""episode_id":"$episode"""")
    val b1 = Seq(
      evW("j1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0,
        "webtoon_1", "ep_1"),
      evW("j2", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0,
        "webtoon_2", "ep_1"))
    // Both logs move: u1 completes (episode AND webtoon gold change),
    // u3 opens a second episode of webtoon_1 (a NEW episode grain —
    // through the join it also fans out webtoon_1's new totals).
    val b2 = Seq(
      evW("j3", 1, "s1", "2024-01-01T10:00:40+00:00", "complete", 1.0,
        "webtoon_1", "ep_1"),
      evW("j4", 3, "s3", "2024-01-01T12:00:00+00:00", "enter", 0.0,
        "webtoon_1", "ep_2"))
    // u2's session re-stamped a day later: the 01-01 grains REMOVE on
    // both sides (negative contributions through the join) and 01-02
    // grains appear.
    val b3 = Seq(
      evW("j2", 2, "s2", "2024-01-02T11:00:00+00:00", "enter", 0.0,
        "webtoon_2", "ep_1"))

    val stream = MemoryStream[String]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b)
      SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
        wh, wmPath, ckpt, toSilver, availableNow = true,
        joinView = true).awaitTermination()
    }

    def cells(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
        .toSeq.sortBy(_.mkString("|"))
    }
    val view = spark.read.parquet(s"$wh/gold_episode_webtoon_jview")
      .drop("_as_of_f", "_as_of_d0", "gv_pt")
    // The in-loop view is LEFT OUTER (the reference dependency shape);
    // mirror with a left re-join + the NULL-as-0 measure contract —
    // equal to the inner re-join while the chain keeps both golds in
    // lockstep, and still defined when they skew.
    val expected = spark.read.parquet(s"$wh/gold_episode_daily")
      .join(spark.read.parquet(s"$wh/gold_webtoon_daily"),
        Seq("datetime", "webtoon_id"), "left")
      .groupBy(col("datetime"))
      .agg(sum(col("sessions")).as("ep_sessions"),
        sum(coalesce(col("total_sessions"), lit(0L)))
          .as("wt_sessions_fanout"),
        count(lit(1)).as("n_rows"))
    assert(cells(view) === cells(expected),
      "streamed join view diverged from the endpoint re-join")
    // The view moved dates with the re-stamped session: 01-02 serves.
    assert(!view.filter(col("datetime") === "2024-01-02").isEmpty)
    // Both sides' registries hold the view's positions — retention
    // on EITHER gold log clamps behind it.
    import graft.runtime.Consumers
    assert(Consumers.list(spark, s"$wh/gold_episode_daily")
      .exists(_.name.startsWith("sjview-f-")))
    assert(Consumers.list(spark, s"$wh/gold_webtoon_daily")
      .exists(_.name.startsWith("sjview-d0-")))

    // PARTITIONED in-loop maintenance (round 16): the view is
    // hive-partitioned on datetime and a micro-batch touching ONLY
    // 01-02 must leave the 01-01 partition's files untouched — the
    // steady-state loop bill is O(spans + touched dates), not
    // O(|view|).
    val viewDir = s"$wh/gold_episode_webtoon_jview"
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p0101 = new org.apache.hadoop.fs.Path(
      s"$viewDir/datetime=2024-01-01")
    assert(fs.exists(p0101),
      "the in-loop view must be hive-partitioned on datetime")
    val mt0 = fs.getFileStatus(p0101).getModificationTime
    Thread.sleep(1100)
    val b4 = Seq(
      evW("j5", 4, "s4", "2024-01-02T09:00:00+00:00", "enter", 0.0,
        "webtoon_2", "ep_1"))
    stream.addData(b4)
    SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
      wh, wmPath, ckpt, toSilver, availableNow = true,
      joinView = true).awaitTermination()
    assert(fs.getFileStatus(p0101).getModificationTime === mt0,
      "an untouched date partition must not rewrite in the loop")
    val view2 = spark.read.parquet(viewDir)
      .drop("_as_of_f", "_as_of_d0")
    val expected2 = spark.read.parquet(s"$wh/gold_episode_daily")
      .join(spark.read.parquet(s"$wh/gold_webtoon_daily"),
        Seq("datetime", "webtoon_id"), "left")
      .groupBy(col("datetime"))
      .agg(sum(col("sessions")).as("ep_sessions"),
        sum(coalesce(col("total_sessions"), lit(0L)))
          .as("wt_sessions_fanout"),
        count(lit(1)).as("n_rows"))
    assert(cells(view2) === cells(expected2),
      "the partitioned in-loop view diverged after the 01-02 batch")
  }

  test("LEFT in-loop view: an episode grain whose webtoon-gold key " +
      "is absent serves null-extended (fanout 0) and retracts into " +
      "the joined figure when the key lands") {
    implicit val sqlCtx = spark.sqlContext
    val bronze = tmpDir("jvl-bronze")
    val wh = tmpDir("jvl-wh")
    val wmPath = s"${tmpDir("jvl-wm")}/wm"
    val ckpt = tmpDir("jvl-ckpt")
    val b1 = Seq(
      ev("l1", 1, "s1", "2024-01-01T10:00:00+00:00", "enter", 0.0),
      ev("l2", 2, "s2", "2024-01-01T11:00:00+00:00", "enter", 0.0))
    val stream = MemoryStream[String]
    stream.addData(b1)
    SilverLoop.startPipeline(BronzeIngest.parse(stream.toDF()), bronze,
      wh, wmPath, ckpt, toSilver, availableNow = true,
      joinView = true).awaitTermination()

    val epDir = s"$wh/gold_episode_daily"
    val wtDir = s"$wh/gold_webtoon_daily"
    val viewDir = s"$wh/gold_episode_webtoon_jview"
    def cells(d: DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
        .toSeq.sortBy(_.mkString("|"))
    }
    def viewNow: DataFrame = spark.read.parquet(viewDir)
      .drop("_as_of_f", "_as_of_d0")
    def expectedNow: DataFrame = spark.read.parquet(epDir)
      .join(spark.read.parquet(wtDir), Seq("datetime", "webtoon_id"),
        "left")
      .groupBy(col("datetime"))
      .agg(sum(col("sessions")).as("ep_sessions"),
        sum(coalesce(col("total_sessions"), lit(0L)))
          .as("wt_sessions_fanout"),
        count(lit(1)).as("n_rows"))
    def fanout(): Long = viewNow
      .filter(col("datetime") === "2024-01-01")
      .select(col("wt_sessions_fanout")).head().getLong(0)
    val fanout0 = fanout()

    // Plant the crash-between-gold-stages skew: an episode-gold batch
    // lands a NEW (01-01, webtoon_9) grain — no webtoon-gold row for
    // that key yet (the webtoon stage "crashed"). The LEFT view must
    // serve the grain null-extended: its sessions count, fanout 0.
    val ep0101 = spark.read.parquet(epDir)
      .filter(col("datetime") === "2024-01-01").localCheckpoint()
    val planted = ep0101.limit(1)
      .withColumn("webtoon_id", lit("webtoon_9"))
      .withColumn("episode_id", lit("ep_9"))
      .withColumn("sessions", lit(4L)).localCheckpoint()
    graft.runtime.ChangeLog.recordBatch(spark, epDir,
      Seq("datetime", "webtoon_id", "episode_id"), 50L)(
      graft.silver.MergeUpsert.replacePartitions(spark, epDir,
        ep0101.unionByName(planted),
        Seq(java.sql.Date.valueOf("2024-01-01"))))
    SilverLoop.refreshGoldJoinView(spark, wh)
    assert(cells(viewNow) === cells(expectedNow),
      "view with an unmatched episode grain diverged from the left " +
        "re-join")
    assert(fanout() === fanout0,
      "an unmatched grain must contribute 0 fanout (NULL-as-0), not " +
        "a joined figure")

    // The key LANDS: a webtoon-gold batch adds (01-01, webtoon_9).
    // The null-extension must retract and the joined fanout appear.
    val wt0101 = spark.read.parquet(wtDir)
      .filter(col("datetime") === "2024-01-01").localCheckpoint()
    val landed = wt0101.limit(1)
      .withColumn("webtoon_id", lit("webtoon_9"))
      .withColumn("total_sessions", lit(4L)).localCheckpoint()
    graft.runtime.ChangeLog.recordBatch(spark, wtDir,
      Seq("datetime", "webtoon_id"), 51L)(
      graft.silver.MergeUpsert.replacePartitions(spark, wtDir,
        wt0101.unionByName(landed),
        Seq(java.sql.Date.valueOf("2024-01-01"))))
    SilverLoop.refreshGoldJoinView(spark, wh)
    assert(cells(viewNow) === cells(expectedNow),
      "view after the key landed diverged from the left re-join")
    assert(fanout() === fanout0 + 4L,
      "the landed key's fanout must replace the null-extension")
  }

  test("state left by the earlier two-table loop (pair position " +
      "columns, old config, jview-* registrations) re-seeds under the " +
      "star definition and leaves no jview-* registration behind") {
    import graft.runtime.{Consumers, MaterializedView}
    val wh = tmpDir("jv-upgrade-wh")
    graft.runtime.Pipeline.runDaily(spark, "/root/testdata/sf0.001", wh)
    val epDir = s"$wh/gold_episode_daily"
    val wtDir = s"$wh/gold_webtoon_daily"
    val viewDir = s"$wh/gold_episode_webtoon_jview"
    def expected: DataFrame = spark.read.parquet(epDir)
      .join(spark.read.parquet(wtDir), Seq("datetime", "webtoon_id"),
        "left")
      .groupBy(col("datetime"))
      .agg(sum(col("sessions")).as("ep_sessions"),
        sum(coalesce(col("total_sessions"), lit(0L)))
          .as("wt_sessions_fanout"),
        count(lit(1)).as("n_rows"))
    // The pair layout, by hand: per-date rows stamped with
    // `_as_of_a`/`_as_of_b` at the (unlogged) heads, figures planted
    // WRONG so a refresh that kept the state would be caught.
    graft.silver.MergeUpsert.replaceAll(spark, viewDir,
      expected.withColumn("ep_sessions", col("ep_sessions") + 1000L)
        .withColumn("_as_of_a", lit(-1L))
        .withColumn("_as_of_b", lit(-1L)).localCheckpoint(),
      partitionCol = "datetime")
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(path: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    write(viewDir + "_pos", "-1,-1")
    write(viewDir + "_cfg", Seq("layout=part:datetime", "joinType=left",
      "aKeys=datetime,webtoon_id,episode_id",
      "bKeys=datetime,webtoon_id", "joinKeys=datetime,webtoon_id",
      "dims=datetime",
      "measures=ep_sessions:sessions;wt_sessions_fanout:total_sessions",
      "aCols=sessions", "bCols=total_sessions").mkString("\n"))
    val suffix = MaterializedView.consumerName(viewDir)
      .stripPrefix("mview-")
    Consumers.registerPointer(spark, epDir, s"jview-a-$suffix",
      viewDir + "_pos", 0, viewDir = Some(viewDir))
    Consumers.registerPointer(spark, wtDir, s"jview-b-$suffix",
      viewDir + "_pos", 1, viewDir = Some(viewDir))

    assert(SilverLoop.refreshGoldJoinView(spark, wh) === Seq(-1L, -1L))
    def cells(d: DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
        .toSeq.sortBy(_.mkString("|"))
    }
    assert(cells(spark.read.parquet(viewDir)
        .drop("_as_of_f", "_as_of_d0")) === cells(expected),
      "the pair-layout state must re-seed to the left re-join")
    for (dir <- Seq(epDir, wtDir)) {
      val names = Consumers.list(spark, dir).map(_.name)
      assert(!names.exists(_.startsWith("jview-")),
        s"a pair-loop registration survived the re-seed on $dir: $names")
    }
    assert(Consumers.list(spark, epDir).map(_.name)
      .exists(_.startsWith("sjview-f-")))
    assert(Consumers.list(spark, wtDir).map(_.name)
      .exists(_.startsWith("sjview-d0-")))
  }
}
