package graft

import graft.gold._
import graft.ingest.Events
import graft.runtime.{ChangeLog, Forget, Incremental, Pipeline}
import graft.silver.{Dedup, Sessionize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten ([[graft.runtime.Forget]]): after
  * `forgetUser`, the warehouse must equal the from-scratch recompute
  * of a world in which the user's events never arrived — bronze,
  * silver, every gold (the aggregates UN-COUNT the user), the
  * quarantine, and both user-keyed change logs (their entries carry
  * row images, so they are erased, not tombstoned), while the
  * aggregate golds PUBLISH their recompute delta like any other batch.
  * Non-user keys keep their replay contract; a second forget is a
  * receipt of zeros. */
class ForgetSpec extends SparkSpec {

  private def assertSame(got: DataFrame, exp: DataFrame,
                         what: String): Unit = {
    val cols = exp.columns.sorted.map(col).toSeq
    val g = got.select(cols: _*).localCheckpoint()
    val e = exp.select(cols: _*).localCheckpoint()
    assert(g.exceptAll(e).isEmpty && e.exceptAll(g).isEmpty,
      s"$what diverged")
  }

  test("forgetUser erases every trace and converges the warehouse to " +
      "the recompute-without-the-user, publishing aggregate deltas") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(6)
    val raw0 = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
    val cut = dts(3)
    val bronze = tmpDir("fg-bronze")
    val wh = tmpDir("fg-wh")

    // The subject: the user with the most events in the span.
    val u = raw0.groupBy(col("user_id")).count()
      .orderBy(col("count").desc, col("user_id")).head().getLong(0)
    val keep = !(col("user_id") <=> lit(u))
    // Plus one POISON event of theirs, so the quarantine holds a trace.
    val poison = raw0.filter(col("user_id") === u).limit(1)
      .withColumn("event_id", lit(-999L))
      .withColumn("event_type", lit(null).cast("string"))
    val raw = raw0.unionByName(poison).localCheckpoint()

    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) < lit(cut)), 1L)
    var wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    val snap1 = spark.read.parquet(s"$wh/silver_sessions")
      .localCheckpoint()

    // A persisted per-country view over the REAL silver change log
    // (9-column session key, long measures), seeded at position 1.
    import graft.runtime.{MaterializedView, StarJoinView}
    val viewDir = s"$wh/view_country"
    def viewProject(d: DataFrame): DataFrame =
      d.select(col("country"), col("n_events"), col("sum_value_cents"))
    def refreshView(): Long = StarJoinView.refresh(spark,
      s"$wh/silver_sessions", Nil, viewDir,
      graft.silver.Sessionize.SessionKey, Seq("country"),
      Seq("n_events", "sum_value_cents").map(m => m -> col(m))).head
    def viewRecompute(silver: DataFrame): DataFrame =
      viewProject(silver).groupBy(col("country"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_value_cents")).as("sum_value_cents"),
          count(lit(1)).as("n_rows"))
    def viewNow: DataFrame =
      spark.read.parquet(viewDir).drop("_as_of_f", "gv_pt")
    assert(refreshView() === 1L)

    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) >= lit(cut)), 2L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm.contains(2L))

    // Catch-up purely from the log across the second batch's
    // session-grain adds/changes == the from-silver recompute.
    assert(refreshView() === 2L)
    assertSame(viewNow,
      viewRecompute(spark.read.parquet(s"$wh/silver_sessions")),
      "country view after log catch-up")
    assert(spark.read.parquet(s"$wh/quarantine_events")
      .filter(!keep).count() === 1L, "poison row must quarantine")

    val r = Forget.forgetUser(spark, bronze, wh, u)
    assert(r.batchId === 3L)
    val byName = r.purged.toMap
    assert(byName("bronze") > 0L && byName("silver_sessions") > 0L &&
      byName("gold_user_daily") > 0L &&
      byName("silver_sessions_changelog") > 0L &&
      byName("gold_user_daily_changelog") > 0L &&
      byName("quarantine_events") === 1L,
      s"unexpected receipt: ${r.purged}")

    // No trace anywhere — including the logs' key columns. A table
    // purged down to its _SUCCESS marker has no footer to read: that
    // IS "no trace".
    Seq(bronze, s"$wh/silver_sessions", s"$wh/gold_user_daily",
      s"$wh/quarantine_events",
      ChangeLog.logDir(s"$wh/silver_sessions"),
      ChangeLog.logDir(s"$wh/gold_user_daily")).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasData = fs.exists(p) &&
        graft.silver.MergeUpsert.sweepAndHasData(fs, p)
      assert(!hasData || spark.read.parquet(d).filter(!keep).isEmpty,
        s"$d still holds user $u")
    }

    // The whole warehouse equals the recompute of a world where the
    // user never existed (poison row included — it was theirs).
    val cleanSilver = Sessionize.sessions(Dedup.keepLatest(
      Events.cleanse(Events.enrich(raw.filter(keep))))).localCheckpoint()
    assertSame(spark.read.parquet(s"$wh/silver_sessions"), cleanSilver,
      "silver")
    assertSame(spark.read.parquet(s"$wh/gold_user_daily"),
      UserDaily.build(cleanSilver), "user gold")
    assertSame(spark.read.parquet(s"$wh/gold_episode_daily"),
      EpisodeDaily.build(cleanSilver), "episode gold")
    assertSame(spark.read.parquet(s"$wh/gold_webtoon_daily"),
      WebtoonDaily.build(cleanSilver, EpisodeDaily.build(cleanSilver)),
      "webtoon gold")
    assertSame(spark.read.parquet(s"$wh/gold_platform_device_daily"),
      PlatformDeviceDaily.build(cleanSilver), "platform gold")
    assertSame(spark.read.parquet(s"$wh/gold_country_daily"),
      CountryDaily.build(cleanSilver), "country gold")
    assertSame(
      spark.read.parquet(s"$wh/gold_user_sketch")
        .select(col("datetime"), col("dau_est")),
      graft.runtime.SketchGold.silverDailySketch(cleanSilver)
        .select(col("datetime"), col("dau_est")),
      "sketch gold (estimates must un-count the user)")

    // The aggregate golds PUBLISHED the forget as a normal delta.
    assert(ChangeLog.readLog(spark, s"$wh/gold_episode_daily").get
      .filter(col("batch_id") === r.batchId).count() > 0L,
      "episode gold log missing the forget's recompute delta")

    // Non-user keys keep their replay contract on the purged log.
    val silverLog = ChangeLog.readLog(spark, s"$wh/silver_sessions").get
    assertSame(
      ChangeLog.replay(snap1.filter(keep),
        silverLog.filter(col("batch_id").cast("long") > 1L),
        Sessionize.SessionKey),
      spark.read.parquet(s"$wh/silver_sessions"),
      "non-user replay after purge")

    // Idempotent: a second forget is a receipt of zeros.
    val r2 = Forget.forgetUser(spark, bronze, wh, u)
    assert(r2.total === 0L, s"second forget purged: ${r2.purged}")

    // The compliance contract for DERIVED consumer state: the purge
    // ERASES the user's log entries rather than tombstoning them
    // (images are personal data), so a view's checkpointed state
    // cannot learn of the removal from the LOG. The registry closes
    // the gap: every refresh registered the view (Consumers), the
    // forget INVALIDATED it, and until the re-seed runs the stale
    // state still serves (the marker is invisible to reads)...
    assert(MaterializedView.isInvalid(spark, viewDir),
      "forget must invalidate the registered view")
    assert(sortableDiff(viewNow,
      viewRecompute(spark.read.parquet(s"$wh/silver_sessions"))),
      "pre-refresh serving is the documented stale window")
    // ...and the NEXT refresh honors the marker by re-seeding from the
    // purged base — no manual delete, no out-of-band signal: the view
    // serves the purged-correct counts.
    assert(refreshView() === 2L)
    assert(!MaterializedView.isInvalid(spark, viewDir))
    assertSame(viewNow,
      viewRecompute(spark.read.parquet(s"$wh/silver_sessions")),
      "auto-re-seeded country view after forget")
  }

  test("the incremental chain continues past a forget without " +
      "colliding log ids, and the replay contract survives") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(6)
    val raw = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
      .localCheckpoint()
    val cut1 = dts(2); val cut2 = dts(4)
    val bronze = tmpDir("fgc-bronze")
    val wh = tmpDir("fgc-wh")
    val u = raw.groupBy(col("user_id")).count()
      .orderBy(col("count").desc, col("user_id")).head().getLong(0)

    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) < lit(cut1)), 1L)
    var wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) >= lit(cut1) &&
        to_date(col("ts")) < lit(cut2)), 2L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)

    val r = Forget.forgetUser(spark, bronze, wh, u)
    assert(r.batchId === 3L, "forget publishes at the next free id")

    // The trap this guards: the engine's epoch counter hands the next
    // micro-batch id 3 — exactly the id the forget took. recordBatch
    // at that raw id must fail LOUD (foreign producer), never silently
    // keep one delta and drop the other.
    val epDir = s"$wh/gold_episode_daily"
    val boom = intercept[RuntimeException] {
      ChangeLog.recordBatch(spark, epDir,
        Seq("datetime", "webtoon_id", "episode_id"), 3L)(())
    }
    assert(boom.getMessage.contains("producer"),
      s"wrong failure: ${boom.getMessage}")

    // The chain itself never hits the guard: the forget bumped the
    // durable id offset, so the next update (bronze endpoint 3, the
    // engine epoch) publishes its deltas strictly PAST the forget's.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) >= lit(cut2) &&
        !(col("user_id") <=> lit(u))), 3L)
    wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm.contains(3L))
    val epLog = ChangeLog.readLog(spark, epDir).get.localCheckpoint()
    val ids = epLog.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.contains(3L) && ids.exists(_ > 3L),
      s"expected the forget entry at 3 and the chain entry past it: $ids")

    // The consumer contract end to end: replaying the WHOLE log (seed
    // + batches + forget delta + post-forget batch, in id order) from
    // an empty origin equals the served table.
    assertSame(
      ChangeLog.replay(spark.read.parquet(epDir).filter(lit(false)),
        epLog, Seq("datetime", "webtoon_id", "episode_id")),
      spark.read.parquet(epDir),
      "episode gold replay across the forget")
  }

  /** True when the two frames DIFFER (sorted-cell comparison). */
  private def sortableDiff(a: DataFrame, b: DataFrame): Boolean = {
    val cols = b.columns.sorted.map(col).toSeq
    val x = a.select(cols: _*).localCheckpoint()
    val y = b.select(cols: _*).localCheckpoint()
    !(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty)
  }
}
