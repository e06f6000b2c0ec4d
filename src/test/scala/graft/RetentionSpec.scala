package graft

import graft.ingest.Events
import graft.runtime.{ChangeLog, Incremental, MaterializedView,
  Pipeline, Retention, StarJoinView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time retention ([[graft.runtime.Retention]]): after
  * `expireBefore(cutoff)` no surface holds a row older than the
  * cutoff — bronze (straddling batches rewritten in place, wholly-old
  * batches dropped), silver, every gold, the quarantine, and the
  * row-image change logs (purged, with registered views invalidated
  * and re-seeded) — while RETAINED partitions keep the exact values
  * they were computed with (retention removes old rows, it does not
  * rewrite history), the aggregate golds publish their deletions as
  * ordinary log entries (replay holds through them), and a second run
  * is a receipt of zeros. */
class RetentionSpec extends SparkSpec {

  private def cells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  test("expireBefore removes every pre-cutoff row, keeps retained " +
      "partitions untouched, publishes aggregate deletions, purges " +
      "row-image logs and re-seeds registered views; re-run is zeros") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(6)
    val raw0 = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
    // One poison row per era so the quarantine spans the cutoff.
    def poison(d: java.sql.Date, id: Long) =
      raw0.filter(to_date(col("ts")) === lit(d)).limit(1)
        .withColumn("event_id", lit(id))
        .withColumn("event_type", lit(null).cast("string"))
    val raw = raw0.unionByName(poison(dts(0), -901L))
      .unionByName(poison(dts(5), -902L)).localCheckpoint()
    val bronze = tmpDir("rt-bronze")
    val wh = tmpDir("rt-wh")
    // Batch 1 holds dates 0..2 (wholly old), batch 2 dates 3..4
    // (straddles the cutoff), batch 3 date 5 (young).
    val cutoff = dts(4)

    // Three bronze batches: b1 wholly old, b2 straddling, b3 young.
    var wm: Option[Long] = None
    Seq((dts(0), dts(2)), (dts(2), dts(4)), (dts(4), dts(5)))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        Incremental.appendBatch(spark, bronze,
          raw.filter(to_date(col("ts")) >= lit(lo) &&
            to_date(col("ts")) <= lit(hi) &&
            (if (i == 0) lit(true)
             else to_date(col("ts")) > lit(if (i == 1) dts(2) else dts(4)))),
          i + 1L)
        wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
      }
    assert(wm.contains(3L))

    // A registered per-country view over the silver log (row-image
    // class: retention must invalidate it, not feed it images).
    val viewDir = s"$wh/view_country"
    def viewProject(d: DataFrame): DataFrame =
      d.select(col("country"), col("n_events"), col("sum_value_cents"))
    def refreshView(): Long = StarJoinView.refresh(spark,
      s"$wh/silver_sessions", Nil, viewDir,
      graft.silver.Sessionize.SessionKey, Seq("country"),
      Seq("n_events", "sum_value_cents").map(m => m -> col(m))).head
    refreshView()

    // A maintained bronze key index: retention must reconcile it —
    // stale pairs are unbounded growth AND retained personal data.
    val idxDir = graft.runtime.KeyIndex.dirFor(bronze)
    graft.runtime.KeyIndex.ensure(spark, bronze, idxDir, "user_id")
    // A user whose EVERY event is pre-cutoff must leave the index.
    val expiredOnly = spark.read.parquet(bronze)
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"))
      .filter(col("last_d") < lit(cutoff))
      .select(col("user_id")).head(1).headOption.map(_.getLong(0))

    // An SCD2 store over the silver log — the worst place to miss a
    // purge signal: it persists HISTORICAL row images.
    val silverDir = s"$wh/silver_sessions"
    val storeDir = s"$wh/scd2_sessions"
    val sessKey = graft.silver.Sessionize.SessionKey
    graft.runtime.Scd2Store.refresh(spark, silverDir, storeDir, sessKey,
      basePosition = 0L)
    assert(!graft.runtime.Scd2Store.read(spark, storeDir)
      .filter(col("datetime") < lit(cutoff)).isEmpty,
      "fixture: the store must hold pre-cutoff version images")

    // A result cache over silver, REGISTERED as an observer: its
    // materialization holds pre-cutoff rows, and retention must
    // delete it at purge time (not merely let the signature rot).
    val cacheRoot = s"$wh/result_cache"
    def serveDaily(thunk: => DataFrame): DataFrame =
      graft.runtime.ResultCache.serve(spark, cacheRoot, "daily_rows",
        Seq(silverDir), "v1", registerIn = Seq(silverDir))(thunk)
    val cached0 = serveDaily(spark.read.parquet(silverDir)
      .groupBy(col("datetime")).agg(count(lit(1)).as("n_rows")))
    assert(!cached0.filter(col("datetime") < lit(cutoff)).isEmpty,
      "fixture: the cached result must hold pre-cutoff rows")
    assert(graft.runtime.Consumers.list(spark, silverDir)
      .exists(r => r.name == "cache-daily_rows" && r.observer),
      "the cache must be listed as a non-blocking observer")

    val episodeDir = s"$wh/gold_episode_daily"
    val preEpisode = spark.read.parquet(episodeDir).localCheckpoint()
    val retainedBefore = cells(spark.read.parquet(episodeDir)
      .filter(col("datetime") >= lit(cutoff)))

    val r = Retention.expireBefore(spark, bronze, wh, cutoff)
    assert(r.total > 0, "the fixture spans the cutoff on every surface")

    // (1) No surface holds a pre-cutoff row.
    val oldTs = to_date(col("ts")) < lit(cutoff)
    assert(spark.read.parquet(bronze).filter(oldTs).isEmpty, "bronze")
    assert(spark.read.parquet(s"$wh/quarantine_events").filter(oldTs)
      .isEmpty, "quarantine")
    Seq("silver_sessions", "gold_user_daily", "gold_episode_daily",
      "gold_webtoon_daily", "gold_platform_device_daily",
      "gold_country_daily", "gold_user_sketch").foreach { t =>
      assert(spark.read.parquet(s"$wh/$t")
        .filter(col("datetime") < lit(cutoff)).isEmpty, t)
    }
    // Straddling batch 2 kept its young rows under its own id.
    assert(!spark.read.parquet(bronze)
      .filter(col("batch_id") === 2L).isEmpty,
      "straddling batch must keep its young rows")
    assert(spark.read.parquet(bronze)
      .filter(col("batch_id") === 1L).isEmpty
      || !new java.io.File(s"$bronze/batch_id=1").exists(),
      "wholly-old batch must drop")

    // Row-image logs hold no expired images either.
    Seq(s"$wh/silver_sessions", s"$wh/gold_user_daily").foreach { t =>
      assert(ChangeLog.readLog(spark, t).get
        .filter(col("datetime") < lit(cutoff)).isEmpty,
        s"$t log must not keep expired images")
    }

    // (1b) The key index reconciled: no pairs to the dropped batch,
    // straddler pairs only for users with surviving rows, the
    // expired-only user's key gone, watermark intact.
    val idx = spark.read.parquet(idxDir)
    assert(idx.filter(col("batch_id") === 1L).isEmpty,
      "pairs to the dropped batch must leave the index")
    val survivors = spark.read.parquet(bronze)
      .filter(col("batch_id") === 2L).select(col("user_id")).distinct()
    assert(idx.filter(col("batch_id") === 2L)
      .join(survivors, col("key") === col("user_id"), "left_anti")
      .isEmpty, "straddler pairs must re-derive from surviving rows")
    expiredOnly.foreach { u =>
      assert(idx.filter(col("key") === lit(u)).isEmpty,
        s"expired-only user $u must not stay enumerable in the index")
    }
    assert(graft.runtime.KeyIndex.watermark(spark, idxDir)
      .contains(3L), "index watermark bounds batch ids — untouched")

    // (1c) Time travel cannot resurrect what retention erased: the
    // reconstruction of an EARLIER position is the history in which
    // the expired rows never existed.
    assert(ChangeLog.snapshotAt(spark, s"$wh/silver_sessions",
        graft.silver.Sessionize.SessionKey, 1L)
      .filter(col("datetime") < lit(cutoff)).isEmpty,
      "snapshotAt must not resurrect purged images")

    // (2) Retained partitions byte-untouched (values identical).
    assert(cells(spark.read.parquet(episodeDir)) === retainedBefore,
      "retained gold partitions must keep their computed values")

    // (3a) Aggregate deletions published: replay(pre snapshot, the
    // retention entry) == the current post-retention gold.
    val entry = ChangeLog.readSince(spark, episodeDir,
      Some(r.batchId - 1)).get
    val replayed = ChangeLog.replay(preEpisode, entry,
      Seq("datetime", "webtoon_id", "episode_id"))
    assert(cells(replayed) === cells(spark.read.parquet(episodeDir)),
      "replay through the retention entry diverged")

    // (3b) The silver view was invalidated; its refresh re-seeds to
    // the truncated recompute.
    assert(MaterializedView.isInvalid(spark, viewDir))
    refreshView()
    val silverNow = spark.read.parquet(s"$wh/silver_sessions")
    val expView = viewProject(silverNow).groupBy(col("country"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value_cents")).as("sum_value_cents"),
        count(lit(1)).as("n_rows"))
    assert(cells(spark.read.parquet(viewDir).drop("_as_of_f", "gv_pt"))
      === cells(expView), "re-seeded view must serve truncated counts")

    // (3c) The SCD2 store honored the purge: it was invalidated, and
    // its refresh re-seeds to the TRUNCATED history — no pre-cutoff
    // version image survives anywhere in the persisted event set.
    assert(MaterializedView.isInvalid(spark, storeDir),
      "retention must invalidate the registered SCD2 store")
    graft.runtime.Scd2Store.refresh(spark, silverDir, storeDir, sessKey,
      basePosition = 0L)
    assert(spark.read.option("mergeSchema", "true").parquet(storeDir)
      .filter(col("datetime") < lit(cutoff)).isEmpty,
      "re-seeded store must hold no expired images (tombstones included)")
    assert(cells(graft.runtime.Scd2Store.read(spark, storeDir)) ===
      cells(ChangeLog.scd2(spark, silverDir, sessKey, 0L)),
      "re-seeded store must equal the from-scratch truncated rebuild")

    // (3d) The observer cache was DELETED at purge time — the old
    // materialization's bytes (which held pre-cutoff rows) are gone,
    // and the next serve recomputes the truncated answer.
    val cacheEntry = new org.apache.hadoop.fs.Path(
      s"$cacheRoot/daily_rows")
    assert(!cacheEntry.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(cacheEntry),
      "retention must delete the registered cache entry outright")
    val cached1 = serveDaily(spark.read.parquet(silverDir)
      .groupBy(col("datetime")).agg(count(lit(1)).as("n_rows")))
    assert(cached1.filter(col("datetime") < lit(cutoff)).isEmpty,
      "the recomputed cache must serve the truncated answer")

    // (4) A second run at the same cutoff is a receipt of zeros.
    val r2 = Retention.expireBefore(spark, bronze, wh, cutoff)
    assert(r2.total === 0L,
      s"second run must be a no-op, got ${r2.expired}")

    // And the chain keeps running past the retention publish: the id
    // offset keeps the next engine id clear of the retention entry.
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) === lit(dts(5)))
        .withColumn("event_id", col("event_id") + 1000000L), 4L)
    val wm2 = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
    assert(wm2.contains(4L), "post-retention incremental update")
  }

  test("full-horizon expiry: a cutoff past ALL data empties every " +
      "surface — the whole-table wipe publishes cleanly (the log " +
      "entry carries only removals) and a re-run is zeros") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(2)
    val raw = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
      .localCheckpoint()
    val bronze = tmpDir("rt-full-bronze")
    val wh = tmpDir("rt-full-wh")
    Incremental.appendBatch(spark, bronze, raw, 1L)
    Pipeline.runDailyIncremental(spark, bronze, wh, None)
    val episodeDir = s"$wh/gold_episode_daily"
    val preEpisode = spark.read.parquet(episodeDir).localCheckpoint()

    val horizon = java.sql.Date.valueOf(
      dts.last.toLocalDate.plusDays(30))
    val r = Retention.expireBefore(spark, bronze, wh, horizon)
    assert(r.total > 0)
    // Every surface is empty (absent counts as empty).
    def isEmptyTable(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !fs.exists(p) ||
        !graft.silver.MergeUpsert.sweepAndHasData(fs, p)
    }
    (Seq(bronze, s"$wh/quarantine_events") ++
      Pipeline.loggedTables.map { case (t, _) => s"$wh/$t" })
      .foreach(d => assert(isEmptyTable(d), s"$d must be empty"))
    // The wipe entry replays the pre-state to nothing.
    val span = ChangeLog.readSince(spark, episodeDir,
      Some(r.batchId - 1)).get
    assert(ChangeLog.replay(preEpisode, span,
      Seq("datetime", "webtoon_id", "episode_id")).isEmpty,
      "the wipe entry must replay the gold to empty")
    // Idempotent: a second full-horizon run finds nothing.
    assert(Retention.expireBefore(spark, bronze, wh, horizon)
      .total === 0L)
  }
}
