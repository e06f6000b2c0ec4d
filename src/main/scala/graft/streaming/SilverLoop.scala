package graft.streaming

import graft.runtime.{Incremental, IncrementalSilver}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The full streaming deployment loop: each micro-batch is appended to
  * bronze (batch_id-partitioned) and immediately folded into silver via the
  * incremental user-scoped update, with the watermark persisted between
  * batches. This is the reference's "stream raw, batch cleanse every 10
  * minutes" cycle (README.md:53-54) collapsed into one foreachBatch —
  * checkpoint recovery gives at-least-once bronze appends, and the
  * incremental update's idempotent user-scope replace absorbs replays.
  */
object SilverLoop {

  def start(parsed: DataFrame, bronzeDir: String, silverDir: String,
            watermarkPath: String, checkpointDir: String,
            toSilver: DataFrame => DataFrame,
            availableNow: Boolean = false): StreamingQuery = {
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime("30 seconds")
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Incremental.appendBatch(spark, bronzeDir, batch, batchId)
        val wm = Incremental.loadWatermark(spark, watermarkPath)
        IncrementalSilver.update(spark, bronzeDir, silverDir, wm,
            toSilver = toSilver)
          .foreach(w => Incremental.saveWatermark(spark, watermarkPath, w))
      }
      .start()
  }

  /** [[start]] extended to the FULL incremental daily chain: each
    * micro-batch lands in bronze, folds into silver user-scoped, and
    * then drives the six delta-scoped gold upserts
    * ([[graft.runtime.Pipeline.runDailyIncremental]]) — so the streamed
    * deployment pays the same delta-scaled gold bill the batch chain
    * proves exact (IncrementalGoldSpec / IncrementalPipelineSpec),
    * instead of leaving golds to a separate full recompute. Checkpoint
    * replays are absorbed the same way as in [[start]]: the bronze
    * append is batch_id-idempotent and every downstream layer lands
    * through scope-replacing merges, so at-least-once delivery
    * converges to exactly-once table state. `warehouseDir` holds
    * `silver_sessions` plus the six gold tables (the
    * [[graft.runtime.Pipeline]] layout) and their per-batch
    * `_changelog` CDC tables ([[graft.runtime.ChangeLog]]); a `null`
    * `toSilver` (the default harness derivation) additionally logs the
    * silver merge itself and lands the delta's cleanse rejects in the
    * `quarantine_events` dead-letter table.
    *
    * `logRetention`: a streaming deployment publishes one change-log
    * entry per micro-batch FOREVER — at the reference's cadence that
    * is ~52k partitions/year per table, a metadata scale-killer for
    * every log read. With `logRetention = Some(k)`, after each update
    * at watermark `w` every log folds its prefix up to `w - k + 1`
    * into one net base entry ([[graft.runtime.ChangeLog.checkpoint]]) —
    * the loop stays bounded at ~k live entries per table (the net base
    * at the boundary plus the k−1 newest). Opting in
    * asserts that every log consumer stays within k updates of the
    * head; one that falls behind fails loud in
    * `ChangeLog.readSince`, never silently double-reads.
    *
    * `keyIndex`: maintain the bronze user→batch [[graft.runtime
    * .KeyIndex]] inside the loop (one delta-scoped ensure right after
    * each bronze append), so the index is ALWAYS current with the high
    * watermark and [[graft.runtime.Forget.forgetUserIndexed]] — the
    * 100 TB erasure path, which refuses a stale index — can run
    * against a live deployment at any quiesced moment without a
    * catch-up scan first.
    *
    * `scd2Store`: maintain a persisted SCD2 dimension over the
    * user-gold change log ([[graft.runtime.Scd2Store]] at
    * `<warehouse>/gold_user_daily_scd2` — the user-day metric's
    * version history: every recomputation of a user's day opens a
    * version, a grain moving off a date tombstones) inside the loop —
    * each micro-batch's refresh extends the history at
    * O(new entries + touched buckets), and the store's consumer
    * registration clamps `logRetention`'s folds, so streaming
    * retention can never outrun the dimension it feeds. (The
    * user-gold log publishes under custom `toSilver` too; a
    * default-derivation deployment can run the same store over
    * `silver_sessions` with [[graft.silver.Sessionize.SessionKey]].)
    * `scd2HistoryRetention = Some(k)` is the store's `logRetention`
    * analogue: versions that closed more than k positions back split
    * into the `_archive` sibling each micro-batch, keeping the live
    * buckets at live-set size — with NO history lost
    * ([[graft.runtime.Scd2Store.readHistory]] serves live ∪
    * archive), where logRetention's fold genuinely coarsens.
    *
    * `joinView`: maintain the PERSISTED two-log join view (a
    * one-dim [[graft.runtime.StarJoinView]] at
    * `<warehouse>/gold_episode_webtoon_jview`) inside the loop — the
    * reference's one gold→gold dependency (the webtoon job reading
    * the episode gold, `gold_webtoon_daily_metrics.py:74-77`) kept
    * current incrementally from BOTH gold change logs instead of
    * re-joined per refresh: per datetime, episode-grain sessions and
    * the webtoon-level session totals each episode row fans out to —
    * as a LEFT OUTER view (the reference dependency is ⟕; see
    * [[refreshGoldJoinView]]).
    * Maintained in the PARTITIONED form on the datetime dim (each
    * micro-batch rewrites only the dates its spans touch — the
    * per-partition vector split commit), with both sides projected to
    * their referenced columns; both consumers register, so
    * `logRetention`'s folds clamp behind the view on EITHER log. */
  def startPipeline(parsed: DataFrame, bronzeDir: String,
                    warehouseDir: String, watermarkPath: String,
                    checkpointDir: String,
                    toSilver: DataFrame => DataFrame,
                    availableNow: Boolean = false,
                    logRetention: Option[Long] = None,
                    keyIndex: Boolean = false,
                    scd2Store: Boolean = false,
                    scd2HistoryRetention: Option[Long] = None,
                    joinView: Boolean = false): StreamingQuery = {
    require(scd2HistoryRetention.isEmpty || scd2Store,
      "scd2HistoryRetention compacts the scd2Store's history — enable " +
        "scd2Store with it")
    require(scd2HistoryRetention.forall(_ >= 1),
      "scd2HistoryRetention must keep at least one position of history")
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime("30 seconds")
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Incremental.appendBatch(spark, bronzeDir, batch, batchId)
        if (keyIndex)
          graft.runtime.KeyIndex.ensure(spark, bronzeDir,
            graft.runtime.KeyIndex.dirFor(bronzeDir), "user_id")
        val wm = Incremental.loadWatermark(spark, watermarkPath)
        // The fold boundary lives in LOG-ID space: entry ids are the
        // bronze endpoint plus the warehouse's durable CDC id offset
        // (0 until a compliance op bumps it — Pipeline.cdcIdOffsetPath),
        // so the head after this update is w + offset and last-k means
        // folding up to head - k + 1. Registered consumers clamp the
        // fold further (ChangeLog.checkpoint × Consumers) — retention
        // can never outrun a registered view.
        val off = graft.runtime.Pipeline.cdcIdOffset(spark, warehouseDir)
        graft.runtime.Pipeline.runDailyIncremental(spark, bronzeDir,
            warehouseDir, wm, toSilver = toSilver,
            collapseLogsUpTo = for {
              w <- wm; k <- logRetention
            } yield w + off - k + 1)
          .foreach(w => Incremental.saveWatermark(spark, watermarkPath, w))
        if (scd2Store) {
          val pos = graft.runtime.Scd2Store.refresh(spark,
            s"$warehouseDir/gold_user_daily",
            s"$warehouseDir/gold_user_daily_scd2",
            Seq("datetime", "user_id"))
          // `scd2HistoryRetention = Some(k)`: versions that CLOSED
          // more than k positions ago split into the `_archive`
          // sibling ([[graft.runtime.Scd2Store.archive]]) — a
          // streaming deployment opens versions forever, and without
          // the split every is_current read and touched-bucket
          // rewrite eventually pays O(full history). History is
          // NEVER lost (readHistory serves live ∪ archive); the
          // cutoff trails the committed position by construction, so
          // the archive guard always admits it.
          for (k <- scd2HistoryRetention; c = pos - k + 1; if c > 0)
            graft.runtime.Scd2Store.archive(spark,
              s"$warehouseDir/gold_user_daily_scd2", closedBefore = c)
          ()
        }
        if (joinView) {
          refreshGoldJoinView(spark, warehouseDir)
          ()
        }
      }
      .start()
  }

  /** The in-loop gold→gold view refresh, named so operational code
    * (and the spec) can drive the EXACT loop definition out of band —
    * e.g. to catch the view up after a crash between the episode and
    * webtoon gold stages left the logs skewed for one batch.
    *
    * A one-dim star: the episode gold is the fact, the webtoon gold
    * its one dim. PARTITIONED form on the view's datetime dim: the
    * steady-state loop bill is O(spans + touched dates), not
    * O(|view|) — at warehouse grain a micro-batch touches a handful
    * of dates while the view holds years. `fCols`/`DimSpec.cols`
    * project each gold down to its keys plus the one referenced
    * measure, honoring the star's non-key-collision contract
    * mechanically (the golds share generic names — n_rows,
    * complete_rows, exit_rows — that must not meet in the join).
    * `joinType = "left"`: the reference dependency this view models is
    * ⟕ (`gold_webtoon_daily_metrics.py:74-77` reads the episode gold
    * into a LEFT-preserved webtoon frame; every reference gold join is
    * left-outer) — an episode grain whose (datetime, webtoon) key has
    * no webtoon-gold row yet (the crash-between-stages skew above)
    * still serves, fanout 0 under the NULL-as-0 measure contract, and
    * retracts into the joined figure when the key lands. Returns the
    * committed (episode, webtoon) positions.
    *
    * Upgrade note: the view commits its config signature at seed and
    * DROPS + RE-SEEDS state seeded under a different definition — one
    * loud O(base join) bill, never a silently mis-maintained or
    * mixed-layout view. State written by the earlier two-table loop
    * (`_as_of_a`/`_as_of_b` position columns, `jview-a-*`/`jview-b-*`
    * registrations) is not migrated: its committed signature no longer
    * matches, so the first refresh re-seeds it and retires those
    * registrations. The `_pos` file keeps its `p0,p1` layout. */
  def refreshGoldJoinView(spark: org.apache.spark.sql.SparkSession,
                          warehouseDir: String): Seq[Long] = {
    import graft.runtime.StarJoinView
    import org.apache.spark.sql.functions.col
    StarJoinView.refreshPartitioned(spark,
      s"$warehouseDir/gold_episode_daily",
      Seq(StarJoinView.DimSpec(s"$warehouseDir/gold_webtoon_daily",
        keys = Seq("datetime", "webtoon_id"),
        joinKeys = Seq("datetime", "webtoon_id"),
        cols = Some(Seq("total_sessions")))),
      s"$warehouseDir/gold_episode_webtoon_jview",
      fKeys = Seq("datetime", "webtoon_id", "episode_id"),
      viewDims = Seq("datetime"),
      // Side-unique columns only: `sessions` is episode-grain,
      // `total_sessions` the webtoon-level figure each episode
      // row fans out to.
      measures = Seq(
        ("ep_sessions", col("sessions")),
        ("wt_sessions_fanout", col("total_sessions"))),
      partDim = "datetime",
      joinType = "left",
      fCols = Some(Seq("sessions")))
  }
}
