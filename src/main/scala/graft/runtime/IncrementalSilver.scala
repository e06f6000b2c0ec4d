package graft.runtime

import graft.ingest.Events
import graft.silver.{Dedup, Sessionize}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental silver maintenance with a provable contract: after any
  * sequence of batch appends — including late, out-of-order, and
  * redelivered (duplicate event_id) events — the silver table equals the
  * full recompute over all bronze data (IncrementalSilverSpec).
  *
  * The reference merges newly-derived session rows on the 9-column key
  * (silver_user_session_events.py:149-186), which is only correct because
  * its producer assigns session ids. With gap-derived sessions, a late
  * event can MOVE events between sessions (merge two sessions, or shift a
  * boundary), so upserting new rows is not enough — stale rows must go.
  * The unit of consistency is therefore the USER: each update re-derives
  * sessions for exactly the users present in new batches, from their full
  * (pruned) history, and replaces that user-scope within the affected date
  * partitions:
  *
  *   1. new events  = bronze batches past the watermark (partition-pruned)
  *   2. affected    = distinct users in new events
  *   3. recompute   = sessionize(full bronze ⋉ affected)   — scoped scan
  *   4. rewrite     = silver(affected dates) ⊳ affected ∪ recompute
  *
  * At 100 TB, step 3 is the reason bronze should be bucketed by user_id:
  * the semi-join then prunes to the affected users' buckets instead of
  * scanning all history. Steps 1/4 prune by partition (batch_id / date).
  */
object IncrementalSilver {

  /** What one incremental update touched — the scope the downstream
    * [[IncrementalGold]] deltas need: the new watermark, the users the
    * delta re-derived (None when nothing changed), and the silver
    * dates whose rows can have changed (the affected users' full
    * histories' dates — session boundaries move, so any of their dates
    * may differ). */
  case class Delta(watermark: Option[Long],
                   affectedUsers: Option[org.apache.spark.sql.DataFrame],
                   affectedDates: Seq[java.sql.Date])

  /** Default raw→silver derivation (harness event shape). */
  def harnessSilver(asOfUs: Long)(raw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Sessionize.sessions(
      Dedup.keepLatest(Events.cleanse(Events.enrich(raw))), asOfUs)

  /** Applies one incremental update; returns the new watermark.
    * `toSilver` derives session rows from raw bronze rows — swap it for
    * the reference-shaped chain (ReferenceEvents.adapt +
    * sessionsFromProvided) when bronze carries the reference wire format.
    * The only requirements are a `user_id` column on the raw rows and
    * session rows keyed per user per datetime. */
  def update(spark: SparkSession, bronzeDir: String, silverDir: String,
             watermark: Option[Long],
             asOfUs: Long = Events.AsOfUs,
             toSilver: org.apache.spark.sql.DataFrame =>
               org.apache.spark.sql.DataFrame = null): Option[Long] =
    updateDetailed(spark, bronzeDir, silverDir, watermark, asOfUs,
      toSilver).watermark

  /** [[update]] returning the touched scope for downstream incremental
    * gold maintenance ([[graft.runtime.Pipeline.runDailyIncremental]]).
    * With `changeLog` set, the scope-converging silver merge also
    * publishes its per-batch CDC entry ([[ChangeLog.recordBatch]] on
    * the session grain, [[Sessionize.SessionKey]]) — the reference's
    * Silver MERGE INTO (silver_user_session_events.py:149-186) is
    * exactly the write whose effects a downstream consumer otherwise
    * cannot see. Callers with a custom `toSilver` whose output is not
    * SessionKey-keyed must leave it off. */
  def updateDetailed(spark: SparkSession, bronzeDir: String,
                     silverDir: String, watermark: Option[Long],
                     asOfUs: Long = Events.AsOfUs,
                     toSilver: org.apache.spark.sql.DataFrame =>
                       org.apache.spark.sql.DataFrame = null,
                     changeLog: Boolean = false,
                     logIdOffset: Long = 0L): Delta =
    Interpreted.run(spark) {
      applyUpdate(spark, bronzeDir, silverDir, watermark,
        Option(toSilver).getOrElse(harnessSilver(asOfUs) _), changeLog,
        logIdOffset)
    }

  private def applyUpdate(spark: SparkSession, bronzeDir: String,
                          silverDir: String, watermark: Option[Long],
                          derive: org.apache.spark.sql.DataFrame =>
                            org.apache.spark.sql.DataFrame,
                          changeLog: Boolean, logIdOffset: Long): Delta = {
    val batches = Incremental.batches(spark, bronzeDir)
    val hw = batches.lastOption
    if (hw.isEmpty) return Delta(None, None, Nil) // no bronze data yet
    // A watermark equal to the last committed id is a valid one.
    if (hw == watermark) return Delta(watermark, None, Nil)

    // One bronze read for the delta and the history.
    val bronze = spark.read.parquet(bronzeDir)
    val newEvents = Incremental.readSince(bronze, batches, watermark)
    if (newEvents.isEmpty) return Delta(hw, None, Nil)
    // Checkpointed: the distinct's lineage is the bronze-delta scan,
    // and the scope frame is read again by the history semi-join,
    // upsertScoped's planning AND the downstream gold deltas — without
    // the checkpoint each re-runs the delta scan.
    val affectedUsers = newEvents.select(col("user_id")).distinct()
      .localCheckpoint()

    val history = bronze
      .join(affectedUsers, Seq("user_id"), "left_semi")
      .drop("batch_id")
    // Materialized once: the windowed re-derivation is the dominant
    // cost of an update, and the merge's staged-dates collect and its
    // write would otherwise each execute it from scratch.
    val recomputed = derive(history).localCheckpoint()

    // The write IS the scope-converging merge: within the affected
    // users, silver converges to the recompute exactly — stale rows
    // drop, emptied partitions delete — through the crash-safe
    // staging-write + rename-swap protocol (the previous in-place
    // dynamic overwrite left a whole-job window where affected
    // partitions were deleted but not yet rewritten).
    //
    // Affected dates = the dates the merge rewrote: the recomputed
    // frame's dates ∪ the affected users' EXISTING silver dates (the
    // recomputed frame's alone when silver is written fresh). The
    // existing-dates side is the DELETION-propagation half: a late
    // event can re-stamp or re-derive a user's rows OFF a date
    // entirely (keep-latest moves an event's day; a session merge
    // re-keys its rows), and that date never appears in the recompute
    // — without it, downstream gold deltas would never recompute the
    // vanished date.
    var affectedDates = Seq.empty[java.sql.Date]
    def write(): Unit =
      affectedDates = graft.silver.MergeUpsert.upsertScoped(spark,
        silverDir, recomputed, Seq("user_id"), affectedUsers)
        .getOrElse(recomputed.select(col("datetime")).distinct()
          .collect().map(_.get(0)).toSeq)
        .map(_.asInstanceOf[java.sql.Date])
    if (changeLog)
      // Entry id = bronze endpoint + the warehouse's CDC id offset
      // ([[Pipeline.cdcIdOffsetPath]]) — keeps chain ids past any
      // out-of-band compliance publish.
      ChangeLog.recordBatch(spark, silverDir, Sessionize.SessionKey,
        hw.get + logIdOffset,
        df => df.join(affectedUsers, Seq("user_id"), "left_semi"))(write())
    else write()
    Delta(hw, Some(affectedUsers), affectedDates)
  }
}
