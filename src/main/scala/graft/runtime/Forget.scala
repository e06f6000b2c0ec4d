package graft.runtime

import graft.silver.MergeUpsert
import graft.silver.MergeUpsert.readIfData
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten over the incremental warehouse: remove every
  * trace of one user from bronze, silver, the golds, the quarantine
  * and the CDC change logs — the compliance operation a user-behavior
  * store (the reference's domain) owes by law, and a training-data
  * pipeline owes its opt-outs. Composed entirely from the existing
  * scoped machinery, so the bill is delta-scaled:
  *
  *  - BRONZE rewrites only the batch partitions that hold the user's
  *    events ([[MergeUpsert.eraseFailing]] — the affected-batch list
  *    is a metadata-scale collect);
  *  - SILVER and the user-keyed gold converge to "user absent" via
  *    [[MergeUpsert.upsertScoped]] with an EMPTY recompute of the user
  *    scope — exactly the deletion-propagation path the incremental
  *    chain already proves;
  *  - the AGGREGATE golds (episode/webtoon/platform/country/sketch)
  *    recompute their affected DATES from the purged silver through
  *    [[IncrementalGold]] — one user's removal changes those
  *    aggregates, and a recompute is the only honest way to un-count
  *    them (including the HLL sketch bytes, which embed the user's
  *    hash until rebuilt). When the purge emptied silver ENTIRELY
  *    (single-user warehouse, or a retry after a prior crash), the
  *    recompute has no rows and no schema to run over — the affected
  *    date partitions then converge to ABSENCE directly (the same
  *    [[IncrementalGold.DateGold.converge]] with no silver), which is
  *    the result the empty recompute would stage. Either way, a table
  *    that publishes a change log publishes this delta like any other
  *    batch — aggregates are not personal data, and downstream
  *    consumers need to learn the numbers moved;
  *  - the user-KEYED change logs (silver, user gold) are PURGED
  *    ([[ChangeLog.purge]]): their entries carry the user's row
  *    images, so tombstoning instead of erasing would defeat the
  *    point. This deliberately rewrites history — the post-forget
  *    contract is "a log in which the user never existed"; all other
  *    keys replay unchanged. Every view REGISTERED on a purged log
  *    ([[Consumers]]) is INVALIDATED ([[MaterializedView.invalidate]]):
  *    its aggregates were computed from images that no longer exist,
  *    and its next refresh re-seeds from the purged base instead of
  *    serving stale personal-data-derived numbers — no out-of-band
  *    re-seed, ForgetSpec proves the post-purge refresh serves the
  *    purged-correct counts. An UNREGISTERED consumer (a checkpointed
  *    stream whose state predates the forget) must still re-apply the
  *    purge itself — the out-of-band compliance signal every CDC
  *    consumer contract carries;
  *  - the QUARANTINE drops the user's rejected rows from their source
  *    batch partitions.
  *
  * Crash safety / idempotency: every step derives its scope from its
  * OWN surface's current content (never from another step's
  * pre-state), so a retry after a crash purges exactly what remains
  * and converges; a second [[forgetUser]] of the same user is a no-op
  * receipt of zeros. The aggregate-gold recompute derives its date
  * set from silver AND the user gold BEFORE either is purged, and the
  * set is persisted DURABLY (a `forget_pending` sidecar, removed only
  * when the forget completes) — a crash after the purges erased the
  * only copies of those dates still converges on retry, because the
  * retry reads the sidecar instead of the purged surfaces.
  *
  * Publish-id discipline: the aggregate deltas publish at the id
  * [[Pipeline.reserveCdcId]] reserves — past every log's and the
  * chain's high watermark, with the durable CDC id offset bumped past
  * it BEFORE publishing — so the next chain update (whose id the
  * streaming engine's epoch counter fixes) lands strictly after this
  * op's entries instead of colliding with them, with
  * [[ChangeLog.recordBatch]]'s producer guard failing loud as the
  * backstop. The caller owes no id coordination.
  *
  * Single-writer assumption, like every maintenance op here: the op
  * must not race the chain or a view refresh.
  *
  * Scope: the bronze-rooted incremental warehouse, where BRONZE is
  * the system of record. A warehouse whose tables re-derive from an
  * external immutable source (the full-recompute chain reading a
  * shared events file) cannot honor erasure here — the next recompute
  * would resurrect the user from that source; erasure must happen at
  * the source itself. Likewise out of scope by definition: backups
  * and downstream consumers' checkpointed state (the out-of-band
  * compliance signal). */
object Forget {

  /** One purged surface: table name → rows removed. */
  case class Receipt(batchId: Long, purged: Seq[(String, Long)]) {
    def total: Long = purged.map(_._2).sum
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Durable copy of the aggregate-gold recompute scope: the affected
    * dates are derived from the user's rows, which the purges then
    * ERASE — a crash between the two would leave a retry with no way
    * to find the dates (the user may never have reached the user
    * gold). The sidecar closes that window: written before the first
    * purge, read-and-merged by a retry, deleted only on completion. */
  private def pendingPath(warehouseDir: String, userId: Long) =
    s"$warehouseDir/forget_pending/user-$userId"

  private def savePendingDates(spark: SparkSession, warehouseDir: String,
                               userId: Long,
                               dates: Seq[java.sql.Date]): Unit =
    Incremental.writeText(spark, new Path(pendingPath(warehouseDir, userId)),
      dates.map(_.toString).sorted.mkString("\n"))

  private def loadPendingDates(spark: SparkSession, warehouseDir: String,
                               userId: Long): Seq[java.sql.Date] =
    Incremental.readText(spark, new Path(pendingPath(warehouseDir, userId)))
      .toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
      .map(java.sql.Date.valueOf)

  def forgetUser(spark: SparkSession, bronzeDir: String,
                 warehouseDir: String, userId: Long): Receipt =
    forgetImpl(spark, bronzeDir, warehouseDir, userId,
      bronzeBatches = None)

  /** [[forgetUser]] with the bronze scope answered by a
    * [[KeyIndex]] instead of a full bronze scan — the 100 TB form.
    * The un-indexed op's one data-proportional step is finding WHICH
    * batch partitions hold the user; here that comes from a
    * bucket-pruned index lookup (metadata-scale), and bronze is only
    * read inside the partitions that will be rewritten anyway. The
    * index must be CURRENT: a watermark behind bronze's high
    * watermark fails loud (a stale index would silently leave the
    * user's newest batches unpurged — the one failure a compliance op
    * can never have); run [[KeyIndex.ensure]] first, it is
    * delta-scoped and cheap. The user's own index entries are purged
    * last ([[KeyIndex.purgeKey]]) — an index that remembered who was
    * forgotten would defeat the erasure; ordering it after the data
    * purge keeps a crash retry able to re-derive the scope.
    *
    * The silver/gold steps are unchanged — their scoping scans are
    * over the already-reduced sessionized surfaces and the same index
    * scheme could cover them if silver outgrows that. */
  def forgetUserIndexed(spark: SparkSession, bronzeDir: String,
                        warehouseDir: String, userId: Long,
                        indexDir: String = null,
                        buckets: Int = KeyIndex.DefaultBuckets): Receipt = {
    val idx = Option(indexDir).getOrElse(KeyIndex.dirFor(bronzeDir))
    val bronzeHw = Incremental.highWatermark(spark, bronzeDir)
    val batches: Seq[Any] = bronzeHw match {
      case None => Seq.empty
      case Some(hw) =>
        val wm = KeyIndex.watermark(spark, idx)
        if (!wm.exists(_ >= hw))
          sys.error(s"key index at $idx is STALE (indexed watermark " +
            s"${wm.map(_.toString).getOrElse("none")}, bronze at $hw) " +
            "— run KeyIndex.ensure first: a stale index would leave " +
            "the user's newest batches unpurged")
        KeyIndex.lookup(spark, idx, userId, buckets)
          .select("batch_id").collect().map(_.get(0)).toIndexedSeq
    }
    val receipt = forgetImpl(spark, bronzeDir, warehouseDir, userId,
      bronzeBatches = Some(batches))
    KeyIndex.purgeKey(spark, idx, userId, buckets)
    receipt
  }

  private def forgetImpl(spark: SparkSession, bronzeDir: String,
                         warehouseDir: String, userId: Long,
                         bronzeBatches: Option[Seq[Any]]): Receipt = {
    import spark.implicits._
    val keep: Column = !(col("user_id") <=> lit(userId))
    val silverDir = s"$warehouseDir/silver_sessions"
    val userGold = IncrementalGold.UserGoldTable
    val userGoldDir = s"$warehouseDir/$userGold"
    val quarDir = s"$warehouseDir/quarantine_events"
    val receipts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

    // The aggregate-gold recompute scope, gathered BEFORE any purge:
    // every date the user contributed to, visible from silver or the
    // user gold — merged with the durable sidecar of a crashed prior
    // attempt (whose purges may have erased the rows these dates came
    // from), then re-persisted before anything mutates.
    val affectedDates: Seq[java.sql.Date] =
      (Seq(silverDir, userGoldDir)
        .flatMap(readIfData(spark, _)).flatMap { t =>
          t.filter(!keep).select(col("datetime")).distinct()
            .collect().map(_.getDate(0))
        } ++ loadPendingDates(spark, warehouseDir, userId)).distinct
    if (affectedDates.nonEmpty)
      savePendingDates(spark, warehouseDir, userId, affectedDates)

    // Only an op that will PUBLISH reserves an id — a no-op forget
    // (unknown user) must not widen the id space.
    val batchId = Pipeline.reserveCdcId(spark, bronzeDir, warehouseDir,
      publish = affectedDates.nonEmpty)

    // 1. Bronze: rewrite only the batch partitions holding the user.
    // The scope comes either from a full scan (the default path) or
    // from the caller's KeyIndex lookup — in which case bronze is only
    // ever READ partition-pruned to the batches being rewritten.
    readIfData(spark, bronzeDir).foreach { bronze =>
      val scoped = bronzeBatches.fold(bronze)(batches =>
        bronze.filter(col("batch_id").isin(batches: _*)))
      receipts += ("bronze" ->
        MergeUpsert.eraseFailing(spark, bronzeDir, scoped, keep))
    }

    // 2. Silver / user gold: empty recompute of the user scope —
    // scope rows drop, emptied date partitions delete.
    def purgeScoped(dir: String, name: String): Long =
      readIfData(spark, dir).map { t =>
        val n = t.filter(!keep).count()
        receipts += (name -> n)
        MergeUpsert.upsertScoped(spark, dir, t.filter(lit(false)),
          Seq("user_id"), Seq(userId).toDF("user_id"))
        n
      }.getOrElse(0L)
    val silverPurged = purgeScoped(silverDir, "silver_sessions")

    // 3. Aggregate golds: recompute the affected dates from the purged
    // silver; tables that already publish CDC publish this delta too.
    // A silver the purge EMPTIED has no rows and no schema to
    // recompute from — the affected dates then converge to absence
    // directly, which is what the empty recompute would stage, with
    // the deletion delta published all the same.
    if (affectedDates.nonEmpty) {
      val silver = readIfData(spark, silverDir)
      IncrementalGold.dateGolds.foreach { g =>
        val dir = s"$warehouseDir/${g.table}"
        if (exists(spark, dir)) {
          if (silver.isEmpty)
            receipts += (s"${g.table} (empty-silver date purge)" ->
              readIfData(spark, dir).map(
                _.filter(col("datetime").isin(affectedDates: _*)).count())
                .getOrElse(0L))
          g.delta(spark, silver, dir, affectedDates,
            Option.when(ChangeLog.hasLog(spark, dir))(batchId),
            producer = "forget")
        }
      }
    }
    val userGoldPurged = purgeScoped(userGoldDir, userGold)

    // 4. User-keyed change logs: erase the user's images, then
    // invalidate every view registered on a log whose inputs this op
    // rewrote — whether through the log purge or through step 2's
    // (deliberately unlogged) table purge, the view's state no longer
    // equals seed + applied spans, and its next refresh must re-seed.
    def purgeLog(dir: String, name: String, tablePurged: Long): Unit = {
      val n = ChangeLog.purge(spark, dir, keep)
      receipts += (s"${name}_changelog" -> n)
      if (n > 0 || tablePurged > 0)
        Consumers.invalidateAll(spark, dir)
    }
    purgeLog(silverDir, "silver_sessions", silverPurged)
    purgeLog(userGoldDir, userGold, userGoldPurged)

    // 5. Quarantine: the user's rejected raw rows, per source batch.
    readIfData(spark, quarDir).foreach { q =>
      receipts += ("quarantine_events" ->
        MergeUpsert.eraseFailing(spark, quarDir, q, keep))
    }
    // Complete: the durable date sidecar may retire.
    val pp = new Path(pendingPath(warehouseDir, userId))
    val pfs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (pfs.exists(pp)) pfs.delete(pp, false)
    Receipt(batchId, receipts.toSeq)
  }
}
