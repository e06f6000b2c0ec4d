package graft.runtime

import graft.silver.MergeUpsert
import graft.silver.MergeUpsert.readIfData
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** EVENT-TIME RETENTION over the incremental warehouse: expire every
  * row older than a cutoff date from bronze, silver, the golds, the
  * quarantine and the change logs — the cost-and-compliance twin of
  * [[Forget]] (that one erases a WHO, this one erases a WHEN). At
  * 100 TB this is the operation that keeps the warehouse from growing
  * without bound, and it must be partition-shaped: the bill is
  * O(expired partitions + straddling batches), never a full rewrite
  * of what is kept.
  *
  * The retention CONTRACT — deliberately NOT "equals a recompute from
  * truncated bronze": retained partitions keep the values they were
  * computed with. A date-D gold row near the boundary was legitimately
  * derived from data that included now-expired days (retention
  * self-joins read yesterday, user metrics lag across days); expiry
  * removes OLD ROWS, it does not rewrite retained history — that is
  * what makes it O(expired), and it is what every production retention
  * policy means. The invariants are: (1) no surface holds a row older
  * than the cutoff, (2) retained partitions are byte-untouched,
  * (3) downstream consumers learn exactly what vanished.
  *
  * Invariant (3) splits by the same image classification [[Forget]]
  * established:
  *
  *  - ROW-IMAGE-BEARING logs (silver sessions, the user-keyed gold):
  *    their entries carry the expired rows' images, and a retention
  *    run that published a "deletion delta" full of those images would
  *    keep the very data it expires. Those logs are PURGED of
  *    expired-date images ([[ChangeLog.purge]] — `datetime` is part of
  *    both row keys, so the predicate hits key columns directly), and
  *    every registered view of a purged log is INVALIDATED
  *    ([[Consumers]] → [[MaterializedView.invalidate]]): its next
  *    refresh re-seeds from the truncated base. Unregistered consumers
  *    get the out-of-band compliance signal, the standing CDC caveat.
  *  - AGGREGATE golds (episode/webtoon/platform/country/sketch):
  *    aggregates are not the expired data — their date-partition
  *    deletions PUBLISH as ordinary change-log entries (each gold's
  *    [[IncrementalGold.DateGold.converge]] with no silver, at its
  *    registered grain and log view), so log-driven views stay
  *    maintainable with no re-seed.
  *
  * Publish-id discipline: as in [[Forget]], the aggregate deltas
  * publish at the id [[Pipeline.reserveCdcId]] reserves, one past
  * every watermark, with the durable CDC id offset bumped past it
  * BEFORE publishing, so the chain's next engine-epoch id cannot
  * collide; [[ChangeLog.recordBatch]]'s producer guard backstops.
  *
  * Crash/retry: every step scopes from its OWN surface's current
  * content, so a retry expires exactly what remains and converges; a
  * second run at the same cutoff is a receipt of zeros. Single-writer,
  * like every maintenance op here. Bronze batches that STRADDLE the
  * cutoff are rewritten in place keeping only young rows — their
  * batch ids never change, so incremental lineage holds. */
object Retention {

  /** One expired surface: table name → rows removed. */
  case class Receipt(batchId: Long, expired: Seq[(String, Long)]) {
    def total: Long = expired.map(_._2).sum
  }

  /** Durable scope of the pending key-index reconcile — written
    * before the bronze rewrites erase the evidence of which batches
    * were touched, cleared only after the index rewrite lands. */
  private def pendingBatchesPath(warehouseDir: String) =
    new Path(s"$warehouseDir/retention_pending/batches")

  private def savePendingBatches(spark: SparkSession,
                                 warehouseDir: String,
                                 batches: Seq[Long]): Unit =
    Incremental.writeText(spark, pendingBatchesPath(warehouseDir),
      batches.sorted.mkString("\n"))

  private def loadPendingBatches(spark: SparkSession,
                                 warehouseDir: String): Seq[Long] =
    Incremental.readText(spark, pendingBatchesPath(warehouseDir))
      .toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
      .map(_.toLong)

  private def clearPendingBatches(spark: SparkSession,
                                  warehouseDir: String): Unit = {
    val p = pendingBatchesPath(warehouseDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Expire every row with event time strictly before `cutoff` (rows
    * AT the cutoff date are retained). Bronze/quarantine age by
    * `to_date(ts)`; silver and the golds by their `datetime`
    * partition column. */
  def expireBefore(spark: SparkSession, bronzeDir: String,
                   warehouseDir: String, cutoff: java.sql.Date,
                   keyIndexCol: Option[String] = Some("user_id"))
      : Receipt = {
    val receipts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val silverDir = s"$warehouseDir/silver_sessions"
    val userGold = IncrementalGold.UserGoldTable
    val userGoldDir = s"$warehouseDir/$userGold"
    val quarDir = s"$warehouseDir/quarantine_events"
    val old: Column = to_date(col("ts")) < lit(cutoff)
    val oldDt: Column = col("datetime") < lit(cutoff)

    // Will any aggregate gold publish? Only then is an id reserved
    // (a no-op retention must not widen the id space) — the Forget
    // discipline.
    val willPublish = IncrementalGold.dateGolds.exists { g =>
      val dir = s"$warehouseDir/${g.table}"
      ChangeLog.hasLog(spark, dir) &&
        readIfData(spark, dir).exists(d => !d.filter(oldDt).isEmpty)
    }
    val batchId = Pipeline.reserveCdcId(spark, bronzeDir, warehouseDir,
      publish = willPublish)

    // 1./2. Bronze and quarantine (batch_id-partitioned, raw-event
    // shaped): batches wholly old delete; straddlers rewrite in place
    // keeping young rows — batch ids never move. The index-reconcile
    // scope persists DURABLY before the bronze rewrite erases the
    // evidence (the Forget pendingDates pattern): a crash after the
    // bronze rewrite but before the index rewrite would otherwise
    // leave a retry with no way to know which batches' pairs went
    // stale.
    def expireBatched(dir: String, name: String,
                      beforeRewrite: Seq[Any] => Unit = _ => ()): Unit =
      readIfData(spark, dir).foreach { t =>
        receipts += (name -> MergeUpsert.eraseFailing(spark, dir, t, !old,
          beforeRewrite = beforeRewrite))
      }
    expireBatched(bronzeDir, "bronze", batches =>
      if (keyIndexCol.isDefined)
        savePendingBatches(spark, warehouseDir,
          (loadPendingBatches(spark, warehouseDir) ++
            batches.map(_.toString.toLong)).distinct))
    expireBatched(quarDir, "quarantine_events")

    // Bronze's key index, when one is maintained ([[KeyIndex]],
    // `SilverLoop(keyIndex)`): its (key, batch) pairs for expired
    // batches are now stale — harmless to lookups (a pruned read of a
    // dropped partition is empty), but unbounded growth AND retained
    // personal data: a user whose every row expired would stay
    // enumerable from the index. Rewrite it once — drop pairs of the
    // touched batches, re-derive pairs from the touched batches'
    // CURRENT (post-rewrite) partitions, so straddlers' survivors
    // re-enter and expired-only users leave. Scope comes from the
    // durable sidecar, so a crash-interrupted run reconciles on
    // retry. O(index + touched partitions); the index watermark is
    // untouched (it bounds batch IDS, which never moved).
    // `keyIndexCol` names the indexed key (None skips the index).
    keyIndexCol.foreach { keyCol =>
      val idxDir = KeyIndex.dirFor(bronzeDir)
      val touched = loadPendingBatches(spark, warehouseDir)
      if (touched.nonEmpty && readIfData(spark, idxDir).isDefined) {
        val idx = spark.read.parquet(idxDir)
        val dropped = idx.filter(col("batch_id").isin(touched: _*))
          .count()
        receipts += ("bronze_keyindex_pairs" -> dropped)
        if (dropped > 0) {
          val kept = idx.filter(!col("batch_id").isin(touched: _*))
            .select(col("key"), col("batch_id"), col("bucket"))
          // The index's PINNED bucket count, never a default: a
          // reconcile hashing with the wrong count would file the
          // re-derived pairs into buckets lookup never probes —
          // silent under-scoping of forgetUserIndexed (the failure
          // mode the Scd2Store layout pin exists to prevent). Fails
          // loud on an unpinned index rather than guessing.
          val idxBuckets = KeyIndex.requireBuckets(spark, idxDir)
          val rederived = readIfData(spark, bronzeDir)
            .map(_.filter(col("batch_id").isin(touched: _*))
              .select(col(keyCol).as("key"), col("batch_id"))
              .distinct()
              .withColumn("bucket",
                expr(KeyIndex.bucketExpr("key", idxBuckets))))
            .getOrElse(kept.filter(lit(false)))
          MergeUpsert.replaceAll(spark, idxDir,
            kept.unionByName(rederived), partitionCol = "bucket")
        }
      }
      clearPendingBatches(spark, warehouseDir)
    }

    // 3. Silver and the user gold (datetime-partitioned, row-image
    // logs): delete the expired date partitions, PURGE the expired
    // images from their logs, invalidate registered views.
    def expireRowImaged(dir: String, name: String): Unit = {
      val tablePurged = readIfData(spark, dir).map { t =>
        val dates = t.filter(oldDt).select(col("datetime")).distinct()
          .collect().map(_.getDate(0)).toIndexedSeq
        val n = if (dates.isEmpty) 0L
          else t.filter(col("datetime").isin(dates: _*)).count()
        receipts += (name -> n)
        if (dates.nonEmpty)
          MergeUpsert.replacePartitions(spark, dir,
            t.filter(lit(false)), dates)
        n
      }.getOrElse(0L)
      val logPurged = ChangeLog.purge(spark, dir, col("datetime") >= lit(cutoff))
      receipts += (s"${name}_changelog" -> logPurged)
      if (tablePurged > 0 || logPurged > 0)
        Consumers.invalidateAll(spark, dir)
    }
    expireRowImaged(silverDir, "silver_sessions")
    expireRowImaged(userGoldDir, userGold)

    // 4. Aggregate golds: date-partition deletions published as
    // ordinary change-log entries (log-driven views stay
    // maintainable). Each scopes its dates from its own surface, and
    // expires exactly those dates — no halo: retained partitions keep
    // the values they were computed with.
    IncrementalGold.dateGolds.foreach { g =>
      val dir = s"$warehouseDir/${g.table}"
      readIfData(spark, dir).foreach { t =>
        val dates = t.filter(oldDt).select(col("datetime")).distinct()
          .collect().map(_.getDate(0)).toIndexedSeq
        receipts += (g.table -> (if (dates.isEmpty) 0L
          else t.filter(col("datetime").isin(dates: _*)).count()))
        g.converge(spark, None, dir, dates,
          Option.when(ChangeLog.hasLog(spark, dir))(batchId),
          producer = "retention")
      }
    }
    Receipt(batchId, receipts.toSeq)
  }
}
