package graft.runtime

import graft.ops.{Scd2, TableDiff}
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-batch CDC change-log publication for merge-maintained tables —
  * [[graft.ops.TableDiff]] composed with the incremental chain
  * ([[Pipeline.runDailyIncremental]]). A [[MergeUpsert]] write mutates
  * partitions in place, so a downstream consumer of a gold table cannot
  * see WHAT a batch changed (the reference's Silver MERGE INTO,
  * `silver_user_session_events.py:149-186`, has the same blind spot);
  * every change-data-capture consumer — cache invalidation, downstream
  * incremental jobs, audit — needs the per-batch delta as a table.
  *
  * [[recordBatch]] wraps one maintenance write: persist the scoped
  * before-image of the target DURABLY (next to the log), run the
  * write, diff before/after on the table's row key, and publish the
  * non-`unchanged` rows as the batch's log entry. The log is itself a
  * `batch_id`-partitioned table (the [[Incremental]] layout, so
  * [[Incremental.readAsOf]]/`readSince` work on it), landed via
  * [[MergeUpsert.replacePartitions]] on the batch partition — a
  * RETRIED batch converges to its own entry instead of appending a
  * duplicate, and a no-op delta (redelivered ingest) publishes an
  * EMPTY entry. Entries carry both row images (`o_*`/`n_*`) plus
  * `changed_cols`, so the log alone supports [[replay]].
  *
  * Crash/retry safety — the at-least-once replay of the incremental
  * chain (re-consume from the old watermark) re-runs `write` as an
  * idempotent no-op, which makes the live table USELESS as a
  * before-image on retry (before == after ⇒ empty diff ⇒ the retry
  * would erase the real entry). Two durable markers close every
  * window:
  *
  *  1. The before-image is persisted to a `_changelog_pre` sibling
  *     directory BEFORE the write runs, and deleted only AFTER the
  *     entry is published. A retry that finds a committed pre-image
  *     (crash during the write, or after the write but before the
  *     publish) diffs against the TRUE pre-batch state and publishes
  *     the real entry.
  *  2. A retry that finds the batch's log partition already published
  *     WITHOUT a pre-image can only mean the batch completed its
  *     publish (the pre-image outlives every earlier failure mode) —
  *     the write re-runs for table convergence and the published
  *     entry is KEPT, never recomputed from a post-batch "before"
  *     image.
  *
  * Schema evolution: every snapshot/log read passes
  * `mergeSchema = true`, so a table evolved additively mid-history
  * (the opt-in [[MergeUpsert.upsert]] path) reads under the UNION of
  * its files' schemas — entries published before the evolution carry
  * NULL for the new columns (the parquet widen-with-nulls semantics),
  * and [[netDiff]]/[[replay]] operate on the union schema
  * (ChangeLogSpec proves netDiff == endpoint diff and
  * replay == snapshot across an evolution between batches).
  *
  * Scale shape: the before/after reads are scoped to the partitions
  * the write can touch (the same affected-scope frames the incremental
  * chain already derives), so the per-batch CDC bill is
  * O(affected slice) — delta-scaled, like the maintenance it records
  * (the durable pre-image write costs what the old localCheckpoint
  * materialization did, paid to the warehouse filesystem instead of
  * the block manager, and is what buys crash safety); the diff itself
  * is ONE co-partitioned full-outer join ([[TableDiff.diff]]'s scale
  * argument), and nothing collects. Unbounded partition growth — one
  * `batch_id` partition per update forever, ~52k/year at the
  * reference's 10-minute silver cadence (`airflow/dags/silver_dag
  * .py:142`) — is bounded by [[checkpoint]], the watermark-safe
  * collapse of old entries into one net base entry. */
object ChangeLog {

  /** The log of the table at `tableDir` lives beside it. */
  def logDir(tableDir: String): String =
    tableDir.stripSuffix("/") + "_changelog"

  /** Pre-images live in a SIBLING directory, never under the log
    * root: the log's first-ever publish takes [[MergeUpsert]]'s
    * initial-write branch, whose `mode("overwrite")` clears the whole
    * log directory — a pre-image stored inside it would be destroyed
    * BEFORE the entry is durable, re-opening the crash window the
    * pre-image exists to close (a partial first publish would then
    * read as "published" and be kept). */
  private def preImagePath(tableDir: String, batchId: Long): Path =
    new Path(logDir(tableDir) + "_pre", s"batch-$batchId")

  /** Commit marker of a durable pre-image: written LAST, so a
    * directory without it is a crashed partial write and is rebuilt. */
  private val PreCommitMarker = "_GRAFT_PRE_COMMITTED"

  /** The producer name the incremental chain publishes under. */
  val DefaultProducer = "maintenance"

  /** Durable record of WHO published each live entry — a marker file
    * per batch id in the `_pre` sibling (outside the log root, which
    * the first publish's `mode("overwrite")` would wipe). It exists
    * for one failure mode: two PRODUCERS colliding on one id. The
    * keep-entry-on-republish rule reads "published without a
    * pre-image ⇒ this batch already completed", which is only true
    * when the republisher IS the original producer — a compliance op
    * ([[Forget.forgetUser]]) publishing at an id the streaming
    * engine's epoch counter later reuses would otherwise have its
    * entry silently KEPT while the chain's own delta is silently
    * DROPPED (or vice versa). With the marker, [[recordBatch]] fails
    * LOUD on a foreign-producer collision instead. The id spaces are
    * kept apart structurally by [[Pipeline.cdcIdOffset]]; this guard
    * is the backstop for callers outside that discipline. */
  private def producerMarkerDir(tableDir: String): Path =
    new Path(logDir(tableDir) + "_pre")

  private def producerMarkerName(batchId: Long, producer: String) =
    s"producer-$batchId-$producer"

  private def producerOf(fs: org.apache.hadoop.fs.FileSystem,
                         tableDir: String,
                         batchId: Long): Option[String] = {
    val d = producerMarkerDir(tableDir)
    if (!fs.exists(d)) return None
    val prefix = s"producer-$batchId-"
    fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .find(_.startsWith(prefix))
      .map(_.stripPrefix(prefix))
  }

  private def writeProducerMarker(fs: org.apache.hadoop.fs.FileSystem,
                                  tableDir: String, batchId: Long,
                                  producer: String): Unit = {
    val d = producerMarkerDir(tableDir)
    val prefix = s"producer-$batchId-"
    if (fs.exists(d))
      fs.listStatus(d).filter { st =>
        val n = st.getPath.getName
        n.startsWith(prefix) && n != prefix + producer
      }.foreach(st => fs.delete(st.getPath, false))
    touch(fs, new Path(d, producerMarkerName(batchId, producer)))
  }

  /** Sweep producer markers whose entries a [[checkpoint]] fold
    * retired (ids below the boundary) — bounds the sidecar. */
  private def sweepProducerMarkers(fs: org.apache.hadoop.fs.FileSystem,
                                   tableDir: String,
                                   below: Long): Unit = {
    val d = producerMarkerDir(tableDir)
    if (!fs.exists(d)) return
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("producer-")) {
        val id = n.stripPrefix("producer-").takeWhile(_ != '-')
        if (id.nonEmpty && id.forall(_.isDigit) && id.toLong < below)
          fs.delete(st.getPath, false)
      }
    }
  }

  /** Marks a pre-image of an empty (or absent) scoped slice — an empty
    * frame may leave no parquet footer to re-read a schema from. */
  private val PreEmptyMarker = "_GRAFT_PRE_EMPTY"

  /** Collapse boundary marker under the log dir ([[checkpoint]]). */
  private val CollapseMarker = "_collapsed_up_to"

  private def touch(fs: org.apache.hadoop.fs.FileSystem,
                    p: Path): Unit = {
    val out = fs.create(p, true)
    out.close()
  }

  /** Widen `df` with NULL columns for every field of `other` it
    * lacks — the union-schema view two differently-evolved snapshots
    * are compared under. */
  private def alignToUnion(df: DataFrame,
                           other: org.apache.spark.sql.types.StructType)
      : DataFrame =
    other.fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Wrap one maintenance write of the keyed table at `tableDir` (row
    * key `keys`, at most one row per key — the [[TableDiff.diff]]
    * snapshot contract): publish what `write` changed as batch
    * `batchId`'s log entry. `scope` restricts both snapshot reads to
    * the slice the write can touch; it MUST cover every partition the
    * write rewrites (a change outside the scope would go unrecorded)
    * and must be deterministic across retries of the same batch.
    * Crash/retry protocol in the object scaladoc. */
  def recordBatch(spark: SparkSession, tableDir: String,
                  keys: Seq[String], batchId: Long,
                  scope: DataFrame => DataFrame = identity,
                  producer: String = DefaultProducer)
                 (write: => Unit): Unit = {
    require(producer.nonEmpty && producer.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '.'),
      s"producer '$producer' must be a non-empty [A-Za-z0-9_.]+ token " +
        "(it names a durable marker file)")
    // The log's own partition column is batch_id: a diffed table whose
    // ROW KEY includes batch_id would collide (its key column would be
    // silently overwritten by the entry's batch stamp). Deliberate: a
    // batch-lineage table (quarantine, bronze) is already its own
    // per-batch change log — replacePartitions by source batch IS the
    // entry — so logging it again would duplicate the table.
    require(!keys.contains("batch_id"),
      "recordBatch cannot log a table keyed by batch_id: the log's " +
        "partition column would overwrite the key — a batch-lineage " +
        "table is already its own per-batch change log")
    val rootPath = new Path(tableDir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ld = logDir(tableDir)
    val preP = preImagePath(tableDir, batchId)
    val preCommitted = fs.exists(new Path(preP, PreCommitMarker))
    val published = fs.exists(new Path(ld, s"batch_id=$batchId"))
    if (published && !preCommitted) {
      // Retry after a completed publish (the pre-image is deleted only
      // once the entry is durable): the live table is post-batch, so a
      // fresh diff would be empty and would ERASE the real entry. Run
      // the write for table convergence; keep the entry — PROVIDED the
      // entry is OURS. A different producer's entry at this id is an
      // id-space collision, not a retry: keeping it would silently
      // drop THIS write's delta from the log (and recomputing would
      // silently erase theirs) — either way a consumer's
      // replay == snapshot contract breaks. Fail loud instead.
      producerOf(fs, tableDir, batchId).filter(_ != producer)
        .foreach { other =>
          sys.error(s"batch $batchId of $ld was published by producer " +
            s"'$other', not '$producer': publishing here would silently " +
            "drop one of the two deltas. Publish under an id past the " +
            "foreign entry — the incremental chain derives its ids " +
            "from the durable Pipeline.cdcIdOffset, which " +
            "Forget.forgetUser bumps past its own publishes; a custom " +
            "caller must pick ids past the log's high watermark")
        }
      write
      return
    }
    if (!preCommitted) {
      // First durable step — BEFORE the write mutates the table. Sweep
      // first: a crashed prior writer's .backup-* partition must be
      // restored before the before-image is taken, or the batch would
      // mis-report restored rows as `added`.
      fs.delete(preP, true) // a partial (uncommitted) leftover
      if (MergeUpsert.sweepAndHasData(fs, rootPath))
        scope(spark.read.option("mergeSchema", "true").parquet(tableDir))
          .write.mode("overwrite").parquet(preP.toString)
      if (!fs.exists(preP)) fs.mkdirs(preP)
      val hasFooter = fs.listStatus(preP).exists { f =>
        f.isFile && f.getPath.getName.endsWith(".parquet") && f.getLen > 0
      }
      if (!hasFooter) touch(fs, new Path(preP, PreEmptyMarker))
      touch(fs, new Path(preP, PreCommitMarker))
    }
    write
    // The post-image read must survive a write that EMPTIED the table
    // (full-horizon retention, a zero-row recompute): an emptied
    // directory has no parquet footer to infer a schema from, and
    // reading it blind would crash AFTER the write ran — leaving the
    // pre-image pending and every retry re-crashing (a poison batch).
    // The schema then comes from the pre-image; empty→empty has no
    // delta AND no schema anywhere — nothing to publish, the pre-image
    // simply retires (an absent entry is exactly how empty batches
    // publish).
    val preEmpty = fs.exists(new Path(preP, PreEmptyMarker))
    val tableHasData = MergeUpsert.sweepAndHasData(fs, rootPath)
    if (!tableHasData && preEmpty) { fs.delete(preP, true); return }
    val base =
      if (preEmpty) None else Some(spark.read.parquet(preP.toString))
    val after =
      if (tableHasData)
        scope(spark.read.option("mergeSchema", "true").parquet(tableDir))
      else base.get.filter(lit(false))
    val before = base.getOrElse(after.filter(lit(false)))
    // Align both images to the UNION schema before diffing: the write
    // may have evolved the table additively, and TableDiff's
    // intersection rule would otherwise DROP the new column from the
    // evolution batch's entry — the log would never learn the column
    // existed, and replay would reproduce a pre-evolution table. A
    // column absent on one side reads as NULL there (the same
    // widen-with-nulls semantics every mergeSchema read applies), so
    // the evolution batch honestly logs null→value changes.
    val entry = TableDiff.diff(alignToUnion(before, after.schema),
        alignToUnion(after, before.schema), keys)
      .filter(col("diff_status") =!= "unchanged")
      .withColumn("batch_id", lit(batchId))
    MergeUpsert.replacePartitions(spark, ld, entry,
      Seq(batchId), partitionCol = "batch_id")
    // Entry durable: stamp the producer (the collision guard above
    // reads it), then retire the pre-image. A crash between the two
    // marker steps is benign — the pre-image outlives it, so a retry
    // re-publishes and re-stamps.
    writeProducerMarker(fs, tableDir, batchId, producer)
    fs.delete(preP, true)
  }

  /** The accumulated log, or None while no batch has published rows.
    * (An all-empty log directory carries no parquet footer to infer a
    * schema from — callers that need a frame for an empty log should
    * treat None as "no net changes".) Read under the UNION schema
    * (`mergeSchema`): a log whose table evolved mid-history must not
    * drop the evolved columns because Spark sampled an old footer. */
  def readLog(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val p = new Path(logDir(tableDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && n.startsWith("batch_id=")
    }
    if (hasData)
      Some(spark.read.option("mergeSchema", "true").parquet(logDir(tableDir)))
    else None
  }

  /** The collapse boundary ([[checkpoint]]), if one has been taken:
    * every entry with `batch_id <= boundary` has been folded into the
    * single net base entry AT the boundary. */
  def collapseBoundary(spark: SparkSession,
                       tableDir: String): Option[Long] =
    Incremental.loadWatermark(spark, s"${logDir(tableDir)}/$CollapseMarker")

  /** Consumer tail of the log from a watermark — the loud-failing form
    * of `Incremental.readSince` for a log that may have been
    * [[checkpoint]]-collapsed. A watermark BEHIND the collapse
    * boundary fails loud: the entries it still owes were folded into
    * the base entry, and silently returning the base would double-
    * apply history the consumer already saw. (`Incremental.readSince`
    * would instead fall back to the FULL table on an unknown
    * watermark — right for a bronze feed, silently-wrong for a CDC
    * tail.) `since = None` replays from the log's origin, which a
    * collapse preserves (the base entry is the net of what it
    * folded). A watermark at or past the boundary filters as usual —
    * `batch_id > wm` over-reads nothing even when `wm` itself has no
    * partition (an empty entry is published as absence). */
  def readSince(spark: SparkSession, tableDir: String,
                since: Option[Long]): Option[DataFrame] =
    readLog(spark, tableDir).map { log =>
      since match {
        case None => log
        case Some(wm) =>
          collapseBoundary(spark, tableDir).foreach { b =>
            require(wm >= b,
              s"consumer watermark $wm predates the collapse boundary " +
                s"$b of ${logDir(tableDir)}: its unconsumed entries were " +
                "folded into the base entry — re-seed the consumer from " +
                "a table snapshot, then tail from the boundary")
          }
          log.filter(col("batch_id") > wm)
      }
    }

  /** The NET change between two positions: exactly what a consumer
    * holding the table's state at `p0` must apply to hold it at `p1`
    * — [[netDiff]] of the (p0, p1] span, so intermediate churn
    * inside the window telescopes away (a change reverted within it
    * nets to nothing, an add-then-remove never appears). `p0` obeys
    * the collapse boundary ([[readSince]]); `p1` past the head just
    * clamps to it. Log-scale: one bounded partition-pruned scan into
    * the one netDiff aggregate + diff join. */
  def changesBetween(spark: SparkSession, tableDir: String,
                     keys: Seq[String], p0: Long, p1: Long): DataFrame = {
    require(p0 <= p1, s"changesBetween($p0, $p1): p0 must be <= p1")
    val span = readSince(spark, tableDir, Some(p0)).getOrElse(
      sys.error(s"no change log under ${logDir(tableDir)}"))
      .filter(col("batch_id") <= p1)
    netDiff(span, keys)
  }

  /** TIME TRAVEL over a merge-maintained table, from the log alone:
    * reconstruct the table's snapshot AS OF position `pos` (the state
    * after entry `pos` published, before `pos + 1`) out of the
    * CURRENT table and the entries SINCE `pos` — no stored snapshots,
    * no replay-from-origin. [[Incremental.readAsOf]] answers this for
    * batch-append layouts (bronze, the logs themselves); a
    * merge-maintained table rewrites partitions in place and has no
    * multi-version storage — but its log carries every o_ pre-image,
    * so the inverse reconstruction is one log-scale aggregate plus
    * one co-partitioned anti-join:
    *
    *  - keys untouched since `pos` carry their CURRENT image;
    *  - a touched key's image at `pos` is its FIRST later entry's
    *    `o_*` (the state just before its first post-`pos` change) —
    *    and `added` there means the key did not exist at `pos`.
    *
    * O(current + log since pos) — the bill grows with the DISTANCE
    * travelled, not with history depth. `pos` must be at/past the
    * collapse boundary ([[readSince]] fails loud behind it: those
    * pre-images were folded). Under additive schema evolution the
    * reconstruction lands in the union schema (pre-evolution images
    * carry NULL for later columns — the same contract as
    * [[netDiff]]/[[replay]]). Columns are the LOG's keys + values:
    * exactly the surface the log can faithfully reconstruct.
    *
    * Erasure semantics, deliberate: after [[Forget.forgetUser]] or
    * [[Retention.expireBefore]] PURGED row images from this log, the
    * reconstruction is the history in which those rows never existed
    * — time travel must not resurrect what compliance erased. Rows
    * removed by orderly (logged) deletion, including whole-table
    * wipes, DO reconstruct. */
  def snapshotAt(spark: SparkSession, tableDir: String,
                 keys: Seq[String], pos: Long): DataFrame = {
    val span = readSince(spark, tableDir, Some(pos)).getOrElse(
      sys.error(s"no change log under ${logDir(tableDir)} — " +
        "snapshotAt reconstructs history from the log; enable CDC " +
        "on the table first"))
    val vals = valCols(span, keys)
    val firstS = struct(
      (col("diff_status") +: vals.map(c => col(s"o_$c"))): _*)
    val first = span.groupBy(keys.map(col): _*)
      .agg(min_by(firstS, col("batch_id")).as("_first"))
      .localCheckpoint() // log-scale; feeds both the anti-join and restore
    val restored = first
      .filter(col("_first.diff_status") =!= "added")
      .select(keys.map(col) ++
        vals.map(c => col(s"_first.o_$c").as(c)): _*)
    // A table emptied by a delete-capable write has no parquet footer
    // to read a schema from — the history is then carried ENTIRELY by
    // the log's pre-images (every current row was removed, so every
    // key at `pos` is a restored one).
    val tp = new Path(tableDir)
    val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!tfs.exists(tp) || !MergeUpsert.sweepAndHasData(tfs, tp))
      return restored
    val current = spark.read.option("mergeSchema", "true")
      .parquet(tableDir)
    val untouched = current
      .join(first.select(keys.map(col): _*), keys, "left_anti")
      .select(keys.map(col) ++ vals.map(col): _*)
    untouched.unionByName(restored, allowMissingColumns = true)
  }

  /** Watermark-safe retention: fold every entry with
    * `batch_id <= upToBatch` into ONE net base entry at `upToBatch`
    * (via [[netDiff]] — a reverted change nets out, an added-then-
    * removed key vanishes), dropping the folded partitions. Bounds the
    * log's partition count — one partition per update forever is a
    * metadata scale-killer at a 10-minute cadence — while preserving
    * both consumer contracts: `replay(origin, collapsedLog)` equals
    * `replay(origin, fullLog)` (the base entry's `o_*` are the
    * pre-history images, its `n_*` the boundary images), and a
    * consumer at or past the boundary sees identical entries. The
    * caller passes the MINIMUM consumer watermark as `upToBatch`; a
    * consumer left behind the boundary fails loud in [[readSince]].
    *
    * Ordering: the boundary marker is advanced BEFORE the partition
    * fold, so a crash between the two steps fails conservatively
    * (a behind-boundary consumer is refused while its entries still
    * exist) rather than silently double-serving. Idempotent: the net
    * of a net is itself. Returns true if a fold ran.
    *
    * Consumer safety is DERIVED, not trusted: the requested watermark
    * first clamps to the minimum REGISTERED consumer position
    * ([[Consumers.minPosition]] — every persisted view refresh,
    * [[StarJoinView]] or [[MaterializedView.refreshByRecompute]],
    * registers itself; custom tails register via
    * [[Consumers.register]]). A laggard registered view therefore
    * BLOCKS the fold past its position — the collapse simply stops at
    * the laggard and proceeds once it catches up — converting the one
    * silent-operational-loss mode (collapse past a view ⇒ forced full
    * re-seed) into impossibility. Unregistered consumers remain the
    * caller's discipline, exactly as before.
    *
    * Staleness is SURFACED, never overridden: a consumer that clamps
    * the fold for [[Consumers.WarnAfterClamps]] successive checkpoints
    * at the same position is named in a loud warning with the remedy
    * (catch it up, or `unregister` a decommissioned one) — a dead
    * registration still blocks (only an operator can know it is dead;
    * correctness first), but it can no longer block silently while the
    * log grows unbounded ([[Consumers.noteClamp]] scaladoc). */
  def checkpoint(spark: SparkSession, tableDir: String,
                 keys: Seq[String], upToBatch: Long): Boolean = {
    val ld = logDir(tableDir)
    val regs = Consumers.list(spark, tableDir).filterNot(_.observer)
    val minPos = regs.map(_.position).minOption
    val upTo = minPos.fold(upToBatch)(math.min(upToBatch, _))
    // Ledger update: blockers are the consumers AT the clamped
    // boundary when the caller asked to fold further; an unclamped
    // checkpoint clears the ledger (every blocker advanced).
    Consumers.noteClamp(spark, tableDir,
      if (upTo < upToBatch) regs.filter(_.position == upTo) else Seq.empty)
    val committed = Incremental.batches(spark, ld)
    // The effective boundary CLAMPS to the highest committed partition
    // at/under the requested watermark: empty entries are published as
    // ABSENCE, so a consumer watermark may legitimately exceed every
    // partition id — folding at the raw watermark would fabricate a
    // base entry at a batch id the log never wrote, and a consumer
    // between the last real entry and the watermark would be refused
    // for history it already has.
    val span = committed.filter(_ <= upTo)
    if (span.isEmpty) return false
    val b = span.max
    val fs = new Path(ld)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (span == Seq(b)) {
      // Single entry already at the boundary — record the watermark
      // (it may still advance past empty batches), fold nothing.
      Incremental.saveWatermark(spark, s"$ld/$CollapseMarker", b)
      sweepProducerMarkers(fs, tableDir, below = b)
      return false
    }
    val log = readLog(spark, tableDir).getOrElse(return false)
    val base = netDiff(log.filter(col("batch_id").cast("long") <= b), keys)
      .withColumn("batch_id", lit(b))
    Incremental.saveWatermark(spark, s"$ld/$CollapseMarker", b)
    MergeUpsert.replacePartitions(spark, ld, base, span,
      partitionCol = "batch_id")
    sweepProducerMarkers(fs, tableDir, below = b)
    true
  }

  /** COMPLIANCE override: rewrite the log in place, keeping only rows
    * satisfying `keep` — the right-to-be-forgotten path
    * ([[Forget.forgetUser]]). A change-log entry carries full row
    * IMAGES (`o_*`/`n_*`), so purging a subject from the tables while
    * their images persist in the log would defeat the erasure; this
    * deliberately BREAKS the replay contract for the purged keys (by
    * design — the contract becomes "a history in which they never
    * existed"; all other keys replay unchanged, ForgetSpec pins it).
    * Only partitions that actually hold matching rows rewrite
    * (metadata-scale batch-id collect); an entry purged empty becomes
    * absence, the empty-entry convention. Returns purged row count. */
  def purge(spark: SparkSession, tableDir: String, keep: Column): Long = {
    readLog(spark, tableDir).map { log =>
      val hit = log.filter(!keep)
      val nPurged = hit.count()
      if (nPurged > 0L) {
        val batches = hit.select(col("batch_id")).distinct()
          .collect().map(_.get(0)).toIndexedSeq
        MergeUpsert.replacePartitions(spark, logDir(tableDir),
          log.filter(col("batch_id").isin(batches: _*) && keep),
          batches, partitionCol = "batch_id")
      }
      nPurged
    }.getOrElse(0L)
  }

  /** The log as a Structured Streaming source — a downstream job tails
    * it with a CHECKPOINT instead of a watermark file: the
    * batch_id-partitioned layout is already a file-stream-source
    * directory, so this is `readStream` with the log's merged schema
    * (file sources cannot infer one). None while the log has no
    * entries to take a schema from. At-least-once caveats, documented
    * not hidden: a RETRIED batch swaps its partition to new files,
    * which a file-source consumer sees as fresh input (re-delivery of
    * the same entry); [[checkpoint]] collapse and file compaction
    * likewise rewrite files. [[mirrorBatch]]/[[mirror]] provide the
    * consumer-side discipline that absorbs all of it — a delta-
    * APPLYING consumer instead registers in [[Consumers]] and tails
    * with [[readSince]], the watermark discipline. */
  def stream(spark: SparkSession, tableDir: String): Option[DataFrame] =
    readLog(spark, tableDir).map { batchView =>
      spark.readStream.schema(batchView.schema).parquet(logDir(tableDir))
    }

  /** The idempotent-consumer discipline [[stream]]'s at-least-once
    * caveats demand, provided instead of delegated: a `foreachBatch`
    * body that keeps `sinkDir` an EXACTLY-ONCE mirror of the log.
    *
    * The trick is to treat the delivered rows as a NOTIFICATION, not
    * as content: a file-source redelivery (a retried batch's partition
    * re-swap, a [[checkpoint]] collapse rewrite, a compaction) hands
    * the consumer rows whose content may be a superseded transient —
    * deduping them on (batch_id, key) still has to pick WHICH delivery
    * wins, and inside one trigger there is nothing to order by. So the
    * mirror extracts only the DELIVERED BATCH IDS (metadata-scale) and
    * re-reads those partitions from the log itself — the authoritative
    * current state — landing them with the same partition-swap the log
    * uses. Re-running any prefix, suffix or interleaving of deliveries
    * converges to the log: the operation is a pure function of (log
    * state, delivered ids), and replaying it is idempotent.
    *
    * A [[checkpoint]] collapse is absorbed in two halves: the fold
    * REWRITES its boundary partition (the net base entry — new files,
    * redelivered, so the mirror refreshes that id) and DELETES the
    * folded partitions below it, which produce no files and hence no
    * notification — so every delivery also PRUNES mirrored ids below
    * the log's current collapse boundary. A fold that removes
    * anything always rewrites its boundary entry, so the prune is
    * always reached. This is why a mirror never needs the
    * [[Consumers]] collapse clamp: rewrites redeliver, deletions
    * prune, and the mirror re-converges — registration is for
    * delta-APPLYING consumers ([[StarJoinView]]), whose updates don't
    * commute. */
  def mirrorBatch(tableDir: String, sinkDir: String)
                 (entries: DataFrame, epoch: Long): Unit = {
    val spark = entries.sparkSession
    val bids = entries.select(col("batch_id")).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    if (bids.isEmpty) return
    val authoritative = readLog(spark, tableDir) match {
      case Some(log) => log.filter(col("batch_id").isin(bids: _*))
      case None => entries.filter(lit(false)) // log emptied meanwhile
    }
    MergeUpsert.replacePartitions(spark, sinkDir, authoritative, bids,
      partitionCol = "batch_id")
    collapseBoundary(spark, tableDir).foreach { b =>
      val folded = Incremental.batches(spark, sinkDir).filter(_ < b)
      if (folded.nonEmpty)
        MergeUpsert.replacePartitions(spark, sinkDir,
          authoritative.filter(lit(false)), folded,
          partitionCol = "batch_id")
    }
  }

  /** [[stream]] wired to [[mirrorBatch]]: a running query that keeps
    * `sinkDir` an exactly-once mirror of the table's change log, with
    * the stream checkpoint at `checkpointDir`. None while the log has
    * no entries to take a schema from (start it after the first
    * publish). `availableNow` drains-and-stops for batch-style runs. */
  def mirror(spark: SparkSession, tableDir: String, sinkDir: String,
             checkpointDir: String, availableNow: Boolean = false)
      : Option[org.apache.spark.sql.streaming.StreamingQuery] =
    stream(spark, tableDir).map { src =>
      val trigger =
        if (availableNow)
          org.apache.spark.sql.streaming.Trigger.AvailableNow()
        else org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("30 seconds")
      src.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch(mirrorBatch(tableDir, sinkDir) _)
        .start()
    }

  /** Value-column names of a log frame — every `o_`-prefixed NON-KEY
    * column (a key may itself start with `o_`, e.g. `o_orderkey`).
    * Safe because [[TableDiff.diff]]'s reserved-name guard refuses
    * tables whose own columns collide with the prefixes. */
  private def valCols(log: DataFrame, keys: Seq[String]): Seq[String] =
    log.columns.toSeq
      .filter(c => c.startsWith("o_") && !keys.contains(c))
      .map(_.stripPrefix("o_"))

  /** Collapse a (contiguous) span of log entries to its NET effect —
    * the single diff an endpoint-snapshot comparison would produce.
    * For each key, the span's FIRST entry carries the t0 image (its
    * `o_*` — the state just before the key's first in-span change) and
    * the LAST carries the t1 image (its `n_*`); presence at either
    * endpoint follows from those entries' statuses (`added` ⇒ absent
    * at t0, `removed` ⇒ absent at t1). Reconstituting the two endpoint
    * images as frames and diffing them with [[TableDiff.diff]] yields
    * exactly the endpoint comparison: a change a later batch reverted
    * nets to `unchanged` and is dropped, an added-then-removed key
    * appears in neither image. One hash aggregate on the key
    * (`min_by`/`max_by` over `batch_id`) feeds the one diff join, so
    * the collapse runs at log (not table) scale. Under mid-history
    * schema evolution the images live in the UNION schema (absent
    * column = NULL) — the endpoint comparison under the evolved
    * schema, which is the only schema both endpoints share.
    *
    * Deliberately NOT a per-column case-when over the aggregated
    * structs: that shape — status/changed-cols conditionals stacked on
    * struct-field extracts on an aggregate — sends Catalyst's
    * constraint propagation into a combinatorial alias expansion that
    * OOMs the driver at ~20 value columns. Routing through
    * [[TableDiff.diff]] keeps the expression depth flat (and reuses
    * the operator's proven plan shape). */
  def netDiff(log: DataFrame, keys: Seq[String]): DataFrame = {
    val vals = valCols(log, keys)
    val firstS = struct(
      (col("diff_status") +: vals.map(c => col(s"o_$c"))): _*)
    val lastS = struct(
      (col("diff_status") +: vals.map(c => col(s"n_$c"))): _*)
    val agg = log.groupBy(keys.map(col): _*).agg(
      min_by(firstS, col("batch_id")).as("_first"),
      max_by(lastS, col("batch_id")).as("_last"))
    val t0 = agg.filter(col("_first.diff_status") =!= "added")
      .select(keys.map(col) ++
        vals.map(c => col(s"_first.o_$c").as(c)): _*)
    val t1 = agg.filter(col("_last.diff_status") =!= "removed")
      .select(keys.map(col) ++
        vals.map(c => col(s"_last.n_$c").as(c)): _*)
    TableDiff.diff(t0, t1, keys)
      .filter(col("diff_status") =!= "unchanged")
  }

  /** Apply a (contiguous) span of log entries to the snapshot the span
    * started from: drop every net-touched key, then add back the
    * surviving keys' t1 images. `replay(snapshot(t0), log(t0..t1])`
    * must equal `snapshot(t1)` cell-for-cell — ChangeLogSpec proves it
    * across the incremental chain, including a deletion-carrying
    * recompute, a redelivered (empty-entry) batch, and an additive
    * schema evolution mid-span: value columns come from the LOG's
    * union schema, and the final union is name-aligned with
    * null-filling, so a base snapshot that predates the evolution
    * replays to the evolved snapshot (its untouched rows carry NULL
    * for the new columns — exactly what a mergeSchema read of the
    * evolved table returns for pre-evolution files). */
  def replay(base: DataFrame, log: DataFrame,
             keys: Seq[String]): DataFrame = {
    // Materialized: both the anti-join and the image projection read
    // the net frame, and it is log-scale (kilobytes per batch) — one
    // eager checkpoint beats re-planning the collapse twice.
    val net = netDiff(log, keys).localCheckpoint()
    val baseVals = base.columns.toSeq.filterNot(keys.contains)
    val logVals = valCols(log, keys)
    val untouched =
      base.join(net.select(keys.map(col): _*), keys, "left_anti")
    val updated = net.filter(col("diff_status") =!= "removed")
      .select(keys.map(col) ++ logVals.map(c => col(s"n_$c").as(c)): _*)
    untouched.select(keys.map(col) ++ baseVals.map(col): _*)
      .unionByName(updated, allowMissingColumns = true)
  }

  private def ts(d: String): Column = expr(s"timestamp'$d 00:00:00'")

  /** Build (once per JVM) the deterministic cdc_orders maintenance
    * history both registered CDC queries read: state0 (orders before
    * 1997-07) lands UNLOGGED as the pre-history baseline, then batch 1
    * adds Q3, batch 2 re-prioritizes 1997 LOW orders (touching both
    * baseline and Q3 rows), drops Jun/Sep NOT-SPECIFIED orders (a
    * baseline `removed` and an added-then-removed collapse), and
    * re-prioritizes some 1996 LOW orders that batch 3 REVERTS (a
    * changed-then-reverted collapse), and batch 3 adds Q4. Returns the
    * table path (log beside it). */
  private def ensureOrdersHistory(s: SparkSession, dir: String): String = {
    val table = graft.sim.AnnIndex.dir(s, dir, "cdc_orders")
    graft.sim.AnnIndex.ensure(table) {
      val fs = new Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(table, logDir(table), Consumers.dir(table), mviewDir(table),
          mviewDir(table) + "_pos", mviewDir(table) + "_cfg",
          minmaxDir(table), distinctDir(table),
          scd2Dir(table), scd2Dir(table) + "_pos",
          scd2Dir(table) + "_buckets",
          scd2ArchDir(table), scd2ArchDir(table) + "_pos",
          scd2ArchDir(table) + "_buckets", scd2ArchDir(table) + "_archive",
          scd2ArchDir(table) + "_archived_through")
        .foreach { d =>
          val p = new Path(d); if (fs.exists(p)) fs.delete(p, true)
        }
      val orders = s.read.parquet(s"$dir/orders.parquet")
      def lowToMed(from: String, to: String)(df: DataFrame) =
        df.withColumn("o_orderpriority",
          when(col("o_orderdate") >= ts(from) &&
            col("o_orderdate") < ts(to) &&
            col("o_orderpriority") === "5-LOW", lit("3-MEDIUM"))
            .otherwise(col("o_orderpriority")))
      def dropNotSpec(from: String, to: String)(df: DataFrame) =
        df.filter(!(col("o_orderpriority") === "4-NOT SPECIFIED" &&
          col("o_orderdate") >= ts(from) && col("o_orderdate") < ts(to)))
      val state0 = orders.filter(col("o_orderdate") < ts("1997-07-01"))
      val state1 = orders.filter(col("o_orderdate") < ts("1997-10-01"))
      val state2 = state1
        .transform(dropNotSpec("1997-06-01", "1997-07-01"))
        .transform(dropNotSpec("1997-09-01", "1997-10-01"))
        .transform(lowToMed("1997-01-01", "1997-10-01"))
        .transform(lowToMed("1996-01-01", "1996-04-01"))
      val state3 = orders.filter(col("o_orderdate") < ts("1998-01-01"))
        .transform(dropNotSpec("1997-06-01", "1997-07-01"))
        .transform(dropNotSpec("1997-09-01", "1997-10-01"))
        .transform(lowToMed("1997-01-01", "1997-10-01"))
      MergeUpsert.replaceAll(s, table, state0,
        partitionCol = "o_orderpriority")
      // Seed the PERSISTED priority view at state0 — before any batch
      // publishes — so the registered query's refresh must cross the
      // whole log ([[ordersPriorityViewPersisted]]).
      refreshPriorityView(s, table)
      // And the NON-distributive twin (min/max — recompute-refreshed),
      // seeded at the same pre-history position for the same reason.
      MaterializedView.refreshByRecompute(s, table, minmaxDir(table),
        Seq("o_orderkey"), priorityProject, Seq("o_orderpriority"),
        priorityMinMaxAgg, pruneDim = Some("o_orderpriority"))
      // And the EXACT-DISTINCT twin (countDistinct — no signed fold
      // can maintain it: a removed row may have carried a group's
      // last occurrence of a value), same pre-history seed.
      MaterializedView.refreshByRecompute(s, table, distinctDir(table),
        Seq("o_orderkey"), distinctProject, Seq("o_orderpriority"),
        priorityDistinctAgg, pruneDim = Some("o_orderpriority"))
      // And the incremental SCD2 store, seeded at the same pre-history
      // position — its registered refresh must extend the dimension
      // across the whole three-batch log incrementally.
      Scd2Store.refresh(s, table, scd2Dir(table), Seq("o_orderkey"),
        basePosition = 0L)
      Seq(state1, state2, state3).zipWithIndex.foreach { case (st, i) =>
        recordBatch(s, table, Seq("o_orderkey"), i + 1L)(
          MergeUpsert.replaceAll(s, table, st,
            partitionCol = "o_orderpriority"))
      }
    }
    table
  }

  /** Dedicated store for the history-compaction face — the SHARED
    * store ([[scd2Dir]]) must stay unsplit: `cdc_scd2_store_orders`
    * serves its FULL history through [[Scd2Store.read]], which by
    * contract sees only live buckets. */
  private def scd2ArchDir(table: String): String =
    table + "_scd2_archsplit"

  private def mviewDir(table: String): String = table + "_priority_view"
  private def minmaxDir(table: String): String =
    table + "_priority_minmax"
  private def distinctDir(table: String): String =
    table + "_priority_distinct"
  private def scd2Dir(table: String): String = table + "_scd2_store"

  /** The priority views' one measure: integer cents. */
  private val priorityMeasures: Seq[(String, Column)] =
    Seq("cents" -> round(col("o_totalprice") * 100, 0).cast("long"))

  /** Row-local projection of the recompute-refreshed priority views. */
  private def priorityProject(df: DataFrame): DataFrame =
    df.select(col("o_orderpriority") +:
      priorityMeasures.map { case (n, e) => e.as(n) }: _*)

  /** Seed or refresh the persisted priority view — the K = 0
    * [[StarJoinView]] over the orders log. */
  private def refreshPriorityView(s: SparkSession, table: String): Unit =
    StarJoinView.refresh(s, table, Nil, mviewDir(table),
      Seq("o_orderkey"), Seq("o_orderpriority"), priorityMeasures)

  /** The non-distributive aggregate of the min/max twin — legal here
    * because [[MaterializedView.refreshByRecompute]] RECOMPUTES
    * touched groups from the base instead of folding signed deltas
    * (a removed row may have been the extreme). */
  private def priorityMinMaxAgg(p: DataFrame): DataFrame =
    p.groupBy(col("o_orderpriority"))
      .agg(min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        count(lit(1)).as("n_rows"))

  /** Row-local projection of the exact-distinct twin: the dims plus
    * the distinct-counted column. */
  private def distinctProject(df: DataFrame): DataFrame =
    df.select(col("o_orderpriority"), col("o_custkey"))

  /** The EXACT distinct-measure aggregate — countDistinct is not
    * maintainable by any signed fold (a removed row may have carried
    * a group's last occurrence of its value; recovering the count
    * needs the base), so it rides the same touched-group-recompute
    * path as min/max. The at-scale APPROXIMATE twin is the stored
    * mergeable HLL sketch ([[graft.runtime.SketchGold]]) — pick exact
    * recompute when the touched groups are prunable, sketches when
    * even that re-read is too hot. */
  private def priorityDistinctAgg(p: DataFrame): DataFrame =
    p.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_rows"))

  /** Registered face: the [[ensureOrdersHistory]] maintenance history,
    * its accumulated log collapsed with [[netDiff]] and summarized per
    * status — the CDC composition oracle-checked end to end, not just
    * spec-checked. The DuckDB oracle computes the ENDPOINT diff
    * state0 → state3 independently — every intermediate mutation must
    * net out exactly. */
  def ordersChangeLogNet(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    val log = readLog(s, table).getOrElse(
      sys.error(s"cdc_orders log missing under $table"))
    netDiff(log, Seq("o_orderkey"))
      .groupBy(col("diff_status"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        sum(size(col("changed_cols"))).as("n_changed_cells"))
  }

  /** Registered face #2: [[replay]] composed end to end — re-derive
    * the UNLOGGED state0 baseline from the source (deterministic
    * filter), apply the accumulated three-batch log, and summarize the
    * replayed state per priority class. The DuckDB oracle computes the
    * ENDPOINT state3 independently, so the replayed table must equal
    * it exactly — including the rows no batch ever touched (the
    * anti-join side) and the reverted/removed collapses. The plan is
    * one log-scale collapse + one anti-join + union: no per-batch
    * re-execution. */
  def ordersChangeLogReplay(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    val log = readLog(s, table).getOrElse(
      sys.error(s"cdc_orders log missing under $table"))
    val state0 = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < ts("1997-07-01"))
    replay(state0, log, Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** Registered face #3: log-driven INCREMENTAL VIEW MAINTENANCE
    * ([[graft.ops.CdcStarView.starGroupDelta]] with no dims, applied by
    * [[graft.ops.CdcView.applyDelta]]) — a downstream per-priority
    * revenue view seeded at state0 and brought to the endpoint by
    * APPLYING the accumulated log's net contribution delta: old images
    * subtract, new images add, priority moves transfer between groups.
    * The base table is never re-read past the seed; the DuckDB oracle
    * recomputes the endpoint view from scratch, so every add / remove
    * / cross-group move must land exactly (integer-cents arithmetic —
    * float sums would drift from the recompute by association order). */
  def ordersPriorityViewMaintained(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    val log = readLog(s, table).getOrElse(
      sys.error(s"cdc_orders log missing under $table"))
    val keys = Seq("o_orderkey")
    val state0 = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < ts("1997-07-01"))
    val view0 = priorityProject(state0)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_rows"))
    graft.ops.CdcView.applyDelta(view0,
        graft.ops.CdcStarView.starGroupDelta(Some(netDiff(log, keys)),
          keys, () => state0, Nil, Seq("o_orderpriority"),
          priorityMeasures),
        Seq("o_orderpriority"), Seq("cents"))
      .withColumnRenamed("cents", "sum_cents")
  }

  /** Registered face #4: the PERSISTED view loop (the K = 0
    * [[StarJoinView]]) under the same oracle — the view was
    * seeded at state0 (before any batch published), so this refresh
    * must catch up across the entire three-batch log, committing its
    * position atomically with the data; re-runs within the JVM are
    * position-guarded no-ops. The served answer is a scan of the tiny
    * persisted table, not a recompute. */
  def ordersPriorityViewPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    refreshPriorityView(s, table)
    s.read.parquet(mviewDir(table))
      .select(col("o_orderpriority"), col("cents").as("sum_cents"),
        col("n_rows"))
  }

  /** Registered face #5: the NON-distributive persisted view — per
    * priority MIN/MAX cents, which no signed fold can maintain (a
    * removed order may have carried the extreme), refreshed by
    * TOUCHED-GROUP RECOMPUTE
    * ([[MaterializedView.refreshByRecompute]]): the three-batch log
    * names the touched priority groups, the base is re-read ONLY
    * inside them (the view dim doubles as the table's partition
    * column, so the recompute scan is partition-pruned), and the
    * untouched groups' view rows carry over unrecomputed. The DuckDB
    * oracle recomputes the endpoint min/max from scratch — deletions
    * that removed an extreme must resurface the runner-up exactly. */
  def ordersPriorityMinMaxPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    MaterializedView.refreshByRecompute(s, table, minmaxDir(table),
      Seq("o_orderkey"), priorityProject, Seq("o_orderpriority"),
      priorityMinMaxAgg, pruneDim = Some("o_orderpriority"))
    s.read.parquet(minmaxDir(table))
      .select(col("o_orderpriority"), col("min_cents"),
        col("max_cents"), col("n_rows"))
  }

  /** Registered face #5b: the EXACT DISTINCT-measure persisted view —
    * per-priority countDistinct(custkey), the aggregate the reference
    * golds lean on hardest (A2–A4) and the one
    * [[graft.ops.CdcView.requireExactMeasures]] correctly rejects
    * from the signed-fold path: maintained instead by TOUCHED-GROUP
    * RECOMPUTE ([[MaterializedView.refreshByRecompute]]) — the
    * three-batch log names the touched priority groups, the base is
    * re-read ONLY inside them (partition-pruned via pruneDim), and
    * untouched groups' exact counts carry over unrecomputed. The
    * DuckDB oracle recomputes the endpoint COUNT(DISTINCT) from
    * scratch — deletions must drop counts exactly where the removed
    * row carried a group's last occurrence of a customer. The
    * at-scale APPROXIMATE twin is the stored-sketch face
    * (`sketch_gold_mau_stored`, [[SketchGold]]). */
  def ordersPriorityDistinctPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    MaterializedView.refreshByRecompute(s, table, distinctDir(table),
      Seq("o_orderkey"), distinctProject, Seq("o_orderpriority"),
      priorityDistinctAgg, pruneDim = Some("o_orderpriority"))
    s.read.parquet(distinctDir(table))
      .select(col("o_orderpriority"), col("n_cust"), col("n_rows"))
  }

  /** Seed or refresh the per-country silver view
    * ([[sessionsCountryViewPersisted]]) — the K = 0 [[StarJoinView]]
    * over the silver session log; long measures only, the enforced
    * [[graft.ops.CdcView.requireExactMeasures]] contract. */
  private def refreshCountryView(s: SparkSession, root: String): Unit =
    StarJoinView.refresh(s, s"$root/silver_sessions", Nil,
      s"$root/view_country", graft.silver.Sessionize.SessionKey,
      Seq("country"),
      Seq("n_events", "sum_value_cents").map(m => m -> col(m)))

  /** Build (once per JVM) the REFERENCE-SHAPED CDC fixture: the
    * harness events split into three deterministic date spans, folded
    * through the real incremental silver chain
    * ([[IncrementalSilver.updateDetailed]] with CDC on), with the
    * per-country view seeded at position 1 — so the registered query's
    * refresh must cross updates 2..3 of the actual silver session log
    * (9-column session key, adds/changes/deletes from real
    * sessionization), not a synthetic history. Returns the chain root
    * (bronze, silver_sessions + its log, view_country inside). */
  private def ensureSilverChain(s: SparkSession, dir: String): String = {
    val root = graft.sim.AnnIndex.dir(s, dir, "cdc_silver")
    graft.sim.AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bronze = s"$root/bronze"
      val silverDir = s"$root/silver_sessions"
      val raw = s.read.parquet(s"$dir/events.parquet")
      val dts = raw.select(to_date(col("ts")).as("d")).distinct()
        .orderBy(col("d")).collect().map(_.getDate(0))
      val c1 = dts(dts.length / 3)
      val c2 = dts(2 * dts.length / 3)
      def update(wm: Option[Long]): Option[Long] =
        IncrementalSilver.updateDetailed(s, bronze, silverDir, wm,
          changeLog = true).watermark
      Incremental.appendBatch(s, bronze,
        raw.filter(to_date(col("ts")) < lit(c1)), 1L)
      val w1 = update(None)
      refreshCountryView(s, root)
      Incremental.appendBatch(s, bronze,
        raw.filter(to_date(col("ts")) >= lit(c1) &&
          to_date(col("ts")) < lit(c2)), 2L)
      val w2 = update(w1)
      Incremental.appendBatch(s, bronze,
        raw.filter(to_date(col("ts")) >= lit(c2)), 3L)
      update(w2)
    }
    root
  }

  /** Registered face #5: the persisted-view loop over the REAL silver
    * change log — gold-grain IVM on the reference-shaped chain. The
    * view was seeded after update 1, so this refresh applies the net
    * contribution delta of updates 2..3 (session rows re-keyed,
    * re-stamped and deleted by later events included); the DuckDB
    * oracle recomputes the endpoint per-country aggregate from the
    * full sessionization independently, so every signed contribution
    * must land exactly. The served answer is a scan of the tiny
    * persisted view; the base silver is never re-read past the seed. */
  def sessionsCountryViewPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val root = ensureSilverChain(s, dir)
    refreshCountryView(s, root)
    s.read.parquet(s"$root/view_country")
      .select(col("country"), col("n_events"),
        col("sum_value_cents"), col("n_rows"))
  }

  /** SCD TYPE-2 over the table's accumulated log
    * ([[graft.ops.Scd2.fromLog]] with the guard the generic builder
    * delegates here): `basePosition` must sit strictly below every
    * LIVE entry id — at or past it, baseline versions would collide
    * with (or follow) logged opens and the interval chain would be
    * silently wrong. The live ids come from the log's partition
    * LISTING (metadata-scale, no job). */
  def scd2(spark: SparkSession, tableDir: String, keys: Seq[String],
           basePosition: Long): DataFrame = {
    val log = readLog(spark, tableDir).getOrElse(
      sys.error(s"no change log under ${logDir(tableDir)} — SCD2 " +
        "derives history from the log; enable CDC on the table first"))
    Incremental.batches(spark, logDir(tableDir)).minOption
      .filter(_ <= basePosition).foreach { lo =>
        sys.error(s"basePosition $basePosition is not below the " +
          s"lowest live log entry ($lo): baseline versions must " +
          "precede every logged change — pass the position the " +
          "baseline snapshot is AS OF (for a collapsed log, below " +
          "the collapse boundary is unreachable; re-derive the " +
          "baseline at the boundary instead)")
      }
    Scd2.fromLog(log,
      spark.read.option("mergeSchema", "true").parquet(tableDir),
      keys, basePosition)
  }

  /** Registered face #6: the SCD2 dimension built from the cdc_orders
    * history — every version interval in one pass over the log. The
    * summary groups by (priority, valid_from, valid_to) so the DuckDB
    * oracle — which re-derives the four deterministic states and
    * intervalizes them independently via a presence grid + change
    * detection — checks every interval boundary, including the
    * Sep-1997 add-then-remove (a version closed by a tombstone), the
    * 1996 change-then-revert (three versions of the same key), and
    * the untouched baseline majority (open since base, still
    * current). */
  def ordersScd2History(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    scd2(s, table, Seq("o_orderkey"), basePosition = 0L)
      .groupBy(col("o_orderpriority"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_c"))
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Registered face #10: the BOUNDED-WINDOW net change — what a
    * position-1 consumer applies to reach position 2
    * ([[changesBetween]]), summarized per status. The DuckDB oracle
    * diffs state1 and state2 independently; the 1996
    * change-then-revert keys must NOT appear (batch 3 reverts them —
    * but it sits OUTSIDE the window, so here they DO appear as
    * changed; the window bound is the thing under test: the same keys
    * vanish from the full-span `cdc_orders_net`). */
  def ordersChangesBetween1And2(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    changesBetween(s, table, Seq("o_orderkey"), 1L, 2L)
      .groupBy(col("diff_status"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        sum(size(col("changed_cols"))).as("n_changed_cells"))
  }

  /** Registered face #11: JOIN-VIEW IVM ([[graft.ops.CdcStarView]]
    * with one dim) — a per-market-segment revenue view over
    * orders ⋈ customer, seeded at state0 and brought to the endpoint
    * by applying the orders log's signed join delta (`ΔF ⋈ D`; the
    * customer side is static here — `net = None` — so its `F₀ ⋈ ΔD`
    * term never exists; CdcJoinViewSpec exercises both sides moving).
    * Every order add/remove/change reaches the view THROUGH the join
    * (the fact's own columns don't carry the segment); the DuckDB
    * oracle recomputes the endpoint join from scratch. */
  def ordersJoinViewMaintained(s: SparkSession, dir: String)
      : DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
      .select(col("o_custkey"), col("c_mktsegment"))
    val aNet = netDiff(
      readSince(s, table, Some(0L)).get, Seq("o_orderkey"))
    val dims = Seq("c_mktsegment")
    val measures = Seq(("sum_cents",
      round(col("o_totalprice") * 100, 0).cast("long")))
    val state0 = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < ts("1997-07-01"))
    // The seed reads customer INDEPENDENTLY (fresh attribute ids):
    // sharing `cust`'s plan with the delta side trips the ambiguous
    // self-join check in applyDelta's full-outer (localCheckpoint
    // does not help — it truncates lineage but keeps the ids).
    val custForSeed = s.read.parquet(s"$dir/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
      .select(col("o_custkey"), col("c_mktsegment"))
    val view0 = state0.join(custForSeed, Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("sum_cents"))
      .select(col("c_mktsegment"), col("sum_cents"), col("n_rows"))
      .localCheckpoint()
    graft.ops.CdcView.applyDelta(view0,
      graft.ops.CdcStarView.starGroupDelta(Some(aNet), Seq("o_orderkey"),
        () => snapshotAt(s, table, Seq("o_orderkey"), 0L),
        Seq(graft.ops.CdcStarView.Side(Seq("o_custkey"), Seq("o_custkey"),
          cust, net = None, atStart = () => cust)),
        dims, measures),
      dims, measures.map(_._1))
  }

  /** Build (once per JVM) the TWO-LOG join-view chain (a one-dim
    * [[graft.runtime.StarJoinView]]): a dedicated orders copy AND a
    * LOGGED customer-dim table, the persisted view seeded at the
    * pre-history vector and refreshed across an interleaved history in
    * which BOTH sides move — span 1 A-only (ΔA ⋈ B), span 2 both
    * sides in one refresh (ΔA ⋈ B₁ ∪ A₀ ⋈ ΔB, A₀ via snapshotAt at
    * the committed A-position), span 3 B-only with ROW REMOVALS
    * (negative contributions through the join), left for the
    * REGISTERED refresh to catch up. Every state is a deterministic
    * SQL-expressible transform so the DuckDB oracle recomputes the
    * endpoint join independently. */
  private def ensureJoinViewPersisted(s: SparkSession,
                                      dir: String): String = {
    val root = graft.sim.AnnIndex.dir(s, dir, "cdc_jview_persist")
    graft.sim.AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val aT = s"$root/orders"
      val bT = s"$root/custdim"
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val a0 = orders.filter(col("o_orderdate") < ts("1997-07-01"))
      val a1 = orders.filter(col("o_orderdate") < ts("1997-10-01"))
      val a2 = a1.withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      // Each B state re-reads customer (fresh attribute ids — the
      // shared-frame self-join hazard the joinview face documents).
      def b(flip: Boolean, dropRows: Boolean): DataFrame = {
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        val flipped =
          if (!flip) base
          else base.withColumn("c_mktsegment",
            when(col("o_custkey") % 10 === 3, lit("FLIPPED"))
              .otherwise(col("c_mktsegment")))
        if (dropRows) flipped.filter(!(col("o_custkey") % 17 === 5))
        else flipped
      }
      MergeUpsert.replaceAll(s, aT, a0, partitionCol = "o_orderpriority")
      MergeUpsert.replaceAll(s, bT, b(flip = false, dropRows = false),
        partitionCol = "c_mktsegment")
      refreshJoinView(s, root) // seed at the pre-history vector (-1, -1)
      refreshJoinViewPartitioned(s, root) // partitioned twin, same seed
      recordBatch(s, aT, Seq("o_orderkey"), 1L)(
        MergeUpsert.replaceAll(s, aT, a1,
          partitionCol = "o_orderpriority"))
      refreshJoinView(s, root) // span 1: A only
      refreshJoinViewPartitioned(s, root)
      recordBatch(s, bT, Seq("o_custkey"), 1L)(
        MergeUpsert.replaceAll(s, bT, b(flip = true, dropRows = false),
          partitionCol = "c_mktsegment"))
      recordBatch(s, aT, Seq("o_orderkey"), 2L)(
        MergeUpsert.replaceAll(s, aT, a2,
          partitionCol = "o_orderpriority"))
      refreshJoinView(s, root) // span 2: BOTH sides in one refresh
      refreshJoinViewPartitioned(s, root)
      recordBatch(s, bT, Seq("o_custkey"), 2L)(
        MergeUpsert.replaceAll(s, bT, b(flip = true, dropRows = true),
          partitionCol = "c_mktsegment"))
      // span 3 (B-only removals) is the registered faces' catch-up
    }
    root
  }

  private def joinDim(root: String): Seq[StarJoinView.DimSpec] = Seq(
    StarJoinView.DimSpec(s"$root/custdim", Seq("o_custkey"),
      Seq("o_custkey")))

  private def refreshJoinView(s: SparkSession,
                              root: String): Seq[Long] =
    StarJoinView.refresh(s, s"$root/orders", joinDim(root),
      s"$root/view", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment"), measures = starMeasures)

  /** The PARTITIONED twin — same view definition, hive-partitioned on
    * the segment dim so each refresh rewrites only the partitions its
    * span's delta touches ([[StarJoinView.refreshPartitioned]]). */
  private def refreshJoinViewPartitioned(s: SparkSession,
                                         root: String): Seq[Long] =
    StarJoinView.refreshPartitioned(s, s"$root/orders", joinDim(root),
      s"$root/view_part", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment"), measures = starMeasures,
      partDim = "c_mktsegment")

  /** Build (once per JVM) the LEFT-OUTER join-view chain
    * ([[graft.runtime.StarJoinView]] with one dim and
    * `joinType = "left"`): the orders fact LEFT-joined to a logged
    * customer dim whose key set
    * CHURNS — the history is engineered so B keys both APPEAR for
    * live A rows (batch 1 adds the `%13 == 2` customers the seed
    * state lacked: their orders' null-extended contributions must
    * RETRACT from the null-segment group and re-land joined) and
    * DISAPPEAR (batch 2 drops `%17 == 5`: their orders must come
    * back null-extended) — the two zero-crossing transitions of
    * [[graft.ops.CdcStarView.leftStarGroupDelta]]'s count-augmented
    * delta, exercised across a three-update interleaved history with
    * the A side moving too (adds at span 1, price bumps at span 2).
    * Reference analogue: every reference gold join is LEFT OUTER
    * (`gold_user_daily_metrics.py:80-82` — metrics ⟕ side aggregates
    * where zero-match groups must survive). Deterministic transforms
    * so the DuckDB oracle recomputes the endpoint A₂ ⟕ B₂. */
  private def ensureLeftJoinViewPersisted(s: SparkSession,
                                          dir: String): String = {
    val root = graft.sim.AnnIndex.dir(s, dir, "cdc_ljview")
    graft.sim.AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val aT = s"$root/orders"
      val bT = s"$root/custdim"
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val a0 = orders.filter(col("o_orderdate") < ts("1997-07-01"))
      val a1 = orders.filter(col("o_orderdate") < ts("1997-10-01"))
      val a2 = a1.withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      // Fresh reads per state (the shared-frame self-join hazard).
      def b(appear: Boolean, flip: Boolean, drop: Boolean): DataFrame = {
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"),
            col("c_nationkey"))
        val present =
          if (appear) base else base.filter(!(col("o_custkey") % 13 === 2))
        val flipped =
          if (!flip) present
          else present.withColumn("c_mktsegment",
            when(col("o_custkey") % 10 === 3, lit("FLIPPED"))
              .otherwise(col("c_mktsegment")))
        if (drop) flipped.filter(!(col("o_custkey") % 17 === 5))
        else flipped
      }
      MergeUpsert.replaceAll(s, aT, a0, partitionCol = "o_orderpriority")
      MergeUpsert.replaceAll(s, bT,
        b(appear = false, flip = false, drop = false),
        partitionCol = "c_mktsegment")
      refreshLeftJoinView(s, root) // seed at the pre-history vector
      refreshLeftJoinViewPartitioned(s, root)
      recordBatch(s, aT, Seq("o_orderkey"), 1L)(
        MergeUpsert.replaceAll(s, aT, a1,
          partitionCol = "o_orderpriority"))
      refreshLeftJoinView(s, root) // span 1: A-only (new unmatched rows)
      refreshLeftJoinViewPartitioned(s, root)
      recordBatch(s, bT, Seq("o_custkey"), 1L)(
        MergeUpsert.replaceAll(s, bT,
          b(appear = true, flip = true, drop = false),
          partitionCol = "c_mktsegment"))
      recordBatch(s, aT, Seq("o_orderkey"), 2L)(
        MergeUpsert.replaceAll(s, aT, a2,
          partitionCol = "o_orderpriority"))
      refreshLeftJoinView(s, root) // span 2: BOTH sides; keys APPEAR
      refreshLeftJoinViewPartitioned(s, root)
      recordBatch(s, bT, Seq("o_custkey"), 2L)(
        MergeUpsert.replaceAll(s, bT,
          b(appear = true, flip = true, drop = true),
          partitionCol = "c_mktsegment"))
      // span 3 (B-only removals — keys DISAPPEAR, their A rows must
      // return null-extended) is the registered faces' catch-up
    }
    root
  }

  /** Shared definition of the LEFT view twins: per (segment,
    * priority) — segment NULL for unmatched orders — revenue cents
    * (fact-side, null-proof) and nation-key sum (dim-side: NULL for
    * unmatched rows, folding to 0 under the stated contract). Both
    * sides projected to their referenced columns (fCols /
    * DimSpec.cols — the pruning path under test too). */
  private def leftJoinDim(root: String): Seq[StarJoinView.DimSpec] = Seq(
    StarJoinView.DimSpec(s"$root/custdim", Seq("o_custkey"),
      Seq("o_custkey"), cols = Some(Seq("c_mktsegment", "c_nationkey"))))

  private def leftJoinMeasures = starMeasures :+
    (("nation_sum", col("c_nationkey").cast("long")))

  private def refreshLeftJoinView(s: SparkSession,
                                  root: String): Seq[Long] =
    StarJoinView.refresh(s, s"$root/orders", leftJoinDim(root),
      s"$root/view", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment", "o_orderpriority"),
      measures = leftJoinMeasures, joinType = "left",
      fCols = Some(Seq("o_orderpriority", "o_totalprice")))

  /** The PARTITIONED twin — hive-partitioned on the fact-side priority
    * dim (never null; a LEFT view's dim-side dims are NULL for
    * unmatched groups and a null hive partition value would defeat
    * partition-scoped rewrites — the constraint
    * [[StarJoinView.refreshPartitioned]] documents). */
  private def refreshLeftJoinViewPartitioned(s: SparkSession,
                                             root: String): Seq[Long] =
    StarJoinView.refreshPartitioned(s, s"$root/orders",
      leftJoinDim(root), s"$root/view_part", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment", "o_orderpriority"),
      measures = leftJoinMeasures, partDim = "o_orderpriority",
      joinType = "left",
      fCols = Some(Seq("o_orderpriority", "o_totalprice")))

  /** Registered face #12c: the PERSISTED LEFT-OUTER join view —
    * caught up at serve time across the outstanding B-removal span
    * (keys DISAPPEARING for live A rows: the hard direction — their
    * orders' joined contributions retract AND their null-extended
    * rows re-enter the null-segment group). The DuckDB oracle
    * recomputes the endpoint A₂ ⟕ B₂ with `COALESCE(SUM(b.m), 0)`
    * (the stated NULL-as-0 measure contract), so both zero-crossing
    * directions and every signed joined contribution must land
    * exactly. */
  def ordersLeftJoinViewPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val root = ensureLeftJoinViewPersisted(s, dir)
    refreshLeftJoinView(s, root)
    s.read.parquet(s"$root/view")
      .select(col("c_mktsegment"), col("o_orderpriority"),
        col("sum_cents"), col("nation_sum"), col("n_rows"))
  }

  /** Registered face #12d: the PARTITIONED LEFT-OUTER join view —
    * same history and oracle, maintained partition-scoped on the
    * fact-side priority dim with the vector-position split commit. */
  def ordersLeftJoinViewPartitioned(s: SparkSession, dir: String)
      : DataFrame = {
    val root = ensureLeftJoinViewPersisted(s, dir)
    refreshLeftJoinViewPartitioned(s, root)
    s.read.parquet(s"$root/view_part")
      .select(col("c_mktsegment"), col("o_orderpriority"),
        col("sum_cents"), col("nation_sum"), col("n_rows"))
  }

  /** Build (once per JVM) the STAR-view chain
    * ([[graft.runtime.StarJoinView]]): a fact (orders slice) and TWO
    * logged dimensions — the customer-segment dim and a priority-
    * class dim derived from the fact's own distinct priorities — with
    * an interleaved history exercising every decomposition term:
    * span 1 fact-only adds; span 2 BOTH dims in one refresh (segment
    * flip + priority reclass — the later dim's term must see the
    * earlier dim at its span-START state); span 3 a dim ROW REMOVAL
    * (every '4-NOT SPECIFIED' fact loses its match), left for the
    * registered face's serve-time catch-up. Deterministic transforms
    * so the DuckDB oracle recomputes the endpoint three-way join. */
  private def ensureStarViewPersisted(s: SparkSession,
                                      dir: String): String = {
    val root = graft.sim.AnnIndex.dir(s, dir, "cdc_starview")
    graft.sim.AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val fT = s"$root/orders"
      val cT = s"$root/custdim"
      val pT = s"$root/priodim"
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val f0 = orders.filter(col("o_orderdate") < ts("1997-07-01"))
      val f1 = orders.filter(col("o_orderdate") < ts("1997-10-01"))
      // Fresh reads per state — the shared-frame self-join hazard.
      def c(flip: Boolean): DataFrame = {
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        if (!flip) base
        else base.withColumn("c_mktsegment",
          when(col("o_custkey") % 10 === 3, lit("FLIPPED"))
            .otherwise(col("c_mktsegment")))
      }
      def pd(reclass: Boolean, drop: Boolean): DataFrame = {
        val classed = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority")).distinct()
          .withColumn("prio_class",
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH") ||
              (lit(reclass) && col("o_orderpriority") === "3-MEDIUM"),
              lit("fast")).otherwise(lit("slow")))
        if (drop)
          classed.filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        else classed
      }
      MergeUpsert.replaceAll(s, fT, f0, partitionCol = "o_orderpriority")
      MergeUpsert.replaceAll(s, cT, c(flip = false),
        partitionCol = "c_mktsegment")
      MergeUpsert.replaceAll(s, pT, pd(reclass = false, drop = false),
        partitionCol = "prio_class")
      refreshStarView(s, root) // seed at the pre-history vector
      refreshStarViewPartitioned(s, root) // partitioned twin
      recordBatch(s, fT, Seq("o_orderkey"), 1L)(
        MergeUpsert.replaceAll(s, fT, f1,
          partitionCol = "o_orderpriority"))
      refreshStarView(s, root) // span 1: fact only
      refreshStarViewPartitioned(s, root)
      recordBatch(s, cT, Seq("o_custkey"), 1L)(
        MergeUpsert.replaceAll(s, cT, c(flip = true),
          partitionCol = "c_mktsegment"))
      recordBatch(s, pT, Seq("o_orderpriority"), 1L)(
        MergeUpsert.replaceAll(s, pT, pd(reclass = true, drop = false),
          partitionCol = "prio_class"))
      refreshStarView(s, root) // span 2: BOTH dims in one refresh
      refreshStarViewPartitioned(s, root)
      recordBatch(s, pT, Seq("o_orderpriority"), 2L)(
        MergeUpsert.replaceAll(s, pT, pd(reclass = true, drop = true),
          partitionCol = "prio_class"))
      // span 3 (dim removal) is the registered faces' catch-up
    }
    root
  }

  private def starDims(root: String): Seq[StarJoinView.DimSpec] = Seq(
    StarJoinView.DimSpec(s"$root/custdim", Seq("o_custkey"),
      Seq("o_custkey")),
    StarJoinView.DimSpec(s"$root/priodim", Seq("o_orderpriority"),
      Seq("o_orderpriority")))

  private val starMeasures = Seq(("sum_cents",
    round(col("o_totalprice") * 100, 0).cast("long")))

  private def refreshStarView(s: SparkSession,
                              root: String): Seq[Long] =
    StarJoinView.refresh(s, s"$root/orders", starDims(root),
      s"$root/view", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment", "prio_class"),
      measures = starMeasures)

  /** The PARTITIONED twin — hive-partitioned on the segment dim, each
    * refresh rewriting only the partitions its vector-span touches
    * ([[StarJoinView.refreshPartitioned]]). */
  private def refreshStarViewPartitioned(s: SparkSession,
                                         root: String): Seq[Long] =
    StarJoinView.refreshPartitioned(s, s"$root/orders", starDims(root),
      s"$root/view_part", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment", "prio_class"),
      measures = starMeasures, partDim = "c_mktsegment")

  /** Build (once per JVM) the LEFT-OUTER STAR chain
    * ([[StarJoinView]] with `joinType = "left"`): fact + TWO logged
    * dims where BOTH null-extension directions fire — the customer
    * dim's `%13 == 2` keys are ABSENT at seed (their facts live in
    * the NULL-segment group) and appear at batch 1 (mass retraction
    * of null-extensions — by the endpoint the null-segment group must
    * VANISH entirely); the priority dim drops '4-NOT SPECIFIED' at
    * batch 2 (those facts move INTO the null-class group — the
    * serve-time catch-up span), where the INNER twin's same drop
    * removes them from the view. Chained ⟕ is the reference's actual
    * gold shape (J4). */
  private def ensureLeftStarViewPersisted(s: SparkSession,
                                          dir: String): String = {
    val root = graft.sim.AnnIndex.dir(s, dir, "cdc_leftstar")
    graft.sim.AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val fT = s"$root/orders"
      val cT = s"$root/custdim"
      val pT = s"$root/priodim"
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val f0 = orders.filter(col("o_orderdate") < ts("1997-07-01"))
      val f1 = orders.filter(col("o_orderdate") < ts("1997-10-01"))
      def c(appear: Boolean, flip: Boolean): DataFrame = {
        val base = s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"),
            col("c_nationkey"))
        val present =
          if (appear) base else base.filter(!(col("o_custkey") % 13 === 2))
        if (!flip) present
        else present.withColumn("c_mktsegment",
          when(col("o_custkey") % 10 === 3, lit("FLIPPED"))
            .otherwise(col("c_mktsegment")))
      }
      def pd(reclass: Boolean, drop: Boolean): DataFrame = {
        val classed = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority")).distinct()
          .withColumn("prio_class",
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH") ||
              (lit(reclass) && col("o_orderpriority") === "3-MEDIUM"),
              lit("fast")).otherwise(lit("slow")))
        if (drop)
          classed.filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        else classed
      }
      MergeUpsert.replaceAll(s, fT, f0, partitionCol = "o_orderpriority")
      MergeUpsert.replaceAll(s, cT, c(appear = false, flip = false),
        partitionCol = "c_mktsegment")
      MergeUpsert.replaceAll(s, pT, pd(reclass = false, drop = false),
        partitionCol = "prio_class")
      refreshLeftStarView(s, root) // seed at the pre-history vector
      refreshLeftStarViewPartitioned(s, root) // partitioned twin
      recordBatch(s, fT, Seq("o_orderkey"), 1L)(
        MergeUpsert.replaceAll(s, fT, f1,
          partitionCol = "o_orderpriority"))
      refreshLeftStarView(s, root) // span 1: fact only (new unmatched)
      refreshLeftStarViewPartitioned(s, root)
      recordBatch(s, cT, Seq("o_custkey"), 1L)(
        MergeUpsert.replaceAll(s, cT, c(appear = true, flip = true),
          partitionCol = "c_mktsegment"))
      recordBatch(s, pT, Seq("o_orderpriority"), 1L)(
        MergeUpsert.replaceAll(s, pT, pd(reclass = true, drop = false),
          partitionCol = "prio_class"))
      refreshLeftStarView(s, root) // span 2: BOTH dims; cust keys APPEAR
      refreshLeftStarViewPartitioned(s, root)
      recordBatch(s, pT, Seq("o_orderpriority"), 2L)(
        MergeUpsert.replaceAll(s, pT, pd(reclass = true, drop = true),
          partitionCol = "prio_class"))
      // span 3 (prio-dim removal → null-class group) is the
      // registered faces' serve-time catch-up
    }
    root
  }

  /** The left faces also exercise the per-side COLUMN PROJECTION
    * (DimSpec.cols / fCols): each side contributes only its referenced
    * columns, which at 100 TB keeps the IVM path's shuffles at the
    * measure columns and mechanically prevents non-key name
    * collisions. */
  private def leftStarDims(root: String): Seq[StarJoinView.DimSpec] = Seq(
    StarJoinView.DimSpec(s"$root/custdim", Seq("o_custkey"),
      Seq("o_custkey"), cols = Some(Seq("c_mktsegment", "c_nationkey"))),
    StarJoinView.DimSpec(s"$root/priodim", Seq("o_orderpriority"),
      Seq("o_orderpriority"), cols = Some(Seq("prio_class"))))

  private def refreshLeftStarView(s: SparkSession,
                                  root: String): Seq[Long] =
    StarJoinView.refresh(s, s"$root/orders", leftStarDims(root),
      s"$root/view", fKeys = Seq("o_orderkey"),
      viewDims = Seq("c_mktsegment", "prio_class"),
      measures = starMeasures :+
        (("nation_sum", col("c_nationkey").cast("long"))),
      joinType = "left",
      fCols = Some(Seq("o_totalprice", "o_orderpriority")))

  /** The PARTITIONED twin — a LEFT star's dim-side view dims are NULL
    * for unmatched groups, so the partition dim must come from the
    * FACT: the view adds `o_orderpriority` (never null) and
    * partitions on it, while the nullable dim-side groups live INSIDE
    * each priority partition. */
  private def refreshLeftStarViewPartitioned(s: SparkSession,
                                             root: String): Seq[Long] =
    StarJoinView.refreshPartitioned(s, s"$root/orders",
      leftStarDims(root),
      s"$root/view_part", fKeys = Seq("o_orderkey"),
      viewDims = Seq("o_orderpriority", "c_mktsegment", "prio_class"),
      measures = starMeasures :+
        (("nation_sum", col("c_nationkey").cast("long"))),
      partDim = "o_orderpriority", joinType = "left",
      fCols = Some(Seq("o_totalprice", "o_orderpriority")))

  /** Registered face #13c: the PERSISTED LEFT-OUTER STAR view — both
    * null-extension directions across the history (cust keys
    * appearing retract the null-segment group to NOTHING by the
    * endpoint; the prio-dim drop moves its facts into the null-class
    * group at serve time, where the inner twin removes them). The
    * DuckDB oracle recomputes the endpoint F₁ ⟕ C₁ ⟕ P₂ with
    * `COALESCE(SUM, 0)` on the dim-side measure. */
  def ordersLeftStarViewPersisted(s: SparkSession, dir: String)
      : DataFrame = {
    val root = ensureLeftStarViewPersisted(s, dir)
    refreshLeftStarView(s, root)
    s.read.parquet(s"$root/view")
      .select(col("c_mktsegment"), col("prio_class"),
        col("sum_cents"), col("nation_sum"), col("n_rows"))
  }

  /** Registered face #13d: the PARTITIONED LEFT star — same history
    * and serve-time catch-up, hive-partitioned on the FACT's priority
    * (dim-side dims are null for unmatched groups and cannot
    * partition); the batch-2 prio-dim drop moves each partition's
    * facts into its null-class group via partition-scoped rewrites.
    * The oracle recomputes the endpoint at the finer
    * (priority × segment × class) grain. */
  def ordersLeftStarViewPartitioned(s: SparkSession, dir: String)
      : DataFrame = {
    val root = ensureLeftStarViewPersisted(s, dir)
    refreshLeftStarViewPartitioned(s, root)
    s.read.parquet(s"$root/view_part")
      .select(col("o_orderpriority"), col("c_mktsegment"),
        col("prio_class"), col("sum_cents"), col("nation_sum"),
        col("n_rows"))
  }

  /** Registered face #13: the PERSISTED STAR view — fact + TWO logged
    * dimensions maintained from all three change logs
    * ([[graft.runtime.StarJoinView]]; the K+1-position vector rides
    * the swap atomically), caught up at serve time across the
    * outstanding dim-removal span. The DuckDB oracle recomputes the
    * ENDPOINT three-way join from source, so every term of the
    * decomposition — fact adds through both dims, the segment flip,
    * the priority reclass seen WITH the earlier dim at span-start
    * state, and the removed dim row taking its facts out — must land
    * exactly. */
  def ordersStarViewPersisted(s: SparkSession, dir: String): DataFrame = {
    val root = ensureStarViewPersisted(s, dir)
    refreshStarView(s, root)
    s.read.parquet(s"$root/view")
      .select(col("c_mktsegment"), col("prio_class"),
        col("sum_cents"), col("n_rows"))
  }

  /** Registered face #13b: the PARTITIONED star view — same history,
    * same oracle, maintained by [[StarJoinView.refreshPartitioned]]:
    * per-partition `_as_of` VECTORS with the vector-position file
    * committed last, so each refresh rewrites only the segment
    * partitions its spans touch. */
  def ordersStarViewPartitioned(s: SparkSession, dir: String): DataFrame = {
    val root = ensureStarViewPersisted(s, dir)
    refreshStarViewPartitioned(s, root)
    s.read.parquet(s"$root/view_part")
      .select(col("c_mktsegment"), col("prio_class"),
        col("sum_cents"), col("n_rows"))
  }

  /** Registered face #12: the PERSISTED two-log join view — the
    * one-dim [[graft.runtime.StarJoinView]] caught up across the
    * interleaved history above (the serve-time refresh applies the outstanding
    * B-only removal span; bench reps past the first are a position
    * check + a bare scan of the tiny view). The DuckDB oracle
    * recomputes the ENDPOINT A₂ ⋈ B₂ per-segment revenue from the
    * source tables, so every signed contribution — adds, price
    * changes, segment flips THROUGH the join, and removed dim rows
    * taking their fact rows out of the view — must land exactly. */
  def ordersJoinViewPersisted(s: SparkSession, dir: String): DataFrame = {
    val root = ensureJoinViewPersisted(s, dir)
    refreshJoinView(s, root)
    s.read.parquet(s"$root/view")
      .select(col("c_mktsegment"), col("sum_cents"), col("n_rows"))
  }

  /** Registered face #12b: the PARTITIONED join view — the same
    * definition and the same interleaved two-log history, maintained
    * by [[StarJoinView.refreshPartitioned]]: per-partition `_as_of_f`/
    * `_as_of_d0` vectors with the vector file committed LAST, so
    * each refresh rewrites only the segment partitions its span
    * touches — O(spans + touched partitions) against [[refresh]]'s
    * O(|view|), the form a 100 TB join view must take. Same oracle as
    * the single-partition twin: the endpoint A₂ ⋈ B₂ recompute. */
  def ordersJoinViewPartitioned(s: SparkSession, dir: String): DataFrame = {
    val root = ensureJoinViewPersisted(s, dir)
    refreshJoinViewPartitioned(s, root)
    s.read.parquet(s"$root/view_part")
      .select(col("c_mktsegment"), col("sum_cents"), col("n_rows"))
  }

  /** Registered face #9: TIME TRAVEL from the log — the cdc_orders
    * table rewound to position 1 ([[snapshotAt]]): the batch-2
    * re-prioritizations and drops and the batch-3 additions must all
    * UNWIND (their first-later-entry `o_` images restore; `added`
    * keys leave), while rows no later batch touched carry their
    * current images. The DuckDB oracle computes state1 independently
    * from the source — position 1's snapshot, never stored, must
    * reappear exactly. */
  def ordersSnapshotAt1(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    snapshotAt(s, table, Seq("o_orderkey"), pos = 1L)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** Registered face #8: the INCREMENTALLY-MAINTAINED SCD2 store
    * ([[Scd2Store]]) under the SAME oracle as the from-scratch build
    * — the store was seeded at state0 before any batch published
    * (inside [[ensureOrdersHistory]]), so this refresh extends the
    * dimension across the whole three-batch log at
    * O(entries + touched buckets), and the served intervals must be
    * cell-identical to the full [[graft.ops.Scd2.fromLog]] rebuild
    * the oracle independently re-derives. */
  def ordersScd2StoreHistory(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    Scd2Store.refresh(s, table, scd2Dir(table), Seq("o_orderkey"),
      basePosition = 0L)
    Scd2Store.read(s, scd2Dir(table))
      .groupBy(col("o_orderpriority"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_c"))
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Registered face #8b: HISTORY COMPACTION under the SAME oracle —
    * the dimension seeded into a DEDICATED store, every version that
    * closed before position 3 (and the tombstones that closed them)
    * split into the `_archive` sibling ([[Scd2Store.archive]]), then
    * served through [[Scd2Store.readHistory]] (live ∪ archive): the
    * from-scratch rebuild the oracle re-derives must reappear exactly
    * — not one version row lost or duplicated across the split.
    * Current-only consumers keep scanning live buckets alone (the
    * point of the split: the live store stays at live-set size under
    * append-forever churn); this face deliberately asks for the full
    * history, the archive's one read path. Bench reps past the first
    * are a position check + a no-op archive + the two-sided scan. */
  def ordersScd2ArchiveHistory(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    val store = scd2ArchDir(table)
    Scd2Store.refresh(s, table, store, Seq("o_orderkey"),
      basePosition = 0L)
    Scd2Store.archive(s, store, closedBefore = 3L)
    Scd2Store.readHistory(s, store)
      .groupBy(col("o_orderpriority"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_c"))
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Registered face #7: the SCD2 CONSUMPTION path — every order key
    * probed at every log position through [[graft.ops.Scd2.joinAsOf]]
    * (the union+window as-of plan, not a range join), summarized per
    * (position, attached priority). A key absent at the position —
    * not yet added, or tombstoned at/before it — must surface as a
    * NULL dimension image, which is exactly where the naive as-of
    * carry (last version forever) would get it wrong. The DuckDB
    * oracle reconstructs each position's attachment from the states
    * directly. */
  def ordersScd2AsOf(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    scd2AsOfProbe(s, dir,
      scd2(s, table, Seq("o_orderkey"), basePosition = 0L))
  }

  /** Registered face #7b, the SERVING twin of [[ordersScd2AsOf]] (the
    * repo's inline-vs-serving convention, `sim_*_topk` vs
    * `*_indexed`): the SAME as-of probe under the SAME oracle, but
    * the dimension input is the PERSISTED [[Scd2Store]] — a scan of
    * pre-intervalized version rows — instead of an inline
    * [[graft.ops.Scd2.fromLog]] rebuild. At 100 TB this is the only
    * viable dimension plan: the inline twin re-reads base + log and
    * re-windows per query, the store amortizes that into its
    * incremental refresh and the probe pays one parquet scan
    * (bucket-partition-prunable for point-key probes). PlanSpec pins
    * that NO log or base-orders scan appears in the served plan. */
  def ordersScd2AsOfStored(s: SparkSession, dir: String): DataFrame = {
    val table = ensureOrdersHistory(s, dir)
    Scd2Store.refresh(s, table, scd2Dir(table), Seq("o_orderkey"),
      basePosition = 0L)
    scd2AsOfProbe(s, dir, Scd2Store.read(s, scd2Dir(table)))
  }

  /** The shared as-of probe of the two faces above: every order key
    * at every log position through [[graft.ops.Scd2.joinAsOf]],
    * summarized per (position, attached priority). */
  private def scd2AsOfProbe(s: SparkSession, dir: String,
                            dimFull: DataFrame): DataFrame = {
    val dim = dimFull.select(col("o_orderkey"), col("o_orderpriority"),
      col("valid_from"), col("valid_to"))
    val facts = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < ts("1998-01-01"))
      .select(col("o_orderkey"))
      .withColumn("pos", explode(expr("array(0L, 1L, 2L, 3L)")))
    Scd2.joinAsOf(facts, dim, Seq("o_orderkey"), "pos")
      .groupBy(col("pos"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }
}
