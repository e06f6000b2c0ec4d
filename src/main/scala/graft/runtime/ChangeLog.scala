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
    // The schema of a pre-image this call writes: reading it back then
    // needs no schema-inference job. One resumed from an earlier
    // attempt still infers it.
    val preSchema = if (preCommitted) None else {
      // First durable step — BEFORE the write mutates the table. Sweep
      // first: a crashed prior writer's .backup-* partition must be
      // restored before the before-image is taken, or the batch would
      // mis-report restored rows as `added`.
      fs.delete(preP, true) // a partial (uncommitted) leftover
      val written = Option.when(MergeUpsert.sweepAndHasData(fs, rootPath)) {
        val pre = scope(
          spark.read.option("mergeSchema", "true").parquet(tableDir))
        pre.write.mode("overwrite").parquet(preP.toString)
        pre.schema
      }
      if (!fs.exists(preP)) fs.mkdirs(preP)
      val hasFooter = fs.listStatus(preP).exists { f =>
        f.isFile && f.getPath.getName.endsWith(".parquet") && f.getLen > 0
      }
      if (!hasFooter) touch(fs, new Path(preP, PreEmptyMarker))
      touch(fs, new Path(preP, PreCommitMarker))
      written
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
      if (preEmpty) None
      else Some(preSchema.fold(spark.read)(spark.read.schema)
        .parquet(preP.toString))
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
}
