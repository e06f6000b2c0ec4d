package graft.runtime

import graft.ops.{Scd2, TableDiff}
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Per-batch CDC change-log publication for merge-maintained tables —
  * [[graft.ops.TableDiff]] composed with the incremental chain
  * ([[Pipeline.runDailyIncremental]]). A [[MergeUpsert]] write mutates
  * partitions in place, so a downstream consumer of a gold table cannot
  * see WHAT a batch changed (the reference's Silver MERGE INTO,
  * `silver_user_session_events.py:149-186`, has the same blind spot);
  * every change-data-capture consumer — cache invalidation, downstream
  * incremental jobs, audit — needs the per-batch delta as a table.
  *
  * [[recordBatch]] wraps one maintenance write and publishes the
  * non-`unchanged` rows of its scoped before/after diff as the batch's
  * log entry. The log is itself a `batch_id`-partitioned table (the
  * [[Incremental]] layout, so [[Incremental.readAsOf]]/`readSince`
  * work on it); a no-op delta (redelivered ingest) publishes an EMPTY
  * entry, i.e. no partition. Entries carry both row images
  * (`o_*`/`n_*`) plus `changed_cols`, so the log alone supports
  * [[replay]].
  *
  * Steady state — the entry is made ONCE, inside the merge: the write
  * must perform exactly one [[MergeUpsert]] merge on the table (more
  * or none fails loud). After its staging write and before its first
  * partition rename, the merge diffs the live partitions it is about
  * to replace or drop against the staged output, both under
  * `scope` and both read under known schemas (footer metadata, no
  * inference job), and commits that entry as a PENDING artifact under
  * the log root — a hidden `.pending-<batch>` directory whose commit
  * marker is written last. It then swaps its partitions, and the
  * publish is one rename of the pending artifact to `batch_id=N`. No
  * pre-image is copied and nothing is re-read after the swap.
  *
  * Crash/retry safety — the at-least-once replay of the incremental
  * chain (re-consume from the old watermark) re-runs `write`, often as
  * an idempotent no-op, which makes the live table USELESS as a
  * before-image on retry (before == after ⇒ empty diff ⇒ the retry
  * would erase the real entry). Three durable states close every
  * window:
  *
  *  1. A COMMITTED pending entry `E` (crash anywhere between its
  *     commit and the publish rename, whatever subset of partitions
  *     the crash swapped): the retry rebuilds the true pre-state from
  *     the live table plus `E` — the scoped live rows whose key `E`
  *     does not name, plus `E`'s `o_` images of its non-`added` rows
  *     ([[snapshotAt]]'s inverse; exact because every key the crashed
  *     swap could have changed is named in `E`) — persists it as a
  *     durable pre-image, drops `E`, and continues on the pre-image
  *     protocol below. An UNCOMMITTED pending directory is a crash
  *     before any rename: it is discarded (the writers' recovery sweep
  *     and the next attempt both drop it) and the table is untouched.
  *  2. A durable pre-image (the retry-only path): a `_changelog_pre`
  *     sibling directory, committed by marker BEFORE the write runs
  *     and deleted only AFTER the entry is published. The retry runs
  *     the write, diffs the pre-image against the post-write table
  *     and publishes the real entry through [[MergeUpsert]].
  *  3. A retry that finds the batch's log partition already published
  *     WITHOUT a pending entry or pre-image can only mean the batch
  *     completed its publish — the write re-runs for table convergence
  *     and the published entry is KEPT, never recomputed from a
  *     post-batch "before" image.
  *
  * Schema evolution: every snapshot/log read passes
  * `mergeSchema = true` (or reads the footers' union), so a table
  * evolved additively mid-history (the opt-in [[MergeUpsert.upsert]]
  * path) reads under the UNION of its files' schemas — entries
  * published before the evolution carry NULL for the new columns (the
  * parquet widen-with-nulls semantics), and [[netDiff]]/[[replay]]
  * operate on the union schema (ChangeLogSpec proves netDiff ==
  * endpoint diff and replay == snapshot across an evolution between
  * batches).
  *
  * Scale shape: the diff reads only the partitions the merge rewrites
  * (and, within them, the `scope`), so the per-batch CDC bill is
  * O(affected slice) — delta-scaled, like the maintenance it records;
  * the diff itself is ONE co-partitioned full-outer join
  * ([[TableDiff.diff]]'s scale argument), and nothing collects.
  * Unbounded partition growth — one `batch_id` partition per update
  * forever, ~52k/year at the reference's 10-minute silver cadence
  * (`airflow/dags/silver_dag.py:142`) — is bounded by [[checkpoint]],
  * the watermark-safe collapse of old entries into one net base
  * entry. */
object ChangeLog {

  /** The log of the table at `tableDir` lives beside it. */
  def logDir(tableDir: String): String =
    tableDir.stripSuffix("/") + "_changelog"

  /** Pre-images (the retry-only path) live in a SIBLING directory,
    * never under the log root: the log root is a table, and a
    * [[MergeUpsert]] first write into it (`mode("overwrite")`) would
    * destroy anything stored inside it BEFORE the entry is durable.
    * For the same reason no publish here ever takes that branch: a
    * first entry lands by renaming its staged directory in, because a
    * committed pending entry of another batch may live in the root. */
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

  private def writeProducerMarker(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  tableDir: String, batchId: Long,
                                  producer: String): Unit = {
    val d = producerMarkerDir(tableDir)
    val prefix = s"producer-$batchId-"
    if (fs.exists(d))
      fs.listStatus(d).filter { st =>
        val n = st.getPath.getName
        n.startsWith(prefix) && n != prefix + producer
      }.foreach(st => fs.delete(st.getPath, false))
    Incremental.touch(spark,
      new Path(d, producerMarkerName(batchId, producer)))
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

  /** Widen `df` with NULL columns for every field of `other` it
    * lacks — the union-schema view two differently-evolved snapshots
    * are compared under. */
  private def alignToUnion(df: DataFrame,
                           other: org.apache.spark.sql.types.StructType)
      : DataFrame =
    other.fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** The pending artifact of batch `batchId`'s entry: a hidden
    * directory under the log root (invisible to every log read and
    * listing), renamed to `batch_id=N` to publish. */
  private def pendingPath(tableDir: String, batchId: Long): Path =
    new Path(logDir(tableDir), s"$PendingPrefix$batchId")

  private[graft] val PendingPrefix = ".pending-"

  /** Commit marker of a pending entry: written LAST, so a pending
    * directory without it is a crashed partial write — no partition
    * was swapped yet, and every sweep drops it. */
  private[graft] val PendingCommitMarker = "_GRAFT_PENDING_COMMITTED"

  /** The entry a [[recordBatch]] expects its write's merge to build:
    * bound to the calling thread while `write` runs. */
  private[graft] final class Capture private[ChangeLog] (
      val spark: SparkSession, val table: Path, val keys: Seq[String],
      val scope: DataFrame => DataFrame, val pending: Path) {
    private[ChangeLog] var merges = 0
    private[ChangeLog] var committed = false
  }

  /** Open captures of the calling thread, innermost first. */
  private val captures = new ThreadLocal[List[Capture]] {
    override def initialValue(): List[Capture] = Nil
  }

  /** Called by every [[MergeUpsert]] mode before it touches its
    * target: the capture of the [[recordBatch]] wrapping a write of
    * this table, if any, with the merge counted. A second merge of the
    * same table inside one recordBatch fails loud here, before it
    * changes anything: one entry per batch is made by one merge. */
  private[graft] def mergeOf(fs: org.apache.hadoop.fs.FileSystem,
                             root: Path): Option[Capture] = {
    val q = fs.makeQualified(root)
    captures.get.find(_.table == q).map { c =>
      c.merges += 1
      require(c.merges == 1,
        s"the write logged as one batch of ${c.table} merged into it " +
          "more than once: its entry is made by one merge — split the " +
          "write into one recordBatch per merge")
      c
    }
  }

  /** Called by the merge after its staging write, before its first
    * partition rename: diff the scoped live partitions it is about to
    * replace or drop (`liveDirs`) against the scoped staged output and
    * commit the entry as `c`'s pending artifact. Both sides read under
    * known schemas — the stage's, and the live partitions' footers —
    * so no schema-inference job runs. An empty diff commits nothing
    * (the empty entry is published as absence). */
  private[graft] def commitPending(c: Capture,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   root: Path, staging: Path,
                                   stagedSchema: StructType,
                                   partitionCol: String,
                                   staged: Seq[String],
                                   liveDirs: Seq[String]): Unit = {
    val spark = c.spark
    def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val partField = stagedSchema(partitionCol)
    val live = liveDirs.map(new Path(root, _)).filter(fs.exists)
    val before =
      if (live.isEmpty) empty(stagedSchema)
      else {
        val dataSchema = footerSchema(fs, live)
          .getOrElse(spark.read.option("mergeSchema", "true")
            .parquet(live.map(_.toString): _*).schema)
        spark.read.schema(dataSchema.add(partField))
          .option("basePath", root.toString)
          .parquet(live.map(_.toString): _*)
      }
    val after =
      if (staged.isEmpty) empty(stagedSchema)
      else spark.read.schema(stagedSchema).parquet(staging.toString)
    val (b, a) = (c.scope(before), c.scope(after))
    // Both images under the UNION schema: the write may evolve the
    // table additively, and TableDiff's intersection rule would
    // otherwise DROP the new column from the evolution batch's entry.
    // A column absent on one side reads as NULL there (the
    // widen-with-nulls semantics every mergeSchema read applies).
    if (stageEntry(fs, TableDiff.diff(alignToUnion(b, a.schema),
        alignToUnion(a, b.schema), c.keys), c.pending)) {
      Incremental.touch(spark, new Path(c.pending, PendingCommitMarker))
      c.committed = true
    }
  }

  /** Write the non-`unchanged` rows of `diff` to `pending`; true when
    * there are any (the footers say so), else the directory is removed:
    * an empty entry publishes as absence. */
  private def stageEntry(fs: org.apache.hadoop.fs.FileSystem,
                         diff: DataFrame, pending: Path): Boolean = {
    diff.filter(col("diff_status") =!= "unchanged")
      .write.mode("overwrite").parquet(pending.toString)
    val rows = footerRows(fs, pending) > 0L
    if (!rows) fs.delete(pending, true)
    rows
  }

  /** Publish a staged entry: one rename to its `batch_id` partition. */
  private def renameToEntry(fs: org.apache.hadoop.fs.FileSystem,
                            pending: Path, tableDir: String,
                            batchId: Long): Unit = {
    val dst = new Path(logDir(tableDir), s"batch_id=$batchId")
    if (!fs.rename(pending, dst))
      throw new java.io.IOException(s"publish rename $pending -> $dst failed")
  }

  /** Parquet files directly under `dir`, skipping hidden and empty
    * ones. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && f.getLen > 0 && !n.startsWith(".") && !n.startsWith("_")
    }

  private def footer(fs: org.apache.hadoop.fs.FileSystem,
                     f: org.apache.hadoop.fs.FileStatus) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, fs.getConf))
    try r.getFooter finally r.close()
  }

  /** Rows in the parquet files directly under `dir`, from their
    * footers — read on the driver, no job. */
  private def footerRows(fs: org.apache.hadoop.fs.FileSystem,
                         dir: Path): Long =
    dataFiles(fs, dir).map { f =>
      footer(fs, f).getBlocks.toArray.iterator
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata
          .BlockMetaData].getRowCount).sum
    }.sum

  /** The union of the Spark schemas stamped into the footers of the
    * files directly under each of `dirs` (one footer per directory:
    * every writer here writes a directory in one pass, so its files
    * share a schema) — read on the driver, no inference job. None when
    * a directory holds no footer carrying one (a foreign writer's
    * files, or none at all): the caller then infers. */
  private def footerSchema(fs: org.apache.hadoop.fs.FileSystem,
                           dirs: Seq[Path]): Option[StructType] = {
    val per = dirs.map { d =>
      dataFiles(fs, d).headOption.flatMap { f =>
        Option(footer(fs, f).getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
      }
    }
    if (per.isEmpty || per.exists(_.isEmpty)) None
    else Some(per.flatten.reduce { (u, s) =>
      s.fields.filterNot(f => u.fieldNames.contains(f.name))
        .foldLeft(u)(_.add(_))
    })
  }

  /** The parquet table at `dir` read under its footers' schema
    * ([[footerSchema]] over every directory holding its data files,
    * on the driver): no schema-inference job. Partition columns still
    * come from the directory names. A footer without Spark's schema
    * falls back to a `mergeSchema` read. */
  private[graft] def readByFooters(spark: SparkSession,
                                   dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs(d: Path): Seq[Path] = {
      val (subdirs, files) = fs.listStatus(d).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith(".") || n.startsWith("_")
      }.partition(_.isDirectory)
      (if (files.exists(_.getLen > 0)) Seq(d) else Nil) ++
        subdirs.flatMap(st => dataDirs(st.getPath))
    }
    footerSchema(fs, dataDirs(root))
      .fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
      .parquet(dir)
  }

  /** The footer key Spark's parquet writer stores the row schema under
    * (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Wrap one maintenance write of the keyed table at `tableDir` (row
    * key `keys`, at most one row per key — the [[TableDiff.diff]]
    * snapshot contract): publish what `write` changed as batch
    * `batchId`'s log entry. `write` performs exactly one
    * [[MergeUpsert]] merge on the table (none or more fails loud).
    * `scope` restricts both images to the slice the write can touch;
    * it MUST cover every row the write changes (a change outside the
    * scope would go unrecorded) and must be deterministic across
    * retries of the same batch. Protocol in the object scaladoc. */
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
    val pending = pendingPath(tableDir, batchId)
    val pendingCommitted = fs.exists(new Path(pending, PendingCommitMarker))
    if (pendingCommitted && !fs.exists(new Path(preP, PreCommitMarker)))
      // A crash after the merge committed its entry: rebuild the true
      // pre-state from the live table plus the entry, durably, before
      // anything else runs. The pending entry retires once the
      // pre-image carrying it is committed.
      commitPreImage(fs, preP,
        preStateFrom(spark, fs, rootPath, tableDir, keys, scope, pending))
    if (fs.exists(pending)) fs.delete(pending, true) // or a partial one
    val preCommitted = fs.exists(new Path(preP, PreCommitMarker))
    val published = fs.exists(new Path(ld, s"batch_id=$batchId"))
    if (published && !preCommitted) {
      // Retry after a completed publish (the pending entry and the
      // pre-image both retire only once the entry is durable): the
      // live table is post-batch, so a fresh diff would be empty and
      // would ERASE the real entry. Run the write for table
      // convergence; keep the entry — PROVIDED the entry is OURS. A
      // different producer's entry at this id is an id-space
      // collision, not a retry: keeping it would silently drop THIS
      // write's delta from the log (and recomputing would silently
      // erase theirs) — either way a consumer's replay == snapshot
      // contract breaks. Fail loud instead.
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
    } else if (!preCommitted) {
      // Steady state: the merge makes the entry (object scaladoc).
      val c = new Capture(spark, fs.makeQualified(rootPath), keys, scope,
        pending)
      captures.set(c :: captures.get)
      try write finally captures.set(captures.get.filterNot(_ eq c))
      require(c.merges == 1,
        s"the write logged as batch $batchId of $tableDir performed no " +
          "MergeUpsert merge on it: nothing can be diffed, and an " +
          "empty entry must not publish silently")
      // Stamp the producer (the collision guard above reads it) before
      // the publish rename: a crash between the two leaves the pending
      // entry, whose retry re-publishes and re-stamps.
      writeProducerMarker(spark, fs, tableDir, batchId, producer)
      if (c.committed) renameToEntry(fs, pending, tableDir, batchId)
    } else publishFromPreImage(spark, fs, rootPath, tableDir, keys,
      batchId, scope, producer, preP, pending)(write)
  }

  /** The batch's true pre-state from the live table and its committed
    * pending entry `E` ([[snapshotAt]]'s inverse): the scoped live rows
    * whose key `E` does not name, plus `E`'s `o_` images of its
    * non-`added` rows. Exact whatever subset of partitions the crashed
    * swap renamed — a key the crash left changed is named in `E`, and
    * every key `E` does not name reads the same before and after the
    * swap. A table with no data left contributes no live rows. */
  private def preStateFrom(spark: SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           rootPath: Path, tableDir: String,
                           keys: Seq[String],
                           scope: DataFrame => DataFrame,
                           pending: Path): DataFrame = {
    val e = spark.read.parquet(pending.toString)
    val vals = valCols(e, keys)
    val restored = e.filter(col("diff_status") =!= "added")
      .select(keys.map(col) ++ vals.map(c => col(s"o_$c").as(c)): _*)
    if (!MergeUpsert.sweepAndHasData(fs, rootPath)) restored
    else scope(spark.read.option("mergeSchema", "true").parquet(tableDir))
      .join(e.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(restored, allowMissingColumns = true)
  }

  /** Persist `pre` as batch pre-image `preP`, committed by its marker
    * last (a directory without it is a crashed partial write). An empty
    * `pre` is marked as such — it may leave no footer to read a
    * schema from. */
  private def commitPreImage(fs: org.apache.hadoop.fs.FileSystem,
                             preP: Path, pre: DataFrame): Unit = {
    fs.delete(preP, true) // a partial (uncommitted) leftover
    pre.write.mode("overwrite").parquet(preP.toString)
    if (!fs.exists(preP)) fs.mkdirs(preP)
    val spark = pre.sparkSession
    if (footerRows(fs, preP) == 0L)
      Incremental.touch(spark, new Path(preP, PreEmptyMarker))
    Incremental.touch(spark, new Path(preP, PreCommitMarker))
  }

  /** The retry-only path: a committed durable pre-image holds the
    * batch's true pre-state. Run the write, diff the pre-image against
    * the post-write table, publish the entry, then retire the
    * pre-image. A first publish stages the entry at `pending` and
    * renames it in, like the steady state; a republish swaps the
    * published partition. Neither overwrites the log root, where
    * another batch's committed pending entry may live. */
  private def publishFromPreImage(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  rootPath: Path, tableDir: String,
                                  keys: Seq[String], batchId: Long,
                                  scope: DataFrame => DataFrame,
                                  producer: String, preP: Path,
                                  pending: Path)
                                 (write: => Unit): Unit = {
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
    val diff = TableDiff.diff(alignToUnion(before, after.schema),
      alignToUnion(after, before.schema), keys)
    if (fs.exists(new Path(logDir(tableDir), s"batch_id=$batchId")))
      MergeUpsert.replacePartitions(spark, logDir(tableDir),
        diff.filter(col("diff_status") =!= "unchanged")
          .withColumn("batch_id", lit(batchId)),
        Seq(batchId), partitionCol = "batch_id")
    else if (stageEntry(fs, diff, pending))
      renameToEntry(fs, pending, tableDir, batchId)
    // Entry durable: stamp the producer (the collision guard reads
    // it), then retire the pre-image. A crash between the two marker
    // steps is benign — the pre-image outlives it, so a retry
    // re-publishes and re-stamps.
    writeProducerMarker(spark, fs, tableDir, batchId, producer)
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

  /** The log's entries in (`p0`, `p1`], listed once — the ids come
    * from the partition LISTING, no job. [[rows]] hands each consumer
    * a FRESH relation over them (two consumers of one span may meet in
    * one join plan, and a shared relation would be a self-join). A
    * one-entry span reads that entry's partition alone under its
    * footer schema: no schema-inference job, no `batch_id` column. A
    * longer span reads the log under its union schema, filtered to the
    * span. */
  final class Span private[ChangeLog] (spark: SparkSession,
                                       tableDir: String, p0: Long,
                                       p1: Long, val ids: Seq[Long]) {
    def single: Boolean = ids.size == 1
    private lazy val entryDir =
      new Path(logDir(tableDir), s"batch_id=${ids.head}")
    private lazy val entrySchema: Option[StructType] = footerSchema(
      entryDir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      Seq(entryDir))
    def rows(): DataFrame =
      if (single)
        entrySchema.fold(spark.read)(spark.read.schema)
          .parquet(entryDir.toString)
      else readSince(spark, tableDir, Some(p0)).get
        .filter(col("batch_id") <= p1)
  }

  /** The [[Span]] of the log in (`p0`, `p1`]. `p0` obeys the collapse
    * boundary ([[readSince]]: behind it fails loud); `p1` past the
    * head just clamps to it. Fails loud for a table with no log. */
  def span(spark: SparkSession, tableDir: String, p0: Long,
           p1: Long = Long.MaxValue): Span = {
    val all = Incremental.batches(spark, logDir(tableDir))
    if (all.isEmpty)
      sys.error(s"no change log under ${logDir(tableDir)} — history " +
        "and net changes come from the log; enable CDC on the table " +
        "first")
    collapseBoundary(spark, tableDir).foreach { b =>
      require(p0 >= b,
        s"consumer watermark $p0 predates the collapse boundary $b of " +
          s"${logDir(tableDir)}: its unconsumed entries were folded " +
          "into the base entry — re-seed the consumer from a table " +
          "snapshot, then tail from the boundary")
    }
    new Span(spark, tableDir, p0, p1, all.filter(i => i > p0 && i <= p1))
  }

  /** True when the table publishes a change log with at least one
    * entry — from the listing, no job (`readLog(...).isDefined`
    * without the read). */
  def hasLog(spark: SparkSession, tableDir: String): Boolean =
    Incremental.batches(spark, logDir(tableDir)).nonEmpty

  /** The NET change of a span ([[netDiff]]). A one-entry span's net is
    * the entry itself: an entry already holds one non-`unchanged` diff
    * row per key, which is exactly what the collapse would rebuild. */
  def net(span: Span, keys: Seq[String]): DataFrame =
    if (span.single) span.rows() else netDiff(span.rows(), keys)

  /** The NET change between two positions: exactly what a consumer
    * holding the table's state at `p0` must apply to hold it at `p1`
    * — [[netDiff]] of the (p0, p1] span, so intermediate churn
    * inside the window telescopes away (a change reverted within it
    * nets to nothing, an add-then-remove never appears). `p0` obeys
    * the collapse boundary ([[readSince]]); `p1` past the head just
    * clamps to it. Log-scale: one bounded partition-pruned scan into
    * the one netDiff aggregate + diff join — or, for a one-entry span,
    * the entry as it is ([[net]]). */
  def changesBetween(spark: SparkSession, tableDir: String,
                     keys: Seq[String], p0: Long, p1: Long): DataFrame = {
    require(p0 <= p1, s"changesBetween($p0, $p1): p0 must be <= p1")
    net(span(spark, tableDir, p0, p1), keys)
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
                 keys: Seq[String], pos: Long): DataFrame =
    snapshotAt(spark, tableDir, keys, span(spark, tableDir, pos))

  /** [[snapshotAt]] from a span already listed (its `p0` is the
    * position). A one-entry span's first-change images are that
    * entry's rows, so it needs no aggregate and no checkpoint, and the
    * entry's schema types the current-table read. */
  def snapshotAt(spark: SparkSession, tableDir: String,
                 keys: Seq[String], span: Span): DataFrame = {
    val log = span.rows()
    val vals = valCols(log, keys)
    val (touched, restored) =
      if (span.single)
        (log.select(keys.map(col): _*),
          log.filter(col("diff_status") =!= "added")
            .select(keys.map(col) ++ vals.map(c => col(s"o_$c").as(c)): _*))
      else {
        val firstS = struct(
          (col("diff_status") +: vals.map(c => col(s"o_$c"))): _*)
        val first = log.groupBy(keys.map(col): _*)
          .agg(min_by(firstS, col("batch_id")).as("_first"))
          .localCheckpoint() // log-scale; feeds both the anti-join and restore
        (first.select(keys.map(col): _*),
          first.filter(col("_first.diff_status") =!= "added")
            .select(keys.map(col) ++
              vals.map(c => col(s"_first.o_$c").as(c)): _*))
      }
    // A table emptied by a delete-capable write has no parquet footer
    // to read a schema from — the history is then carried ENTIRELY by
    // the log's pre-images (every current row was removed, so every
    // key at `pos` is a restored one).
    val tp = new Path(tableDir)
    val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!tfs.exists(tp) || !MergeUpsert.sweepAndHasData(tfs, tp))
      return restored
    // Only the log's columns come out, so a one-entry span reads the
    // table under the entry's key and `o_` types: no inference job.
    val current =
      if (span.single)
        spark.read.schema(StructType(
            keys.map(log.schema(_).copy(nullable = true)) ++
            vals.map(c => log.schema(s"o_$c").copy(name = c,
              nullable = true))))
          .parquet(tableDir)
      else spark.read.option("mergeSchema", "true").parquet(tableDir)
    val untouched = current
      .join(touched, keys, "left_anti")
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
    * Only entries that actually hold matching rows rewrite
    * ([[MergeUpsert.eraseFailing]]); an entry purged empty becomes
    * absence, the empty-entry convention. Returns purged row count. */
  def purge(spark: SparkSession, tableDir: String, keep: Column): Long =
    readLog(spark, tableDir)
      .map(MergeUpsert.eraseFailing(spark, logDir(tableDir), _, keep))
      .getOrElse(0L)

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
