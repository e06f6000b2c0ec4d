package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping over a plain parquet directory: a
  * clustered layout writer plus a per-file min/max ZONE MAP sidecar,
  * so a range predicate reads only the files whose value envelope
  * intersects it — the Delta/Iceberg data-skipping move (file-level
  * stats consulted at PLANNING time), rebuilt from first principles
  * on nothing but parquet and one metadata listing.
  *
  * Why this exists at 100 TB: Spark's parquet reader already prunes
  * ROW GROUPS by footer min/max, but it must still LIST and OPEN every
  * file to do it — a 100 TB table at 128 MB/file is ~800k footer
  * reads per query, and the scan's task count is the file count, not
  * the match count. Hive partitioning only prunes its partition
  * columns, and only at directory granularity. The zone map moves the
  * same min/max decision UP to one sidecar table: a range scan plans
  * from `_zonemap` (one tiny parquet read), opens only the surviving
  * files, and the job's task count scales with the DATA THAT MATCHES.
  * With [[cluster]]'s range layout the envelopes are disjoint, so a
  * point or narrow-range predicate survives O(1) files out of
  * hundreds of thousands.
  *
  * The layout half ([[cluster]]) is `repartitionByRange` + in-file
  * sort — Spark's own range-exchange sampling picks balanced file
  * boundaries, and the in-file sort tightens every parquet row-group
  * envelope too, so the row-group pruning that remains AFTER file
  * pruning is also maximally selective. For multi-dimensional
  * clustering, pass a Z-value column ([[graft.ops.EventOps.zorderKey]]
  * builds one) as the range key and index the raw dimensions as
  * `statsCols`: interleaved bits give every indexed dimension a
  * bounded envelope per file.
  *
  * Correctness contract (what the oracle checks): pruning is EXACT —
  * a range scan over the pruned file set equals the same predicate
  * over the full table, including boundary-straddling files (kept:
  * the residual predicate still runs) and null-valued rows (a range
  * predicate never matches NULL, and an all-null file has NULL
  * min/max, which the overlap test treats as prunable — the SQL
  * three-valued logic does that for free, no special case).
  *
  * Staleness is a FAIL-LOUD, never a wrong answer: the sidecar
  * records the exact data-file basenames it covers, and [[scan]]
  * re-lists the directory (one metadata call — the same bill
  * [[Compaction]]'s planner and [[TableStats]] pay) and refuses to
  * serve if the sets differ. A writer that appends, compacts or
  * rewrites files must re-run [[buildStats]]; until it does, readers
  * get an error naming the remedy instead of a silently partial scan.
  * The sidecar itself swaps atomically (staging dir + rename), so a
  * reader sees the old map or the new map, never a torn one.
  *
  * Scale accounting: [[buildStats]] is ONE distributed pass over the
  * table (a groupBy on the `_metadata.file_path` hidden column —
  * map-side combinable, state = files × cols, metadata-scale);
  * [[scan]]'s planning collects only surviving FILE NAMES (bounded by
  * the file count, the same order as Spark's own driver-side
  * `InMemoryFileIndex`); no data row ever reaches the driver.
  *
  * Reference analogue: the reference prunes its Silver reads by hive
  * partition directories only (`spark_jobs/silver_job.py` reads
  * `datetime=<ds>/`); this generalizes that to ANY indexed column at
  * file granularity. */
object DataSkipping {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def zonemapDir(dir: String) = s"$dir/_zonemap"

  /** Visible subdirectories of a directory (dot/underscore entries are
    * working dirs and sidecars, not data) — the guard every FLAT-layout
    * entry point runs: a hive-partitioned directory must take the
    * per-partition path ([[maintain]]/[[scanPartitioned]]), because a
    * by-file read of its leaves loses the partition values and a
    * TOP-LEVEL-only listing would silently ignore the leaves' files —
    * the covered==live staleness check would pass while the scan reads
    * a partial table. Fail loud, never wrong. */
  private def visibleSubdirs(spark: SparkSession, dir: String): Seq[String] =
    fs(spark, dir).listStatus(new Path(dir)).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq

  private def requireFlat(spark: SparkSession, dir: String,
                          what: String): Unit = {
    val subdirs = visibleSubdirs(spark, dir)
    if (subdirs.nonEmpty)
      sys.error(s"$dir is hive-partitioned (${subdirs.take(2)
        .mkString(", ")}…) — $what covers flat clustered layouts; " +
        "use the per-partition form (enablePartitioned/maintain/" +
        "scanPartitioned) for partitioned tables")
  }

  /** Visible data-file basenames of the table directory — the reader
    * convention shared with [[Compaction]] and [[TableStats]]:
    * dotfiles and underscore entries (`_SUCCESS`, the sidecar itself,
    * a mid-write staging dir) are not data. */
  private def dataFiles(spark: SparkSession, dir: String): Set[String] = {
    val p = new Path(dir)
    val filesystem = fs(spark, dir)
    filesystem.listStatus(p).iterator
      .filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_"))
      .toSet
  }

  /** Write `df` range-clustered by `clusterCols` into `dir` as
    * `numFiles` files (one range per file, sorted within), then build
    * the zone map over `statsCols` (defaults to the cluster key).
    * Overwrite semantics ride Spark's own commit protocol (staged
    * `_temporary` + rename), so a crashed write never publishes a
    * partial table; the sidecar is built only after the data commit.
    *
    * `numFiles` is the knob that sets file size: at 100 TB target
    * ~128 MB–1 GB per file (the parquet sweet spot) — the per-file
    * envelope narrows linearly as files multiply, so selectivity
    * IMPROVES with scale rather than degrading. */
  def cluster(spark: SparkSession, df: DataFrame, dir: String,
              clusterCols: Seq[String], numFiles: Int,
              statsCols: Seq[String] = Seq.empty): Unit = {
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
    buildStats(spark, dir,
      if (statsCols.nonEmpty) statsCols else clusterCols)
  }

  /** (Re)build the `_zonemap` sidecar for the data files currently in
    * `dir`: one row per file with row count and min/max per indexed
    * column. One distributed aggregation pass (group key = the
    * `_metadata.file_path` hidden column, state = files × cols);
    * published by atomic rename so readers never see a torn map.
    * Idempotent — rebuilding over an unchanged directory yields an
    * identical sidecar. */
  def buildStats(spark: SparkSession, dir: String,
                 statsCols: Seq[String]): Unit = {
    // Zone maps cover FLAT clustered layouts: a hive-partitioned table
    // already prunes on its partition columns at directory level, and
    // a by-file read of its leaves would lose the partition values.
    // Cluster within each partition instead (one flat layout per
    // partition directory — [[maintain]] keeps those) — fail loud
    // rather than build a map the scan would mis-serve.
    requireFlat(spark, dir, "buildStats")
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    val stats = spark.read.parquet(dir)
      .groupBy(substring_index(col("_metadata.file_path"), "/", -1)
        .as("file_name"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)

    val target = new Path(zonemapDir(dir))
    val staging = new Path(
      s"$dir/_zonemap.tmp-${java.util.UUID.randomUUID()}")
    val filesystem = fs(spark, dir)
    stats.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    if (filesystem.exists(target)) filesystem.delete(target, true)
    if (!filesystem.rename(staging, target))
      sys.error(s"zone map publish failed: rename $staging -> $target")
  }

  /** Append `df` into a clustered directory and bring the zone map
    * with it INCREMENTALLY: only the files this append created are
    * scanned for stats; every existing file's sidecar row carries
    * over untouched. This is the write path that keeps the sidecar
    * honest between reclusters without paying [[buildStats]]'s full
    * table pass per batch — at 100 TB that pass is the difference
    * between O(delta) and O(table) per ingest. Appended files carry
    * whatever envelope the delta has (typically wide on the cluster
    * key) — pruning stays EXACT, just weaker on the unclustered tail,
    * until [[recluster]] re-tightens the layout. */
  def append(spark: SparkSession, df: DataFrame, dir: String,
             statsCols: Seq[String]): Unit = {
    df.write.mode("append").parquet(dir)
    ensureStats(spark, dir, statsCols)
  }

  /** Reconcile the zone map with the directory's CURRENT listing at
    * delta cost: stat ONLY the data files the sidecar does not cover
    * (one scan of those files), drop rows for files that vanished (a
    * recluster or an external rewrite), leave covered files' rows
    * byte-identical. Idempotent; a no-op when the sets already match.
    * Like [[buildStats]], publishes by atomic staging-dir rename. */
  def ensureStats(spark: SparkSession, dir: String,
                  statsCols: Seq[String]): Unit = {
    // Same flat-only guard as buildStats: a partitioned append into a
    // zone-mapped dir creates subdirs whose files the TOP-LEVEL
    // dataFiles listing would ignore — the covered==live check would
    // pass and scan() would silently serve a partial table.
    requireFlat(spark, dir, "ensureStats")
    val filesystem = fs(spark, dir)
    val zm = new Path(zonemapDir(dir))
    if (!filesystem.exists(zm)) { buildStats(spark, dir, statsCols); return }
    val live = dataFiles(spark, dir)
    val existing = spark.read.parquet(zm.toString)
    val covered = existing.select("file_name").collect()
      .map(_.getString(0)).toSet
    if (covered == live) return
    val fresh = (live -- covered).toSeq.sorted
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    val freshStats =
      if (fresh.isEmpty) existing.filter(lit(false))
      else spark.read.parquet(fresh.map(f => s"$dir/$f"): _*)
        .groupBy(substring_index(col("_metadata.file_path"), "/", -1)
          .as("file_name"))
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val next = existing.filter(col("file_name").isin(live.toSeq: _*))
      .unionByName(freshStats, allowMissingColumns = true)
      .localCheckpoint() // the swap below deletes the dir being read
    val staging = new Path(
      s"$dir/_zonemap.tmp-${java.util.UUID.randomUUID()}")
    next.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    if (filesystem.exists(zm)) filesystem.delete(zm, true)
    if (!filesystem.rename(staging, zm))
      sys.error(s"zone map publish failed: rename $staging -> $zm")
  }

  /** Re-tighten the layout: full range-recluster of the CURRENT table
    * into a fresh file set, staged beside the directory and swapped
    * in whole (old dir → backup, staging → live, drop backup — the
    * [[graft.silver.MergeUpsert]] rename protocol over the one "flat
    * partition"), then [[buildStats]] over the new files. O(table) by
    * design — this is the amortized maintenance pass that pays back
    * the widening [[append]]s; a mid-swap crash leaves either the old
    * complete directory (retry re-clusters) or the new one (stale
    * sidecar fails loud until the final buildStats re-runs — wrong
    * answers are unreachable either way). */
  def recluster(spark: SparkSession, dir: String,
                clusterCols: Seq[String], numFiles: Int,
                statsCols: Seq[String] = Seq.empty): Unit = {
    val filesystem = fs(spark, dir)
    val live = new Path(dir)
    // Recovery: a crash between the two swap renames leaves the table
    // absent with its complete old data in the backup — restore it
    // before planning (the single-writer discipline of every
    // maintenance op here).
    val oldBackup = new Path(s"$dir.recluster-backup")
    if (!filesystem.exists(live) && filesystem.exists(oldBackup))
      filesystem.rename(oldBackup, live)
    val staging = new Path(
      s"$dir.recluster-${java.util.UUID.randomUUID()}")
    spark.read.parquet(dir)
      .repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(staging.toString)
    val backup = new Path(s"$dir.recluster-backup")
    if (filesystem.exists(backup)) filesystem.delete(backup, true)
    if (!filesystem.rename(live, backup))
      sys.error(s"recluster swap failed: rename $live -> $backup")
    if (!filesystem.rename(staging, live)) {
      filesystem.rename(backup, live) // restore; staging left for GC
      sys.error(s"recluster swap failed: rename $staging -> $live")
    }
    filesystem.delete(backup, true)
    buildStats(spark, dir,
      if (statsCols.nonEmpty) statsCols else clusterCols)
  }

  /** The surviving file set for `lo <= column <= hi` (inclusive,
    * either side optional), validated against the live directory —
    * exposed for [[scan]] and for specs that pin the pruning itself.
    * Returns (surviving basenames, total data files). */
  def pruneFiles(spark: SparkSession, dir: String, column: String,
                 lo: Option[Column], hi: Option[Column])
      : (Seq[String], Int) = {
    requireFlat(spark, dir, "pruneFiles") // see ensureStats
    val zm = new Path(zonemapDir(dir))
    if (!fs(spark, dir).exists(zm))
      sys.error(s"no zone map at $dir — run DataSkipping.buildStats " +
        "(or cluster) before scanning")
    val zmap = spark.read.parquet(zm.toString)
    if (!zmap.columns.contains(s"min_$column"))
      sys.error(s"zone map at $dir does not index '$column' " +
        s"(indexed: ${zmap.columns.filter(_.startsWith("min_"))
          .map(_.stripPrefix("min_")).mkString(", ")}) — rebuild " +
        "buildStats with it in statsCols")

    val live = dataFiles(spark, dir)
    // Overlap test in three-valued logic: an all-null file has NULL
    // min/max -> the keep predicate is NULL -> pruned, which is
    // correct because a range predicate never matches NULL rows.
    val disjoint = lo.map(col(s"max_$column") < _) ++
      hi.map(col(s"min_$column") > _)
    val keep = disjoint.reduceOption(_ || _)
      .map(d => !coalesce(d, lit(false))).getOrElse(lit(true))
    val surviving = zmap.filter(keep)
      .select("file_name").collect().map(_.getString(0)).toSeq

    val covered = zmap.select("file_name").collect()
      .map(_.getString(0)).toSet
    if (covered != live)
      sys.error(s"zone map at $dir is STALE: it covers ${covered.size} " +
        s"files but the directory holds ${live.size} " +
        s"(missing from map: ${(live -- covered).take(3).mkString(", ")}" +
        s"; gone from dir: ${(covered -- live).take(3).mkString(", ")}) " +
        "— re-run DataSkipping.buildStats after any write/compaction")
    (surviving, live.size)
  }

  /** Range scan `lo <= column <= hi` reading ONLY the files whose
    * zone-map envelope intersects the range; the residual predicate
    * still applies (boundary files carry rows outside the range), and
    * parquet row-group pruning still runs inside each surviving file —
    * the zone map is a coarser, earlier cut of the same stats, not a
    * replacement. An empty surviving set returns the empty frame with
    * the table's schema without launching a scan. */
  def scan(spark: SparkSession, dir: String, column: String,
           lo: Column, hi: Column): DataFrame = {
    val (surviving, _) = pruneFiles(spark, dir, column, Some(lo), Some(hi))
    val residual = col(column) >= lo && col(column) <= hi
    if (surviving.isEmpty)
      spark.read.parquet(dir).filter(residual).limit(0)
    else
      spark.read.parquet(surviving.map(f => s"$dir/$f"): _*)
        .filter(residual)
  }

  // ------------------------------------------------------------------
  // PARTITIONED warehouse tables: one `_zonemap` per hive leaf,
  // maintained BY THE WRITERS.
  //
  // The flat form above serves standalone clustered copies; the
  // warehouse's own tables are all datetime-/batch_id-partitioned and
  // are REWRITTEN by maintenance ops (MergeUpsert swaps, Compaction,
  // Retention) — a sidecar nobody maintains goes stale on the exact
  // tables that matter (loud, never wrong — but opt-out). So the
  // partitioned form is two pieces:
  //
  //  - LAYOUT: each hive leaf directory carries its own `_zonemap`
  //    over the PINNED stats columns ([[enablePartitioned]] writes the
  //    pin — a `_skipping_cols` sidecar at the table root — and builds
  //    every leaf's map). Partition pruning still happens first, at
  //    directory level, for free; the per-leaf map then prunes FILES
  //    within each surviving partition — the two cuts compose.
  //  - MAINTENANCE: every rename-swap writer calls [[maintain]] on the
  //    partitions it rewrote (MergeUpsert's writeAndSwap and initial
  //    writes, Compaction's per-partition rewrite; Retention rides
  //    MergeUpsert). For an unpinned table that is ONE fs.exists — the
  //    universal-writer bill is a metadata check, not a stats pass.
  //    For a pinned table the bill is O(touched leaves): ensureStats
  //    per rewritten leaf, each stat-scanning only the files its map
  //    does not cover. A writer that bypasses the maintained path
  //    (a bare spark .mode("append")) leaves that leaf's covered set
  //    != live and the next [[scanPartitioned]] of it fails LOUD with
  //    the remedy — the flat form's staleness contract, per leaf.
  //
  // Reference analogue: the Silver partition-pruned reads
  // (silver_user_session_events.py:75-76) are the scans this serves —
  // partition pruning alone stops at directory granularity; the leaf
  // maps cut the files WITHIN each partition the same way Delta's
  // file stats do.

  private def pinPath(rootDir: String) =
    new Path(rootDir.stripSuffix("/") + "_skipping_cols")

  /** The stats columns a partitioned table is pinned to maintain zone
    * maps over (None = skipping not enabled; every writer's
    * [[maintain]] is then a no-op). The pin is a SIBLING of the table
    * root — the table's own full-recompute `mode("overwrite")` must
    * not eat it (the ChangeLog `_changelog_pre` lesson). */
  def pinnedStatsCols(spark: SparkSession,
                      rootDir: String): Option[Seq[String]] =
    Incremental.readText(spark, pinPath(rootDir))
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** The table's hive leaf partition directories (one level — the
    * warehouse convention; nested partitioning fails loud in the leaf
    * guard when touched). */
  private def leafDirs(spark: SparkSession, rootDir: String): Seq[String] =
    visibleSubdirs(spark, rootDir).filter(_.contains("="))

  /** Enable writer-maintained file skipping on a hive-partitioned
    * table: pin `statsCols` durably at the root (atomic rename), then
    * bring every leaf's `_zonemap` current. From here on every
    * rename-swap writer keeps the touched leaves' maps fresh via
    * [[maintain]] — no manual rebuild, ever. Within-leaf pruning power
    * is set by the WRITER's layout: a stage range-shaped on
    * (partitionCol, statsCol) gives each leaf disjoint per-file
    * envelopes; an unshaped append still serves (exact, weaker) until
    * the next rewrite re-tightens. */
  def enablePartitioned(spark: SparkSession, rootDir: String,
                        statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    Incremental.writeText(spark, pinPath(rootDir), statsCols.mkString("\n"))
    maintain(spark, rootDir, Seq.empty)
  }

  /** Bring the zone maps of `touchedPartDirs` (leaf directory NAMES,
    * e.g. `datetime=2024-01-01`; empty = every leaf) current — the
    * writer hook. A no-op (one fs.exists) when the table is not
    * pinned; O(touched leaves) when it is, each leaf reconciling at
    * delta cost ([[ensureStats]]). A touched leaf that no longer
    * exists was dropped whole — its sidecar died with it. */
  def maintain(spark: SparkSession, rootDir: String,
               touchedPartDirs: Seq[String]): Unit = {
    val cols = pinnedStatsCols(spark, rootDir).getOrElse(return)
    val touched =
      if (touchedPartDirs.nonEmpty) touchedPartDirs
      else leafDirs(spark, rootDir)
    val filesystem = fs(spark, rootDir)
    touched.foreach { leaf =>
      val leafPath = new Path(rootDir, leaf)
      if (filesystem.exists(leafPath))
        ensureStats(spark, leafPath.toString, cols)
    }
  }

  /** Re-tighten ONE leaf of a pinned partitioned table — the
    * incremental maintenance pass: appends widen a leaf's per-file
    * envelopes until its map stops pruning, and the flat
    * [[recluster]] answer (O(table), and staging/backup SIBLINGS that
    * a hive listing would mis-read as phantom partitions) is the
    * wrong tool inside a partitioned root. This re-range-shapes JUST
    * the named leaf and lands it through the standard rename-swap
    * writer ([[graft.silver.MergeUpsert.replacePartitions]]) — crash
    * recovery (dot-prefixed backups, invisible to the listing) and
    * the zone-map reconcile come from the writer, not re-implemented
    * — so the bill is O(leaf), the granularity a 100 TB table's
    * maintenance scheduler actually wants (recluster the day that
    * churned, not the decade that didn't). */
  def reclusterPartition(spark: SparkSession, rootDir: String,
                         leaf: String, numFiles: Int): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    require(leaf.contains("="),
      s"'$leaf' is not a hive leaf name (col=value)")
    val cols = pinnedStatsCols(spark, rootDir).getOrElse(
      sys.error(s"$rootDir has no skipping pin — run " +
        "DataSkipping.enablePartitioned before reclusterPartition"))
    val leafPath = new Path(rootDir, leaf)
    if (!fs(spark, rootDir).exists(leafPath))
      sys.error(s"no such partition: $leafPath")
    val partCol = leaf.takeWhile(_ != '=')
    val shaped = spark.read.option("basePath", rootDir)
      .parquet(leafPath.toString)
      .repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    graft.silver.MergeUpsert.replacePartitions(spark, rootDir, shaped,
      Seq.empty, partitionCol = partCol)
  }

  /** Range scan `lo <= column <= hi` over a pinned partitioned table,
    * composing BOTH cuts: `partitionKeep` prunes leaf DIRECTORIES by
    * name (the hive cut — pass the partition predicate you'd push
    * down; defaults to all), then each surviving leaf's zone map
    * prunes its FILES, and the read re-attaches partition values via
    * the `basePath` option so the frame is schema-identical to a full
    * table read. The residual predicate still applies; row-group
    * pruning still runs inside surviving files. A leaf whose map is
    * stale (a writer bypassed [[maintain]]) fails LOUD with the
    * remedy; an unpinned table fails loud here too (there is nothing
    * exact to serve). */
  def scanPartitioned(spark: SparkSession, rootDir: String,
                      column: String, lo: Column, hi: Column,
                      partitionKeep: String => Boolean = _ => true)
      : DataFrame = {
    if (pinnedStatsCols(spark, rootDir).isEmpty)
      sys.error(s"$rootDir has no skipping pin — run " +
        "DataSkipping.enablePartitioned before scanPartitioned")
    val residual = col(column) >= lo && col(column) <= hi
    val leaves = leafDirs(spark, rootDir).filter(partitionKeep)
    val surviving = leaves.flatMap { leaf =>
      pruneFiles(spark, s"$rootDir/$leaf", column, Some(lo), Some(hi))
        ._1.map(f => s"$rootDir/$leaf/$f")
    }
    if (surviving.isEmpty)
      spark.read.option("basePath", rootDir).parquet(rootDir)
        .filter(residual).limit(0)
    else
      spark.read.option("basePath", rootDir).parquet(surviving: _*)
        .filter(residual)
  }
}
