package graft.silver

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S9: idempotent MERGE-INTO rewrite for plain partitioned parquet
  * (reference silver_user_session_events.py:149-186 uses Iceberg MERGE; we
  * have no table format, so: stage → target ⟕anti stage (per affected
  * partition) → union → staged write + partition-directory swap —
  * SURVEY.md §7.3).
  *
  * Scale properties: only partitions present in the staging data are read
  * and rewritten (partition pruning via the collected affected-value list —
  * a metadata-sized driver round-trip, same as Iceberg's manifest
  * planning); the anti-join shuffles only those partitions, keyed by the
  * merge key. Re-running the same stage is a no-op (idempotent), as the
  * anti-join removes every staged key before the union.
  *
  * Crash safety: the merged result is written to a `.staging-<uuid>`
  * directory NEXT TO the target first — the expensive compute/write can
  * fail at any point and the target is untouched (RuntimeSpec simulates
  * exactly that). Each affected partition directory is then swapped in
  * with two filesystem renames (target→backup, staging→target, drop
  * backup) — a metadata-scale window, vs the whole-job window an in-place
  * `mode("overwrite")` leaves where the partition has been deleted but
  * not yet rewritten. A crash between the two renames leaves a
  * `.backup-<uuid>--<partition>` directory with the complete pre-update
  * partition; the shared recovery sweep
  * ([[graft.runtime.Compaction.recoverySweep]], run at the start of
  * every upsert and compact) restores it automatically under the
  * single-writer assumption. True multi-writer snapshot atomicity needs
  * a table format's commit protocol (Iceberg in the reference) —
  * documented as the accepted gap in SURVEY.md §7.3.
  */
object MergeUpsert {

  /** `evolveSchema = true` admits ADDITIVE schema evolution: staged
    * rows may carry columns the target lacks (and vice versa) — the
    * union aligns by name and fills the missing side with NULLs, the
    * parquet-standard widen-with-nulls semantics. The DEFAULT stays
    * strict: a column-set mismatch fails loud, because silently
    * null-filling a typo'd producer schema is exactly how a 100 TB
    * table rots (RuntimeSpec pins both behaviors). Evolution applies
    * only to the affected partitions this upsert rewrites; older
    * partitions keep their files until touched — readers get the
    * merged view via parquet schema merging. */
  def upsert(spark: SparkSession, targetDir: String, stage: DataFrame,
             keyCols: Seq[String], partitionCol: String = "datetime",
             evolveSchema: Boolean = false): Unit = {
    val t = open(spark, targetDir)
    if (!sweepAndHasData(t.fs, t.root)) {
      initialWrite(spark, t, stage, partitionCol)
    } else {
      // Affected partitions only: metadata-scale collect (dates, not rows).
      val affected = stage.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toIndexedSeq
      val affectedPred = affectedPredicate(partitionCol, affected)
      // The target's schema must be the UNION of its files' schemas,
      // not whichever footer Spark happens to sample — after an
      // evolution write, a sampled old footer would silently null out
      // evolved-column values in every partition this upsert rewrites
      // (and make strict-mode upserts of evolved tables fail
      // spuriously). readByFooters takes that union from one footer
      // per data directory on the driver, with no inference job; the
      // row filter still prunes to affected partitions.
      val target = graft.runtime.ChangeLog.readByFooters(spark, targetDir)
        .filter(affectedPred)
      val merged = target
        .join(stage, keyCols, "left_anti")
        .unionByName(stage, allowMissingColumns = evolveSchema)
      // Plain upsert never deletes a partition: every affected value
      // has staged rows by construction, so dropEmpty = Nil.
      writeAndSwap(t, merged, partitionCol, Nil)
    }
  }

  /** Delta-recompute merge with DELETION propagation: `stage` is the
    * COMPLETE recompute of a scope (e.g. the affected users — every
    * staged row must lie inside `scope`, which the caller guarantees by
    * deriving the stage from a scope semi-join). Within that scope the
    * target converges to the stage EXACTLY, including deletions: scope
    * rows absent from the stage are dropped — the case plain [[upsert]]
    * cannot express, because its anti-join-union keeps any target row
    * whose key vanished from the stage.
    *
    * Affected partitions are the union of the stage's partition values
    * and the partition values where the scope currently has TARGET rows
    * — a vanished grain has no staged row, but its old partition must
    * still rewrite (the scope-side scan is column-pruned to
    * (scopeCols, partitionCol); at 100 TB a scope-bucketed layout
    * prunes it further). A partition whose rewrite comes out EMPTY is
    * deleted via the trash protocol (scaladoc on [[dropPartitionDirs]]).
    * Idempotent: re-running the same stage re-derives the same scope
    * rows. Returns the affected partition values of a merge into
    * existing data (staged first, then the scope's previous ones): the
    * dates a date-scoped downstream must recompute. None on a table's
    * first write, where every staged value is affected: listing them
    * would cost one more pass over the stage, which a caller holding a
    * materialized stage can make cheaper. */
  def upsertScoped(spark: SparkSession, targetDir: String, stage: DataFrame,
                   scopeCols: Seq[String], scope: DataFrame,
                   partitionCol: String = "datetime"): Option[Seq[Any]] = {
    val t = open(spark, targetDir)
    if (!sweepAndHasData(t.fs, t.root)) {
      initialWrite(spark, t, stage, partitionCol)
      None
    } else {
      // Union schema from the footers, as in [[upsert]].
      val target = graft.runtime.ChangeLog.readByFooters(spark, targetDir)
      // Distinct per partition, no shuffle: one job over the stage
      // (which a caller recomputing a scope materializes), not two.
      val stagedVals = stage.select(col(partitionCol)).rdd
        .mapPartitions(_.map(_.get(0)).toSet.iterator)
        .collect().toIndexedSeq.distinct
      val scopeVals = target
        .join(scope.select(scopeCols.map(col): _*).distinct(),
          scopeCols, "left_semi")
        .select(col(partitionCol)).distinct().collect()
        .map(_.get(0)).toIndexedSeq
      val affected = (stagedVals ++ scopeVals).distinct
      // Nothing staged and the scope has no rows: nothing to rewrite.
      if (affected.nonEmpty) {
        val kept = target.filter(affectedPredicate(partitionCol, affected))
          .join(scope.select(scopeCols.map(col): _*).distinct(),
            scopeCols, "left_anti")
        writeAndSwap(t, kept.unionByName(stage),
          partitionCol, affected.map(partitionDirName(partitionCol, _)))
      }
      Some(affected)
    }
  }

  /** Replace exactly the partitions of `partitionVals` with the stage's
    * rows — the date-grain delta-recompute shape, where the stage IS the
    * complete recompute of those partitions (so target rows there are
    * dropped wholesale, and a partition with no staged rows at all is
    * DELETED — the all-grains-vanished case). Partitions outside the
    * list are untouched, except that a staged value outside it swaps
    * in wholesale like a listed one. One pass over the stage: the swap
    * takes whatever partitions the staging write produced, and the
    * drop set is the listed values that received no rows. Same
    * staging-write + rename-swap crash protocol as [[upsert]]. */
  def replacePartitions(spark: SparkSession, targetDir: String,
                        stage: DataFrame, partitionVals: Seq[Any],
                        partitionCol: String = "datetime"): Unit = {
    val t = open(spark, targetDir)
    if (!sweepAndHasData(t.fs, t.root))
      initialWrite(spark, t, stage, partitionCol)
    else // names encoded before the write: a bad type fails first
      writeAndSwap(t, stage, partitionCol,
        partitionVals.distinct.map(partitionDirName(partitionCol, _)))
  }

  /** Converge the WHOLE table to the stage — the full-recompute shape
    * ([[graft.runtime.Pipeline.runDaily]]'s silver and gold writes):
    * the stage is the complete recompute of the entire table, so every
    * target partition either swaps to its staged form or — when the
    * recompute no longer produces it at all — is deleted. The keyed
    * [[upsert]] cannot express either deletion, and a dynamic
    * partition overwrite misses the vanished-partition case (it only
    * touches partitions present in the written data). The drop set
    * comes from LISTING the target's partition directories, so this
    * mode needs no value→path encoding at all — it is safe for every
    * partition-column type. Same staging-write + rename-swap crash
    * protocol; idempotent. */
  def replaceAll(spark: SparkSession, targetDir: String, stage: DataFrame,
                 partitionCol: String = "datetime"): Unit = {
    val t = open(spark, targetDir)
    if (!sweepAndHasData(t.fs, t.root)) {
      initialWrite(spark, t, stage, partitionCol)
    } else {
      val existingDirs = t.fs.listStatus(t.root)
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith(s"$partitionCol=")).toIndexedSeq
      writeAndSwap(t, stage, partitionCol, existingDirs)
    }
  }

  /** One merge's target: its root, filesystem, and the change-log
    * capture of the [[graft.runtime.ChangeLog.recordBatch]] wrapping
    * this write of it, if any — the merge then makes the batch's log
    * entry before its swap ([[writeAndSwap]]). */
  private final case class Target(root: Path,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  log: Option[graft.runtime.ChangeLog.Capture])

  private def open(spark: SparkSession, targetDir: String): Target = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Target(root, fs, graft.runtime.ChangeLog.mergeOf(fs, root))
  }

  /** Shared preamble of every merge mode: heal a previous writer's
    * crash leftovers FIRST (the shared rename-swap recovery,
    * [[graft.runtime.Compaction.recoverySweep]] — a between-renames
    * backup is restored to its partition, stale backups and orphan
    * staging/compact/trash dirs drop; single-writer-per-table
    * assumption), THEN decide whether the target holds data. The sweep
    * must run before the existence decision, not after: a table whose
    * only contents are a crashed writer's `.backup-*` would otherwise
    * read as empty and the initial write would destroy the backup. The
    * data check counts only VISIBLE entries — a table the
    * delete-capable modes emptied down to its `_SUCCESS` marker is a
    * legitimate state, and must take the initial-write branch (reading
    * it for a merge would fail schema inference). */
  private[graft] def sweepAndHasData(fs: org.apache.hadoop.fs.FileSystem,
                                     rootPath: Path): Boolean = {
    if (!fs.exists(rootPath)) return false
    graft.runtime.Compaction.recoverySweep(fs, rootPath)
    fs.listStatus(rootPath).exists { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
  }

  /** The table at `dir`, or None when it holds no data: absent, or
    * emptied down to its `_SUCCESS` marker by a delete-capable mode,
    * which leaves no footer to infer a schema from. For a maintenance
    * op that state means "nothing left to touch" (a retry must not
    * crash on the emptiness its first attempt produced). */
  private[graft] def readIfData(spark: SparkSession,
                                dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (sweepAndHasData(fs, p)) Some(spark.read.parquet(dir)) else None
  }

  /** Erase the rows of `table` (the `batch_id`-partitioned table at
    * `targetDir`, or a partition-pruned slice of it) that fail `keep`.
    * One aggregate finds the batches holding such rows and counts
    * them; exactly those batch partitions rewrite with the rows that
    * pass, and one left with none is deleted ([[replacePartitions]]).
    * A NULL `keep` keeps its row. `beforeRewrite` sees the batch ids
    * first: the hook for durable scope that a crash retry needs once
    * the rewrite has erased the evidence. Returns the rows erased. */
  private[graft] def eraseFailing(spark: SparkSession, targetDir: String,
                                  table: DataFrame, keep: Column,
                                  beforeRewrite: Seq[Any] => Unit = _ => ())
      : Long = {
    val kept = coalesce(keep, lit(true))
    val hits = table.filter(!kept).groupBy(col("batch_id")).count()
      .collect().map(r => (r.get(0), r.getLong(1))).toIndexedSeq
    val batches = hits.map(_._1)
    if (batches.nonEmpty) {
      beforeRewrite(batches)
      replacePartitions(spark, targetDir,
        table.filter(col("batch_id").isin(batches: _*) && kept), batches,
        partitionCol = "batch_id")
    }
    hits.map(_._2).sum
  }

  /** isin() never matches NULL (SQL three-valued logic), so a null
    * partition value needs its own predicate. */
  private def affectedPredicate(partitionCol: String,
                                affected: Seq[Any]) = {
    val nonNull = affected.filter(_ != null)
    val p = col(partitionCol).isin(nonNull: _*)
    if (affected.contains(null)) p || col(partitionCol).isNull else p
  }

  /** Hive partition directory name for one value — the value→path
    * encoding Spark's writers use. Only the DELETE side of the scoped
    * modes needs it (the swap side derives names by listing the staging
    * output, which sidesteps encoding entirely; a partition that must
    * VANISH has no staged rows to list). Covers the scalar types whose
    * toString matches Spark's hive formatting — Date, String, integers,
    * the partition-column types this codebase uses; null takes the hive
    * default-partition name. */
  private[graft] def partitionDirName(partitionCol: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    v match {
      case null | _: String | _: java.sql.Date | _: java.time.LocalDate |
          _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
          _: java.lang.Byte | _: java.lang.Boolean => ()
      case other => throw new IllegalArgumentException(
        s"partition value type ${other.getClass.getName} is not supported " +
          "by the delete-capable merge modes: its toString does not match " +
          "Spark's hive partition-path formatting (e.g. Timestamp drops " +
          "the '.0'), so a vanished partition would be silently skipped " +
          "instead of deleted — use replaceAll (listing-based, " +
          "encoding-free) or a supported partition type")
    }
    val s =
      if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(v.toString)
    s"$partitionCol=$s"
  }

  /** Drop partition directories via the TRASH protocol: rename to
    * `.trash-<uuid>` (one atomic rename — the partition vanishes in a
    * single metadata operation), then delete the trash dir. A crash
    * between the two leaves a `.trash-*` directory that the shared
    * recovery sweep DELETES on the next run — deliberately a different
    * name class from `.backup-*`, whose sweep semantics are "restore if
    * the partition is missing": a trash name means this data is DEAD,
    * so recovery completes the delete instead of resurrecting stale
    * rows. */
  private def dropPartitionDirs(fs: org.apache.hadoop.fs.FileSystem,
                                rootPath: Path,
                                dirNames: Seq[String]): Unit =
    dirNames.foreach { part =>
      val tgt = new Path(rootPath, part)
      if (fs.exists(tgt)) {
        val trash = new Path(rootPath,
          s".trash-${java.util.UUID.randomUUID().toString}")
        if (!fs.rename(tgt, trash))
          throw new java.io.IOException(s"trash rename $tgt -> $trash failed")
        fs.delete(trash, true)
      }
    }

  /** Shared tail of every merge mode: write `merged` to a
    * `.staging-<uuid>` directory, swap each produced partition in
    * ([[graft.runtime.Compaction.swapPartition]]), then drop the
    * `dropIfEmpty` partitions that received NO staged rows (empty
    * rewrite = the partition's last rows vanished). Swap names come from LISTING the staging output —
    * deriving them from values would have to reproduce Spark's
    * partition-path encoding exactly (escaped chars, timestamp
    * formatting, null → __HIVE_DEFAULT_PARTITION__); only the delete
    * side, which has nothing to list, uses [[partitionDirName]]. */
  private def writeAndSwap(t: Target, merged: DataFrame,
                           partitionCol: String,
                           dropIfEmpty: Seq[String]): Unit = {
    val (fs, rootPath) = (t.fs, t.root)
    val uuid = java.util.UUID.randomUUID().toString
    val stagingDir = new Path(rootPath, s".staging-$uuid")
    merged.write.partitionBy(partitionCol).mode("overwrite")
      .parquet(stagingDir.toString)
    try {
      val written = fs.listStatus(stagingDir)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"$partitionCol="))
        .map(_.getPath.getName)
      // A logged write: its entry (live partitions about to be replaced
      // or dropped vs the staged output) commits BEFORE the first
      // rename, so every crash window below leaves it durable.
      t.log.foreach(graft.runtime.ChangeLog.commitPending(_, fs, rootPath,
        stagingDir, merged.schema, partitionCol, written.toSeq,
        (written ++ dropIfEmpty).distinct.toSeq))
      written.foreach { part =>
        beforeSwap.get()(part)
        graft.runtime.Compaction.swapPartition(fs, rootPath, part,
          new Path(stagingDir, part), uuid)
      }
      dropPartitionDirs(fs, rootPath,
        dropIfEmpty.filterNot(written.toSet))
      // Writer-maintained file skipping: a table pinned by
      // [[graft.runtime.DataSkipping.enablePartitioned]] gets the
      // rewritten leaves' zone maps reconciled HERE, in the writer —
      // the sidecar can never go stale under this path. Unpinned
      // tables (the common case — logs, views, stores) pay one
      // fs.exists. Ordering: after the swap, so a crash before this
      // line leaves covered != live, which the scan rejects LOUDLY —
      // the fail-loud-never-wrong contract, and the retry's
      // writeAndSwap re-runs maintenance. Dropped partitions need no
      // step (their sidecars died with the directory).
      graft.runtime.DataSkipping.maintain(merged.sparkSession,
        rootPath.toString, written.toIndexedSeq)
    } finally fs.delete(stagingDir, true)
  }

  /** Test seam: runs with each partition's name before its swap, on
    * the writing thread (the crash-window specs throw from it). */
  private[graft] val beforeSwap = new ThreadLocal[String => Unit] {
    override def initialValue(): String => Unit = _ => ()
  }

  /** The shared initial-write branch: a plain partitioned overwrite,
    * followed by the same writer-maintained skipping reconcile as
    * [[writeAndSwap]] (all leaves — an initial write after
    * [[graft.runtime.DataSkipping.enablePartitioned]] happens when a
    * table was emptied and re-seeded). A LOGGED first write goes
    * through [[writeAndSwap]] instead, so its entry (every row
    * `added`) commits before any partition lands. */
  private def initialWrite(spark: SparkSession, t: Target,
                           stage: DataFrame, partitionCol: String): Unit =
    if (t.log.isDefined) writeAndSwap(t, stage, partitionCol, Nil)
    else {
      stage.write.partitionBy(partitionCol).mode("overwrite")
        .parquet(t.root.toString)
      graft.runtime.DataSkipping.maintain(spark, t.root.toString, Seq.empty)
    }
}
