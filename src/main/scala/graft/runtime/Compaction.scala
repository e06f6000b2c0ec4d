package graft.runtime

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction for a partitioned parquet table — the
  * maintenance job every streaming ingest needs: micro-batches land
  * many small files per partition (SilverLoop's shape), and scan
  * throughput at 100 TB dies by footer count, not bytes.
  *
  * Planning is METADATA-scale: one driver listing per partition
  * directory (the Iceberg-manifest-planning analogue, same discipline
  * as MergeUpsert's affected-value collect). A partition is rewritten
  * only when its file count exceeds what its byte size justifies at
  * [[TargetBytes]] per file — so the operation is IDEMPOTENT: a second
  * run finds every partition already at its target layout and
  * rewrites nothing.
  *
  * Each rewrite reads ONE partition directory, coalesces to the
  * justified file count (coalesce, not repartition — no shuffle, this
  * is a pure file-merge), writes to a `.compact-<uuid>` staging
  * directory next to the target, and swaps it in with
  * [[swapPartition]] (target→backup, staging→target, drop backup),
  * the rename triple MergeUpsert runs too. Partition
  * VALUES never change — the hive directory names are preserved
  * verbatim, so readers' partition pruning is unaffected.
  *
  * Crash-safety is the MergeUpsert single-writer-recovery contract,
  * stated honestly: each rename is atomic, but a crash BETWEEN the two
  * renames leaves the partition absent from the table with its
  * complete old data parked in `.backup-<uuid>--<partition>` (the
  * backup name ENCODES the partition directory it came from, which is
  * what makes recovery possible). Every [[compact]] call therefore
  * opens with a recovery sweep — before any planning — that repairs
  * whatever a previous writer left behind:
  *
  *  - `.backup-*--P` with partition `P` missing (death between the
  *    renames): the backup is renamed back to `P`, restoring the old
  *    complete partition;
  *  - `.backup-*--P` with `P` present (death after the swap, before
  *    the backup delete): the new data is already live — the stale
  *    backup is dropped;
  *  - any remaining `.compact-*` staging (death mid-write or between
  *    the renames): dropped; the rewrite it staged is simply re-planned
  *    by this run if still justified.
  *
  * So under the single-writer assumption (one maintenance job per
  * table — the same assumption MergeUpsert documents) every crash
  * window heals on the next run, no orphan directory survives, and
  * readers between crash and recovery see either the old or the new
  * complete partition — except the between-renames window, where the
  * partition is temporarily absent until the sweep restores it.
  *
  * Returns a report frame (partition, files_before, files_after,
  * bytes) with one row per REWRITTEN partition; empty means the table
  * was already compact. */
object Compaction {

  /** Separator between the writer uuid and the PARTITION DIRECTORY
    * NAME inside a backup directory's own name — shared by every
    * rename-swap writer (this planner and [[graft.silver.MergeUpsert]])
    * so ONE recovery sweep understands every writer's leftovers. */
  private[graft] val BackupSep = "--"

  /** Recover the partition directory name a backup encodes. Understands
    * BOTH naming generations: the current `.backup-<uuid>--<partition>`
    * (uuid and partition separated by [[BackupSep]]) and the pre-round-10
    * single-dash `.backup-<uuid>-<partition>` (the uuid is exactly 36
    * chars, so the partition starts at a FIXED offset — the only way to
    * parse it, since hive partition names like `datetime=2024-01-01`
    * contain dashes themselves). An unparseable `.backup-*` name FAILS
    * LOUD: silently skipping it would let the sweep report a table
    * healed while a crashed partition stays missing forever. */
  private[graft] def partitionOfBackup(name: String): String = {
    val Pfx = ".backup-".length
    val UuidLen = 36
    def uuidShaped = name.length > Pfx + UuidLen &&
      name.substring(Pfx, Pfx + UuidLen)
        .matches("[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}")
    // The uuid-anchored parses come FIRST: hive partition names may
    // legitimately contain both '-' and '--' (escapePathName escapes
    // neither), so searching for the separator would misparse e.g. the
    // legacy `.backup-<uuid>-p=a--b` (indexOf("--") lands inside the
    // partition and the sweep would restore the backup to a junk dir
    // named 'b'). Only when the writer tag is not a uuid (older test
    // fixtures, foreign writers) does the indexOf fallback apply.
    if (uuidShaped && name.length > Pfx + UuidLen + BackupSep.length &&
        name.substring(Pfx + UuidLen, Pfx + UuidLen + BackupSep.length) ==
          BackupSep)
      name.substring(Pfx + UuidLen + BackupSep.length)
    else if (uuidShaped && name.length > Pfx + UuidLen + 1 &&
        name.charAt(Pfx + UuidLen) == '-')
      name.substring(Pfx + UuidLen + 1) // legacy single-dash generation
    else {
      val sep = name.indexOf(BackupSep)
      if (!uuidShaped && sep > 0 && name.length > sep + BackupSep.length)
        name.substring(sep + BackupSep.length)
      else throw new java.io.IOException(
        s"unparseable backup directory name '$name': cannot determine " +
          "which partition it belongs to — refusing to silently skip it")
    }
  }

  /** Heal the crash windows of a previous rename-swap writer (scaladoc
    * above) — shared by [[compact]] and
    * [[graft.silver.MergeUpsert.upsert]]. Backups first — a
    * between-renames backup must be restored before its staging twin
    * is discarded — then drop every leftover `.compact-*` /
    * `.staging-*` / `.trash-*` working directory and every uncommitted
    * `.pending-*` change-log entry. Returns the number
    * of directories repaired or removed. */
  private[graft] def recoverySweep(fs: FileSystem, root: Path): Int = {
    var actions = 0
    val entries = fs.listStatus(root).filter(_.isDirectory)
    entries.filter(_.getPath.getName.startsWith(".backup-")).foreach { b =>
      val name = b.getPath.getName
      val part = new Path(root, partitionOfBackup(name))
      if (!fs.exists(part)) {
        if (!fs.rename(b.getPath, part))
          throw new java.io.IOException(
            s"recovery rename ${b.getPath} -> $part failed")
      } else fs.delete(b.getPath, true)
      actions += 1
    }
    entries.filter { s =>
      val n = s.getPath.getName
      // .trash-*: a partition DELETE that crashed between its two steps
      // (rename-out, then delete) — unlike a backup, trash means the
      // data is dead, so recovery completes the delete rather than
      // restoring it (MergeUpsert.dropPartitionDirs).
      n.startsWith(".compact-") || n.startsWith(".staging-") ||
        n.startsWith(".trash-") ||
        // A change-log root's pending entry (ChangeLog.recordBatch):
        // an uncommitted one is a crash before any partition swapped,
        // so it is dead; a COMMITTED one is the only record of a
        // crashed batch's changes and stays for its retry.
        (n.startsWith(ChangeLog.PendingPrefix) && !fs.exists(
          new Path(s.getPath, ChangeLog.PendingCommitMarker)))
    }.foreach { st => fs.delete(st.getPath, true); actions += 1 }
    actions
  }

  /** Swap the staged directory `staged` in as partition `part` of
    * `root`: live → `.backup-<uuid>--<part>`, staged → live, drop the
    * backup — the rename triple every rename-swap writer runs, named so
    * [[recoverySweep]] can heal a crash between any two steps. A
    * partition that is not live yet takes the staged one by a single
    * rename. */
  private[graft] def swapPartition(fs: FileSystem, root: Path,
                                   part: String, staged: Path,
                                   uuid: String): Unit = {
    def renameOrFail(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    val live = new Path(root, part)
    val backup = new Path(root, s".backup-$uuid$BackupSep$part")
    val replacing = fs.exists(live)
    if (replacing) renameOrFail(live, backup)
    renameOrFail(staged, live)
    if (replacing) fs.delete(backup, true)
  }

  /** The file size a compacted partition is planned at. */
  val TargetBytes: Long = 128L * 1024 * 1024

  def compact(spark: SparkSession, targetDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val report = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)]
    if (fs.exists(root)) {
      recoverySweep(fs, root)
      val parts = fs.listStatus(root)
        .filter(_.isDirectory)
        .filter(p => !p.getPath.getName.startsWith(".") &&
          !p.getPath.getName.startsWith("_"))
      parts.foreach { p =>
        val files = fs.listStatus(p.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L,
          (bytes + TargetBytes - 1) / TargetBytes).toInt
        if (files.length > want) {
          val uuid = java.util.UUID.randomUUID().toString
          val staging = new Path(root, s".compact-$uuid")
          spark.read.parquet(p.getPath.toString)
            .coalesce(want)
            .write.mode("overwrite").parquet(staging.toString)
          // The staging dir holds plain data files (no partition
          // subdir — we wrote one partition's rows without its
          // partition column, which lives in the DIRECTORY name).
          // Its _SUCCESS marker lands inside the partition dir; it is
          // filtered by readers and by this planner's next listing.
          swapPartition(fs, root, p.getPath.getName, staging, uuid)
          report += ((p.getPath.getName, files.length.toLong,
            want.toLong, bytes))
        }
      }
      // Writer-maintained file skipping (the MergeUpsert.writeAndSwap
      // discipline): a compacted leaf's files all changed, so a pinned
      // table's zone maps reconcile HERE — one fs.exists for the
      // common unpinned case, O(rewritten leaves) when pinned. After
      // the swaps, so a crash above leaves a LOUD stale map, never a
      // wrong scan.
      DataSkipping.maintain(spark, targetDir,
        report.map(_._1).toIndexedSeq)
    }
    report.toSeq
      .toDF("partition", "files_before", "files_after", "bytes")
  }
}
