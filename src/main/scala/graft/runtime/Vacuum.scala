package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-wide crash-leftover sweep. Every rename-swap writer here
  * heals its own table's leftovers before its next write
  * ([[graft.silver.MergeUpsert.sweepAndHasData]] runs
  * [[Compaction.recoverySweep]] first) — the correctness story never
  * depends on this object. What the per-writer sweep cannot cover is
  * a table NOBODY writes again: a crashed writer's `.backup-*` /
  * `.staging-*` / `.compact-*` / `.trash-*` entries (and a change
  * log's uncommitted `.pending-*` entry) linger, invisible
  * to reads (dot-prefixed) but holding disk — and a between-renames
  * backup holds the ONLY copy of a partition that reads as MISSING
  * until something restores it. At warehouse scale "every table gets
  * written again soon" is not a property to lean on (cold gold
  * tables, decommissioned views, archives).
  *
  * [[sweep]] runs the writers' own per-table recovery over every
  * table directory under a warehouse root — restore-or-drop semantics
  * identical to the writers' (it IS [[Compaction.recoverySweep]]) —
  * plus the one crash shape that lives BESIDE a table instead of
  * inside it: the flat [[DataSkipping.recluster]] protocol's
  * `<table>.recluster-backup` / `<table>.recluster-<uuid>` siblings
  * (live-absent + backup-present restores; a backup beside a live
  * table, or any staging, drops).
  *
  * Single-writer discipline applies per table, as everywhere in this
  * runtime: do not run the vacuum concurrently with a writer on the
  * same table. The sweep is idempotent — a second pass reports zero
  * actions. */
object Vacuum {

  private val RecluBackup = ".recluster-backup"
  private val RecluInfix = ".recluster-"

  /** One healed surface: the directory acted on, what happened, and
    * how many rename/delete actions it took. */
  final case class Action(dir: String, kind: String, actions: Int)

  def sweep(spark: SparkSession, warehouseRoot: String): Seq[Action] = {
    val root = new Path(warehouseRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Action]

    // Phase 1 — recluster siblings (they live BESIDE tables, so the
    // per-table sweep below never sees them). Backups first: a
    // live-absent backup is the between-renames crash and must
    // RESTORE; beside a live table it is the post-swap crash and
    // drops. Stagings are always orphans (the protocol deletes its
    // staging by renaming it to live — an existing staging means the
    // swap never happened or never will).
    val names0 = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    names0.filter(_.endsWith(RecluBackup)).foreach { n =>
      val live = n.stripSuffix(RecluBackup)
      val backupPath = new Path(root, n)
      if (!names0.contains(live)) {
        if (!fs.rename(backupPath, new Path(root, live)))
          throw new java.io.IOException(
            s"vacuum restore $backupPath -> $live failed")
        out += Action(s"$warehouseRoot/$live", "recluster-restore", 1)
      } else {
        fs.delete(backupPath, true)
        out += Action(s"$warehouseRoot/$n", "recluster-backup-drop", 1)
      }
    }
    names0.filter(n => n.contains(RecluInfix) && !n.endsWith(RecluBackup))
      .foreach { n =>
        fs.delete(new Path(root, n), true)
        out += Action(s"$warehouseRoot/$n", "recluster-staging-drop", 1)
      }

    // Phase 2 — the writers' own sweep over every (possibly just
    // restored) table directory: partition-level backups restore or
    // drop, staging/compact/trash orphans drop.
    fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith(".") && !n.startsWith("_")
      }
      .foreach { p =>
        val a = Compaction.recoverySweep(fs, p)
        if (a > 0) out += Action(p.toString, "table-sweep", a)
      }
    out.toSeq
  }

  /** Registered health face: the sweep driven over a mini warehouse
    * with one PLANTED leftover of each crash class — (1) a partition
    * renamed out to its `.backup-*` with the live partition absent
    * (the between-renames crash: must RESTORE, and the restored rows
    * are the proof), (2) an orphan `.staging-*`, (3) a
    * recluster-backup beside a LIVE table (post-swap crash: drops),
    * (4) a recluster staging orphan. Each rep re-plants, sweeps, and
    * asserts idempotence by running a SECOND sweep whose action count
    * must be zero. The DuckDB oracle recomputes the restored
    * partition's row count from source — a hash match proves the
    * restore brought back exactly the rows the crash had in flight,
    * not a plausible-looking directory. Honesty note: ONLY
    * `restored_rows` is source-recomputed; the four action-count
    * columns are deterministic contract pins (the fixture plants
    * exactly these four crash shapes), asserted — not re-derived —
    * by the oracle. */
  def sweepHealthFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.sim.AnnIndex.dir(s, dir, "vacuum_health")
    val table = s"$root/orders_cold"
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sim.AnnIndex.ensure(root) {
      if (fs.exists(rootP)) fs.delete(rootP, true)
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") <
          expr("timestamp'1997-07-01 00:00:00'"))
      graft.silver.MergeUpsert.replaceAll(s, table, orders,
        partitionCol = "o_orderpriority")
    }
    // Plant (deterministic and idempotent per rep: each call re-creates
    // the same four shapes from the healed state and must converge to
    // the same report).
    val t = new Path(table)
    val uuid = "00000000-0000-4000-8000-000000000000"
    val part = "o_orderpriority=1-URGENT"
    val live = new Path(t, part)
    val backup = new Path(t, s".backup-$uuid--$part")
    if (fs.exists(live) && !fs.exists(backup)) fs.rename(live, backup)
    fs.mkdirs(new Path(t, s".staging-$uuid"))
    fs.mkdirs(new Path(root, "orders_cold" + RecluBackup))
    fs.mkdirs(new Path(root, s"orders_cold$RecluInfix$uuid"))
    val actions = sweep(s, root)
    val secondPass = sweep(s, root).map(_.actions).sum
    val byKind = actions.groupBy(_.kind)
      .map { case (k, as) => k -> as.map(_.actions).sum.toLong }
    val restoredRows = s.read.parquet(table)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    Seq((restoredRows,
      byKind.getOrElse("table-sweep", 0L),
      byKind.getOrElse("recluster-backup-drop", 0L),
      byKind.getOrElse("recluster-staging-drop", 0L),
      secondPass.toLong))
      .toDF("restored_rows", "table_sweep_actions",
        "recluster_backup_drops", "recluster_staging_drops",
        "second_pass_actions")
  }
}
