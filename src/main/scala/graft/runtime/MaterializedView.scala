package graft.runtime

import graft.ops.CdcView
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted view over a change-logged table whose aggregates no
  * signed fold can maintain ([[refreshByRecompute]]: min/max, exact
  * distinct counts), plus the per-view pieces every persisted consumer
  * of a log shares: the registry name ([[consumerName]]) and the
  * compliance invalidation marker ([[invalidate]]). Distributive
  * (count/sum) views, single-table ones included, are maintained from
  * signed deltas by [[StarJoinView]] — a single-table view is its
  * star with no dims.
  *
  * The recompute form rides a constant `_as_of` column through
  * [[MergeUpsert.replaceAll]]'s staged swap of one hive partition, so
  * data and position commit in one directory rename, and registers
  * that position in the log's [[Consumers]] registry after each
  * committed refresh, so [[ChangeLog.checkpoint]] cannot collapse
  * entries the view still owes a read.
  *
  * Compliance invalidation: [[invalidate]] (written by
  * [[Forget.forgetUser]] and [[Retention]] for every registered view
  * of a log they purge) drops a marker the view's next refresh
  * (either loop) honors by DISCARDING the view state and re-seeding
  * from the (already purged) base — without it the view would keep
  * serving aggregates computed from row images that no longer exist.
  * The marker is an underscore-prefixed file, invisible to every
  * Spark read of the view.
  *
  * Lifecycle edges, all loud or convergent:
  *  - a refresh with no new entries is a no-op (the stored position
  *    does not advance — advancing would cost a write for nothing);
  *  - a log COLLAPSED past the stored position fails loud inside
  *    `readSince` (re-seed the view) — unreachable while the view is
  *    registered, the point of [[Consumers]];
  *  - a view whose every group vanished deletes its partition; the
  *    next refresh finds no state and re-seeds from the base —
  *    correct, at recompute cost;
  *  - single-writer per view, and refreshes must not race the
  *    table's own maintenance (the same discipline as every
  *    maintenance op here).
  */
object MaterializedView {

  private val AsOfCol = "_as_of"

  /** The single hive partition the swap-atomicity rides on. NOT
    * underscore-prefixed: Spark's file index silently ignores `_*`
    * and `.*` paths, so an `_pt=all` partition directory would be
    * invisible to every read — the view would look permanently empty
    * and each refresh would quietly re-seed at full-recompute cost. */
  private val PartCol = "gv_pt"

  /** Invalidation marker ([[invalidate]]): an underscore-prefixed
    * FILE at the view root — ignored by Spark reads (serving is
    * unaffected until the re-seed), honored by the next refresh. */
  private val InvalidMarker = "_GRAFT_VIEW_INVALID"

  /** Stable registry name for the view at `viewDir` — basename for
    * readability plus an 8-hex md5 of the canonical path, so two
    * views sharing a basename never collide (the [[graft.sim.AnnIndex]]
    * keying rule). */
  def consumerName(viewDir: String): String = {
    val f = new java.io.File(viewDir)
    val canonical = try f.getCanonicalPath catch {
      case _: java.io.IOException => f.getAbsolutePath
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"mview-${f.getName}-$md5"
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Mark the view's state INVALID: its next refresh discards the
    * state and re-seeds from the base instead of applying deltas.
    * The compliance hook — a purge of the log (or of the base outside
    * the log's sight) breaks the "state == seed + applied spans"
    * invariant, and this converts the resulting silent staleness into
    * a scheduled re-seed. Serving reads are unaffected until then
    * (the marker is invisible to Spark); callers that must not serve
    * the stale window re-seed inline by calling refresh right after. */
  def invalidate(spark: SparkSession, viewDir: String): Unit =
    // No state — nothing to invalidate.
    if (fsOf(spark, viewDir).exists(new Path(viewDir)))
      Incremental.touch(spark, new Path(viewDir, InvalidMarker))

  /** True while [[invalidate]]'s marker is pending. */
  def isInvalid(spark: SparkSession, viewDir: String): Boolean =
    fsOf(spark, viewDir).exists(new Path(viewDir, InvalidMarker))

  /** Honor a pending invalidation: drop the view state so the
    * caller's refresh takes the seed path. Deleting the state deletes
    * the marker with it — one delete, nothing to tear. */
  private def clearIfInvalid(spark: SparkSession, viewDir: String): Unit =
    if (isInvalid(spark, viewDir))
      fsOf(spark, viewDir).delete(new Path(viewDir), true)

  /** The log position the persisted view is current AS OF, if the
    * view holds state. ([[ChangeLog.checkpoint]] no longer needs this
    * passed by hand — refresh registers it in [[Consumers]].) */
  def asOf(spark: SparkSession, viewDir: String): Option[Long] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && MergeUpsert.sweepAndHasData(fs, p))
      Some(spark.read.parquet(viewDir)
        .agg(max(col(AsOfCol))).head().getLong(0))
    else None
  }

  /** The NON-distributive form: a persisted view whose aggregates no
    * signed fold can maintain (min/max, exact percentiles, top-k —
    * a removed row may have BEEN the extreme), refreshed by
    * TOUCHED-GROUP RECOMPUTE: the log span names the groups whose
    * contents changed ([[CdcView.touchedGroups]], log-scale), those
    * groups — and ONLY those — are re-aggregated from the CURRENT
    * base, and the view swaps to (untouched view rows) ∪ (recomputed
    * touched rows). Everything the span did not touch is provably
    * unchanged and never re-read. This is the classic recompute-on-
    * change answer for non-self-maintainable aggregates, and it is
    * exactly the path [[CdcView.requireExactMeasures]]'s error message
    * sends min/max callers to.
    *
    * `aggregate` maps the PROJECTED frame (dims + value columns, the
    * row-local `project` output) to one row per dims group, dims
    * columns included — any aggregate is legal here because the
    * refresh recomputes rather than folds.
    *
    * The 100 TB bill is O(log + touched groups' base rows) — but the
    * base read prunes only if the engine can PUSH the touched-group
    * restriction into the scan. `pruneDim` names a view dim that
    * `project` passes through unrenamed from a base PARTITION (or
    * zone-mapped cluster) column: its touched values (metadata-scale,
    * ≤ touched groups) become an `isin` partition filter on the base
    * read, and the residual semi-join on the full dims tuple keeps
    * exactness when `pruneDim` is coarser than the dims. Without
    * `pruneDim` the recompute is a full scan filtered by the
    * semi-join — correct, and honest about costing a scan.
    *
    * Unlike the signed-fold loop ([[StarJoinView]]), this refresh is
    * IDEMPOTENT (the recompute converges from the current base), so
    * the atomic `_as_of` commit is needed only to avoid wasted work,
    * not for correctness — a crash anywhere retries to the same
    * answer. */
  def refreshByRecompute(spark: SparkSession, tableDir: String,
                         viewDir: String, keys: Seq[String],
                         project: DataFrame => DataFrame,
                         dims: Seq[String],
                         aggregate: DataFrame => DataFrame,
                         pruneDim: Option[String] = None): Long = {
    pruneDim.foreach(p => require(dims.contains(p),
      s"pruneDim '$p' must be one of the view dims " +
        dims.mkString("[", ", ", "]")))
    clearIfInvalid(spark, viewDir)
    val logHw = Incremental
      .highWatermark(spark, ChangeLog.logDir(tableDir)).getOrElse(-1L)
    def persist(v: DataFrame): Unit =
      MergeUpsert.replaceAll(spark, viewDir,
        v.withColumn(AsOfCol, lit(logHw))
          .withColumn(PartCol, lit("all")), partitionCol = PartCol)
    def registered(pos: Long): Long = {
      Consumers.register(spark, tableDir, consumerName(viewDir), pos,
        viewDir = Some(viewDir))
      pos
    }
    def base = spark.read.option("mergeSchema", "true").parquet(tableDir)
    asOf(spark, viewDir) match {
      case None =>
        persist(aggregate(project(base)))
        registered(logHw)
      case Some(pos) if pos >= logHw => registered(pos)
      case Some(pos) =>
        val span = ChangeLog.readSince(spark, tableDir, Some(pos))
          .getOrElse(return registered(pos))
        val touched = CdcView.touchedGroups(
          ChangeLog.netDiff(span, keys), keys, project, dims)
          .localCheckpoint() // tiny; reused by prune, semi and anti
        val scoped = pruneDim match {
          case Some(p) =>
            require(base.columns.contains(p),
              s"pruneDim '$p' is not a base column — pruning needs " +
                "project to pass it through unrenamed; omit pruneDim " +
                "to recompute via the (unpruned) semi-join instead")
            val vals = touched.select(col(p)).distinct()
              .collect().map(_.get(0)).toIndexedSeq
            val nonNull = vals.filter(_ != null)
            val keep = // isin never matches NULL — a null group is real
              (if (nonNull.nonEmpty) col(p).isin(nonNull: _*)
               else lit(false)) ||
                (if (vals.length > nonNull.length) col(p).isNull
                 else lit(false))
            base.filter(keep)
          case None => base
        }
        val projected = project(scoped)
        val recomputed = aggregate(projected.join(touched,
          dims.map(d => projected(d) <=> touched(d)).reduce(_ && _),
          "left_semi"))
        val view = spark.read.parquet(viewDir).drop(AsOfCol).drop(PartCol)
        val kept = view.join(touched,
          dims.map(d => view(d) <=> touched(d)).reduce(_ && _),
          "left_anti")
        persist(kept.unionByName(recomputed))
        registered(logHw)
    }
  }
}
