package graft.runtime

import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained DISTINCT-count gold via mergeable HLL
  * sketch state — the missing piece of [[IncrementalGold]]'s
  * delta-scaled daily bill. Sums and counts maintain incrementally by
  * arithmetic; an EXACT distinct count cannot (absorbing a delta needs
  * the full key set), so at 100 TB the rolling-window distinct (WAU /
  * MAU over a 30-day window) is the one metric that still forces a
  * full window rescan every day. The sketch gold closes it: store one
  * DataSketches HLL sketch per day (a fixed ≤16 KB binary,
  * `hll_sketch_agg`), and any rolling distinct becomes
  * `hll_sketch_estimate(hll_union_agg(...))` over the WINDOW'S SKETCH
  * ROWS — 30 rows of kilobytes read per day instead of 30 days of
  * events, independent of history depth or traffic.
  *
  * Why this is safe to maintain additively where exact counts are not:
  * HLL register state is the bucket-wise MAX over hashed inputs, i.e.
  * pure SET semantics — unioning the same delta twice is a no-op, so a
  * redelivered batch cannot inflate the count (no dedup pass needed,
  * where an additive exact counter would double-count). The estimate
  * is a deterministic function of register state, and register state
  * depends only on the set of inputs — never on partitioning, merge
  * order, or batch boundaries — so incremental == batch holds exactly
  * (SketchGoldSpec proves it cell-for-cell, including a redelivery and
  * a shuffled merge tree). The one thing union cannot express is
  * DELETION (registers only grow); a delta that can shrink a day —
  * the late re-stamped event of IncrementalSilverSpec — must take the
  * recompute path ([[recomputeDelta]]), which rebuilds the affected
  * days' sketches from their silver slice, the
  * [[IncrementalGold.DateGold]] discipline (b = f = 0: a day's
  * sketch reads that day only).
  *
  * lgK = 14 ⇒ relative standard error ≈ 1.04/√2¹⁴ ≈ 0.8%; the
  * registered query's 5% contract is >6σ.
  *
  * Union strictness and output lgK: `hll_union_agg(_, false)` rejects
  * mixed-lgK inputs, and every sketch this table stores is built at
  * LgK. The DataSketches union may still emit an OUTPUT sketch at a
  * lower lgK while all inputs sit in the coupon (sparse) regime — the
  * estimate stays exact there and converges to lgK-precision once any
  * input promotes to dense (SketchGoldSpec pins both regimes), so the
  * 5% contract is unaffected. A future LgK bump must revisit that
  * spec's past-coupon-regime case: the contract's error bound comes
  * from the PROMOTED lgK, not the configured one. */
object SketchGold {

  /** DataSketches lgConfigK: 2^14 registers, ≤16 KB per sketch. */
  val LgK = 14

  /** Per-day sketch rows from a (day, user_id) frame: one row per day,
    * fixed-width aggregation state (map-side partials carry the ~16 KB
    * buffer through the shuffle regardless of cardinality — the
    * [[graft.ops.EventOps.approxDistinctUsers]] scale argument, here
    * persisted as STATE rather than collapsed to a number). */
  def dailySketch(dayUsers: DataFrame): DataFrame =
    dayUsers
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(LgK)).as("user_sketch"))
      .withColumn("dau_est", hll_sketch_estimate(col("user_sketch")))

  /** The gold chain's day key: the pipeline stores its sketch table
    * under the `datetime` partition convention every gold shares,
    * while a standalone [[unionDelta]]/[[recomputeDelta]] table keeps
    * [[dailySketch]]'s `day`. */
  private val ChainDayCol = "datetime"

  /** [[dailySketch]] on the silver session grain, in the gold chain's
    * table form: one sketch row per `datetime` partition. */
  def silverDailySketch(silver: DataFrame): DataFrame =
    dailySketch(silver
        .select(col(ChainDayCol).as("day"), col("user_id")).distinct())
      .withColumnRenamed("day", ChainDayCol)

  /** A stored sketch table with its day key as `day`, whichever of the
    * two stored forms it is — the one place a reader resolves it. */
  private def readStored(spark: SparkSession, goldDir: String): DataFrame = {
    val stored = spark.read.parquet(goldDir)
    if (stored.columns.contains(ChainDayCol))
      stored.withColumnRenamed(ChainDayCol, "day")
    else stored
  }

  /** O(delta) additive maintenance: union the delta's per-day sketches
    * into the stored rows. Reads NOTHING but the affected days' stored
    * sketch rows (metadata-scale) + the delta itself; exact under
    * append-only ingest and redelivery (set semantics absorbs
    * duplicates). NOT for deltas that can delete — use
    * [[recomputeDelta]] there. Lands through [[MergeUpsert]], so the
    * write is idempotent and crash-safe like every other gold.
    *
    * The stored-side read runs AFTER [[MergeUpsert.sweepAndHasData]]'s
    * recovery sweep (same fs handle the upsert will reuse): a prior
    * writer that crashed between renames leaves a day's rows in a
    * `.backup-*` dir, and a pre-sweep read would miss them — the
    * subsequent upsert would then swap the sweep-restored partition for
    * a delta-only sketch, a silent permanent undercount. The sweep also
    * settles the emptied-table case (a lone `_SUCCESS` marker must take
    * the initial-write branch, not fail parquet schema inference). */
  def unionDelta(spark: SparkSession, goldDir: String,
                 deltaDayUsers: DataFrame): Unit = {
    val delta = dailySketch(deltaDayUsers)
    val goldPath = new Path(goldDir)
    val fs = goldPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!MergeUpsert.sweepAndHasData(fs, goldPath)) delta
      else {
        val stored = spark.read.parquet(goldDir)
          .join(delta.select("day"), Seq("day"), "left_semi")
          .select(col("day"), col("user_sketch"))
        stored.unionByName(delta.select("day", "user_sketch"))
          .groupBy(col("day"))
          .agg(hll_union_agg(col("user_sketch"), lit(false))
            .as("user_sketch"))
          .withColumn("dau_est", hll_sketch_estimate(col("user_sketch")))
      }
    MergeUpsert.upsert(spark, goldDir, merged, Seq("day"),
      partitionCol = "day")
  }

  /** Deletion-capable maintenance: REBUILD the affected days' sketches
    * from the (already re-derived) silver day-slice and converge the
    * stored rows to them — days absent from the rebuild are dropped.
    * `affectedDayUsers` must carry every (day, user_id) of the affected
    * days, not just the delta's rows. */
  def recomputeDelta(spark: SparkSession, goldDir: String,
                     affectedDayUsers: DataFrame,
                     affectedDays: DataFrame): Unit =
    MergeUpsert.upsertScoped(spark, goldDir,
      dailySketch(affectedDayUsers), Seq("day"),
      affectedDays.select(col("day")).distinct(),
      partitionCol = "day")

  /** Rolling trailing-window distinct from STORED sketches only: each
    * day's sketch feeds the `windowDays` windows ending at
    * day..day+windowDays−1 (the forward-explode of
    * [[graft.ops.EventOps.dauWau]], here over one metadata-scale row
    * per day), then one union per window. `n_days` counts the sketch
    * rows present in each window so a consumer can tell a partial
    * leading window from a full one. Reads either stored form (the
    * gold chain's `gold_user_sketch` or a [[unionDelta]] table); the
    * output key is `day` for both. */
  def rollingDistinct(spark: SparkSession, goldDir: String,
                      windowDays: Int): DataFrame =
    readStored(spark, goldDir)
      .select(col("day"), col("user_sketch"),
        explode_outer(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .filter(col("off").isNotNull)
      .select(expr("date_add(day, off)").as("day"), col("user_sketch"))
      .groupBy(col("day"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("user_sketch"), lit(false)))
          .as("distinct_est"),
        count(lit(1)).as("n_days"))
}
