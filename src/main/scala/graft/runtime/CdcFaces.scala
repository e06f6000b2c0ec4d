package graft.runtime

import graft.ops.{CdcStarView, CdcView, Scd2}
import graft.silver.MergeUpsert
import graft.sim.AnnIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The oracle-checked query faces of the change-data-capture layer
  * ([[ChangeLog]], [[StarJoinView]], [[MaterializedView]],
  * [[Scd2Store]]): each face builds a deterministic maintenance
  * history ONCE per JVM (the [[AnnIndex.ensure]] convention — bench
  * rep 1 pays the history, later reps measure the serve), then answers
  * one summary the DuckDB oracle recomputes independently from the
  * source tables. Every state is a deterministic SQL-expressible
  * transform of the source parquet, and each state re-reads the source
  * (fresh attribute ids): sharing one frame across states trips the
  * ambiguous self-join check at analysis, and localCheckpoint does not
  * help — it truncates lineage but keeps the ids.
  *
  * Two fixture families:
  *  - the cdc_orders history ([[ordersHistory]]) and the silver chain
  *    ([[silverChain]]), read by plain per-face functions;
  *  - four persisted-view chains (join, left join, star, left star),
  *    each a [[Chain]] row run by the one [[ensureChain]] loop, each
  *    serving two [[Twin]] views (single-slot and partitioned) — the
  *    Structured Streaming model: a view declared once as data, one
  *    engine loop ([[StarJoinView]]) keeping it current.
  *
  * [[queries]] is the one export; `graft.SparkEntry.queries` takes it
  * whole. */
object CdcFaces {
  import ChangeLog._

  private type Face = (SparkSession, String) => DataFrame
  private val OKey = Seq("o_orderkey")

  private def ts(d: String): Column = expr(s"timestamp'$d 00:00:00'")

  /** The source orders dated before `d`, from a fresh read. */
  private def ordersBefore(s: SparkSession, dir: String,
                           d: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < ts(d))

  /** Integer revenue cents — every money measure here: float sums would
    * drift from the oracle's recompute by association order. */
  private val cents: Column =
    round(col("o_totalprice") * 100, 0).cast("long")

  /** The table's accumulated log; fails loudly when there is none. */
  private def logOf(s: SparkSession, table: String): DataFrame =
    readLog(s, table).getOrElse(
      sys.error(s"no change log under ${logDir(table)}"))

  /** Per-status summary of a net diff (full span and bounded window). */
  private def diffStatus(net: DataFrame): DataFrame =
    net.groupBy(col("diff_status")).agg(
      count(lit(1)).as("n_rows"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      sum(size(col("changed_cols"))).as("n_changed_cells"))

  /** Per-priority summary of an orders state (replayed and rewound). */
  private def priorityState(state: DataFrame): DataFrame =
    state.groupBy(col("o_orderpriority")).agg(
      count(lit(1)).as("n_rows"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      countDistinct(col("o_custkey")).as("n_cust"))

  /** Per-interval summary of SCD2 version rows (inline build, store and
    * archive split): grouping by (priority, valid_from, valid_to) lets
    * the oracle check every interval boundary. */
  private def scd2Intervals(versions: DataFrame): DataFrame =
    versions.groupBy(col("o_orderpriority"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_c"))
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(cents).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  // Siblings of the cdc_orders table, each owned by one face.
  private val PriorityView = "_priority_view"
  private val MinMaxView = "_priority_minmax"
  private val DistinctView = "_priority_distinct"
  private val Scd2Dir = "_scd2_store"
  /** Dedicated store for the history-compaction face — the SHARED
    * store ([[Scd2Dir]]) must stay unsplit: `cdc_scd2_store_orders`
    * serves its FULL history through [[Scd2Store.read]], which by
    * contract sees only live buckets. */
  private val Scd2ArchDir = "_scd2_archsplit"

  /** Build (once per JVM) the deterministic cdc_orders maintenance
    * history: state0 (orders before 1997-07) lands UNLOGGED as the
    * pre-history baseline, then batch 1 adds Q3, batch 2
    * re-prioritizes 1997 LOW orders (touching both baseline and Q3
    * rows), drops Jun/Sep NOT-SPECIFIED orders (a baseline `removed`
    * and an added-then-removed collapse), and re-prioritizes some 1996
    * LOW orders that batch 3 REVERTS (a changed-then-reverted
    * collapse), and batch 3 adds Q4. The persisted priority view, its
    * min/max and distinct twins and the SCD2 store are all seeded at
    * state0, before any batch publishes, so their registered refreshes
    * must cross the whole log. Returns the table path (log beside it). */
  private def ordersHistory(s: SparkSession, dir: String): String = {
    val table = AnnIndex.dir(s, dir, "cdc_orders")
    AnnIndex.ensure(table) {
      val fs = new Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      (Seq(table, logDir(table), Consumers.dir(table)) ++
        Seq("", "_pos", "_cfg").map(table + PriorityView + _) ++
        Seq(MinMaxView, DistinctView).map(table + _) ++
        Seq("", "_pos", "_buckets").map(table + Scd2Dir + _) ++
        Seq("", "_pos", "_buckets", "_archive", "_archived_through")
          .map(table + Scd2ArchDir + _))
        .foreach { d =>
          val p = new Path(d); if (fs.exists(p)) fs.delete(p, true)
        }
      def lowToMed(from: String, to: String)(df: DataFrame) =
        df.withColumn("o_orderpriority",
          when(col("o_orderdate") >= ts(from) &&
            col("o_orderdate") < ts(to) &&
            col("o_orderpriority") === "5-LOW", lit("3-MEDIUM"))
            .otherwise(col("o_orderpriority")))
      def dropNotSpec(from: String, to: String)(df: DataFrame) =
        df.filter(!(col("o_orderpriority") === "4-NOT SPECIFIED" &&
          col("o_orderdate") >= ts(from) && col("o_orderdate") < ts(to)))
      def churn(df: DataFrame) = df
        .transform(dropNotSpec("1997-06-01", "1997-07-01"))
        .transform(dropNotSpec("1997-09-01", "1997-10-01"))
        .transform(lowToMed("1997-01-01", "1997-10-01"))
      val state1 = ordersBefore(s, dir, "1997-10-01")
      val state2 = churn(ordersBefore(s, dir, "1997-10-01"))
        .transform(lowToMed("1996-01-01", "1996-04-01"))
      val state3 = churn(ordersBefore(s, dir, "1998-01-01"))
      MergeUpsert.replaceAll(s, table, ordersBefore(s, dir, "1997-07-01"),
        partitionCol = "o_orderpriority")
      refreshPriorityView(s, table)
      refreshMinMax(s, table)
      refreshDistinct(s, table)
      Scd2Store.refresh(s, table, table + Scd2Dir, OKey, basePosition = 0L)
      Seq(state1, state2, state3).zipWithIndex.foreach { case (st, i) =>
        recordBatch(s, table, OKey, i + 1L)(
          MergeUpsert.replaceAll(s, table, st,
            partitionCol = "o_orderpriority"))
      }
    }
    table
  }

  /** Row-local projection of the priority views: the dim plus cents. */
  private def priorityProject(df: DataFrame): DataFrame =
    df.select(col("o_orderpriority"), cents.as("cents"))

  /** Seed or refresh the persisted priority view — the K = 0
    * [[StarJoinView]] over the orders log. */
  private def refreshPriorityView(s: SparkSession, table: String): Unit =
    StarJoinView.refresh(s, table, Nil, table + PriorityView, OKey,
      Seq("o_orderpriority"), Seq("cents" -> cents))

  /** Seed or refresh the min/max twin. Its aggregate is non-distributive
    * — legal here because [[MaterializedView.refreshByRecompute]]
    * RECOMPUTES touched groups from the base instead of folding signed
    * deltas (a removed row may have been the extreme). */
  private def refreshMinMax(s: SparkSession, table: String): Unit =
    MaterializedView.refreshByRecompute(s, table, table + MinMaxView,
      OKey, priorityProject, Seq("o_orderpriority"),
      _.groupBy(col("o_orderpriority"))
        .agg(min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"), count(lit(1)).as("n_rows")),
      pruneDim = Some("o_orderpriority"))

  /** Seed or refresh the exact-distinct twin: the dims plus the
    * distinct-counted column, aggregated with countDistinct — not
    * maintainable by any signed fold (a removed row may have carried a
    * group's last occurrence of its value; recovering the count needs
    * the base), so it rides the same touched-group-recompute path as
    * min/max. The at-scale APPROXIMATE twin is the stored mergeable HLL
    * sketch ([[SketchGold]]) — pick exact recompute when the touched
    * groups are prunable, sketches when even that re-read is too hot. */
  private def refreshDistinct(s: SparkSession, table: String): Unit =
    MaterializedView.refreshByRecompute(s, table, table + DistinctView,
      OKey, _.select(col("o_orderpriority"), col("o_custkey")),
      Seq("o_orderpriority"),
      _.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_rows")),
      pruneDim = Some("o_orderpriority"))

  /** The shared SCD2 store, refreshed across the log; returns its dir. */
  private def refreshedStore(s: SparkSession, dir: String,
                             store: String): String = {
    val table = ordersHistory(s, dir)
    Scd2Store.refresh(s, table, table + store, OKey, basePosition = 0L)
    table + store
  }

  /** The as-of probe of the two SCD2 consumption faces: every order
    * key at every log position through [[Scd2.joinAsOf]], summarized
    * per (position, attached priority). */
  private def scd2AsOfProbe(s: SparkSession, dir: String,
                            dimFull: DataFrame): DataFrame = {
    val dim = dimFull.select(col("o_orderkey"), col("o_orderpriority"),
      col("valid_from"), col("valid_to"))
    val facts = ordersBefore(s, dir, "1998-01-01")
      .select(col("o_orderkey"))
      .withColumn("pos", explode(expr("array(0L, 1L, 2L, 3L)")))
    Scd2.joinAsOf(facts, dim, OKey, "pos")
      .groupBy(col("pos"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Seed or refresh the per-country silver view — the K = 0
    * [[StarJoinView]] over the silver session log; long measures only,
    * the enforced [[CdcView.requireExactMeasures]] contract. */
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
  private def silverChain(s: SparkSession, dir: String): String = {
    val root = AnnIndex.dir(s, dir, "cdc_silver")
    AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bronze = s"$root/bronze"
      val raw = s.read.parquet(s"$dir/events.parquet")
      val dts = raw.select(to_date(col("ts")).as("d")).distinct()
        .orderBy(col("d")).collect().map(_.getDate(0))
      val c1 = dts(dts.length / 3)
      val c2 = dts(2 * dts.length / 3)
      def update(wm: Option[Long]): Option[Long] =
        IncrementalSilver.updateDetailed(s, bronze,
          s"$root/silver_sessions", wm, changeLog = true).watermark
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

  /** The customer dim — `o_custkey`, `c_mktsegment`, and `c_nationkey`
    * when `nation` — without the `%13 == 2` keys unless `appear`, with
    * the `%10 == 3` segments FLIPPED when `flip`, and without the
    * `%17 == 5` rows when `drop`. */
  private def custDim(s: SparkSession, dir: String, nation: Boolean,
                      appear: Boolean = true, flip: Boolean = false,
                      drop: Boolean = false): DataFrame = {
    val base = s.read.parquet(s"$dir/customer.parquet").select(
      Seq(col("c_custkey").as("o_custkey"), col("c_mktsegment")) ++
        (if (nation) Seq(col("c_nationkey")) else Nil): _*)
    val present =
      if (appear) base else base.filter(!(col("o_custkey") % 13 === 2))
    val flipped =
      if (!flip) present
      else present.withColumn("c_mktsegment",
        when(col("o_custkey") % 10 === 3, lit("FLIPPED"))
          .otherwise(col("c_mktsegment")))
    if (drop) flipped.filter(!(col("o_custkey") % 17 === 5)) else flipped
  }

  /** The priority-class dim, derived from the fact's own distinct
    * priorities: URGENT/HIGH are `fast` (and MEDIUM too when
    * `reclass`), the rest `slow`; NOT SPECIFIED is dropped when
    * `drop`. */
  private def prioDim(s: SparkSession, dir: String, reclass: Boolean,
                      drop: Boolean): DataFrame = {
    val classed = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderpriority")).distinct()
      .withColumn("prio_class",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH") ||
          (lit(reclass) && col("o_orderpriority") === "3-MEDIUM"),
          lit("fast")).otherwise(lit("slow")))
    if (drop) classed.filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
    else classed
  }

  /** A logged input table of a view chain: its sub-dir under the chain
    * root, its row keys (also the join keys of a dim) and its
    * partition column. */
  private final case class Tbl(name: String, keys: Seq[String],
                               part: String)
  private val Orders = Tbl("orders", OKey, "o_orderpriority")
  private val Cust = Tbl("custdim", Seq("o_custkey"), "c_mktsegment")
  private val Prio = Tbl("priodim", Seq("o_orderpriority"), "prio_class")

  /** The left chains' measures: fact-side revenue cents (null-proof)
    * and the dim-side nation-key sum (NULL for unmatched rows, folding
    * to 0 under the stated LEFT-view contract). */
  private val leftMeasures = Seq("sum_cents" -> cents,
    "nation_sum" -> col("c_nationkey").cast("long"))

  /** One table state: the table and how to build it from the source. */
  private type State = (Tbl, Face)

  private val f0: State =
    Orders -> ((s, d) => ordersBefore(s, d, "1997-07-01"))
  private val f1: State =
    Orders -> ((s, d) => ordersBefore(s, d, "1997-10-01"))
  /** f1 with every `%7 == 0` order's price bumped by 1. */
  private val f2: State = Orders -> ((s, d) =>
    ordersBefore(s, d, "1997-10-01").withColumn("o_totalprice",
      when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
        .otherwise(col("o_totalprice"))))
  private def cust(nation: Boolean, appear: Boolean = true,
                   flip: Boolean = false, drop: Boolean = false): State =
    Cust -> ((s, d) => custDim(s, d, nation, appear, flip, drop))
  private def prio(reclass: Boolean, drop: Boolean): State =
    Prio -> ((s, d) => prioDim(s, d, reclass, drop))

  /** One served view of a chain: its registered face name, its sub-dir
    * (`view` or `view_part`), its view dims, and the partition dim of
    * the partitioned layout ([[StarJoinView.refreshPartitioned]]; None
    * is the single-slot [[StarJoinView.refresh]]). */
  private final case class Twin(face: String, sub: String,
                                viewDims: Seq[String],
                                partDim: Option[String] = None)

  /** A persisted-view chain: the [[AnnIndex]] kind naming its root, the
    * fact ([[Orders]]) joined to `dims` (each with its `DimSpec.cols`
    * projection), the measures, join type and fact projection, the
    * twins it serves, the seed state of every table, and the spans of
    * logged states. [[ensureChain]] refreshes every twin after the seed
    * and after each span but the last, which is the serve-time
    * catch-up. */
  private final case class Chain(kind: String,
                                 dims: Seq[(Tbl, Option[Seq[String]])],
                                 measures: Seq[(String, Column)],
                                 joinType: String,
                                 fCols: Option[Seq[String]],
                                 twins: Seq[Twin], seed: Seq[State],
                                 spans: Seq[Seq[State]])

  /** Seed or refresh one twin of the chain rooted at `root`. */
  private def refreshTwin(s: SparkSession, root: String, c: Chain,
                          t: Twin): Unit = {
    val dims = c.dims.map { case (d, cols) =>
      StarJoinView.DimSpec(s"$root/${d.name}", d.keys, d.keys, cols)
    }
    val fact = s"$root/${Orders.name}"
    val view = s"$root/${t.sub}"
    t.partDim match {
      case None => StarJoinView.refresh(s, fact, dims, view, Orders.keys,
        t.viewDims, c.measures, c.joinType, c.fCols)
      case Some(pd) => StarJoinView.refreshPartitioned(s, fact, dims,
        view, Orders.keys, t.viewDims, c.measures, pd, c.joinType,
        c.fCols)
    }
  }

  /** Build (once per JVM) the chain's history: delete the root, write
    * the seed states, refresh every twin (the seed at the pre-history
    * vector), then per span write its states through [[recordBatch]]
    * (batch ids numbered per table in write order) and refresh every
    * twin — except after the last span, which the registered faces
    * catch up at serve time. Returns the chain root. */
  private def ensureChain(s: SparkSession, dir: String, c: Chain): String = {
    val root = AnnIndex.dir(s, dir, c.kind)
    AnnIndex.ensure(root) {
      val p = new Path(root)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def write(t: Tbl, build: Face): Unit = MergeUpsert.replaceAll(s,
        s"$root/${t.name}", build(s, dir), partitionCol = t.part)
      val batch = scala.collection.mutable.Map.empty[Tbl, Long]
      c.seed.foreach { case (t, build) => write(t, build) }
      c.twins.foreach(refreshTwin(s, root, c, _))
      c.spans.zipWithIndex.foreach { case (span, i) =>
        span.foreach { case (t, build) =>
          batch(t) = batch.getOrElse(t, 0L) + 1
          recordBatch(s, s"$root/${t.name}", t.keys, batch(t))(
            write(t, build))
        }
        if (i < c.spans.size - 1) c.twins.foreach(refreshTwin(s, root, c, _))
      }
    }
    root
  }

  /** A twin's registered face: catch the chain up and serve a bare scan
    * of the tiny view — zero joins, zero aggregates (PlanSpec pins it);
    * bench reps past the first are a position check plus that scan. */
  private def serve(c: Chain, t: Twin): Face = (s, dir) => {
    val root = ensureChain(s, dir, c)
    refreshTwin(s, root, c, t)
    s.read.parquet(s"$root/${t.sub}")
      .select((t.viewDims ++ c.measures.map(_._1) :+ "n_rows").map(col): _*)
  }

  private val chains = Seq(
    /** The TWO-LOG join chain (a one-dim [[StarJoinView]]): a dedicated
      * orders copy AND a LOGGED customer-dim table, with an interleaved
      * history in which BOTH sides move — span 1 fact-only (ΔA ⋈ B),
      * span 2 both sides in one refresh (ΔA ⋈ B₁ ∪ A₀ ⋈ ΔB, A₀ via
      * snapshotAt at the committed A-position; segment flips and price
      * bumps), span 3 dim-only ROW REMOVALS (negative contributions
      * through the join). The oracle recomputes the ENDPOINT A₂ ⋈ B₂
      * per-segment revenue from the source tables, so every signed
      * contribution — adds, price changes, segment flips THROUGH the
      * join, and removed dim rows taking their fact rows out of the
      * view — must land exactly. */
    Chain("cdc_jview_persist", Seq(Cust -> None), Seq("sum_cents" -> cents),
      "inner", None,
      Seq(
        /** The PERSISTED two-log join view: positions in BOTH change
          * logs committed atomically with the data (the `_as_of_f`/
          * `_as_of_d0` vector rides the single-partition swap), both
          * consumers registered; the serve-time refresh applies the
          * outstanding dim-only removal span. */
        Twin("cdc_joinview_persisted", "view", Seq("c_mktsegment")),
        /** The PARTITIONED twin: the same definition and history,
          * hive-partitioned on the segment dim — per-partition
          * `_as_of_f`/`_as_of_d0` vectors with the vector file committed
          * LAST, straggler top-up from a partition's OWN vector, so each
          * refresh rewrites only the partitions its span touches —
          * O(spans + touched partitions) against the single slot's
          * O(|view|), the form a 100 TB join view must take. Same
          * oracle. */
        Twin("cdc_joinview_partitioned", "view_part", Seq("c_mktsegment"),
          Some("c_mktsegment"))),
      seed = Seq(f0, cust(nation = false)),
      spans = Seq(Seq(f1), Seq(cust(nation = false, flip = true), f2),
        Seq(cust(nation = false, flip = true, drop = true)))),
    /** The LEFT-OUTER join chain (one dim, `joinType = "left"`): the
      * orders fact LEFT-joined to a logged customer dim whose key set
      * CHURNS — dim keys APPEAR for live fact rows (batch 1 adds the
      * `%13 == 2` customers the seed lacked: their orders'
      * null-extended contributions must RETRACT from the null-segment
      * group and re-land joined) and DISAPPEAR (batch 2 drops
      * `%17 == 5`: their orders must come back null-extended) — the two
      * zero-crossing transitions of
      * [[CdcStarView.leftStarGroupDelta]]'s count-augmented delta,
      * across a three-span history with the fact moving too (adds at
      * span 1, price bumps at span 2). Per (segment, priority) —
      * segment NULL for unmatched orders — it sums revenue cents
      * (fact-side, null-proof) and the nation key (dim-side: NULL for
      * unmatched rows, folding to 0 under the stated contract); both
      * sides are projected to their referenced columns (fCols /
      * DimSpec.cols), which keeps the IVM shuffles at the measure
      * columns and mechanically prevents non-key name collisions. The
      * oracle recomputes the endpoint A₂ ⟕ B₂ with
      * `COALESCE(SUM(b.m), 0)`. Reference analogue: every reference
      * gold join is LEFT OUTER (`gold_user_daily_metrics.py:80-82` —
      * metrics ⟕ side aggregates where zero-match groups must
      * survive); this is its maintained-view form. */
    Chain("cdc_ljview", Seq(Cust -> Some(Seq("c_mktsegment", "c_nationkey"))),
      leftMeasures,
      "left", Some(Seq("o_orderpriority", "o_totalprice")),
      Seq(
        /** The PERSISTED LEFT-OUTER join view, caught up at serve time
          * across the dim-removal span — keys DISAPPEARING for live
          * fact rows, the hard direction: their orders' joined
          * contributions retract AND their null-extended rows re-enter
          * the null-segment group. */
        Twin("cdc_leftjoinview_persisted", "view",
          Seq("c_mktsegment", "o_orderpriority")),
        /** Its PARTITIONED twin, on the fact-side priority dim: never
          * null, while a LEFT view's dim-side dims are NULL for
          * unmatched groups and a null hive partition value would
          * defeat partition-scoped rewrites. Per-partition vector
          * stamps, vector file committed last. */
        Twin("cdc_leftjoinview_partitioned", "view_part",
          Seq("c_mktsegment", "o_orderpriority"), Some("o_orderpriority"))),
      seed = Seq(f0, cust(nation = true, appear = false)),
      spans = Seq(Seq(f1), Seq(cust(nation = true, flip = true), f2),
        Seq(cust(nation = true, flip = true, drop = true)))),
    /** The STAR chain ([[StarJoinView]] + [[CdcStarView]]): a fact and
      * TWO logged dims — the customer segment and a priority class
      * derived from the fact's own distinct priorities — maintained
      * from all three change logs, the K+1-position vector committed
      * atomically with the data. The history exercises every
      * decomposition term: span 1 fact-only adds; span 2 BOTH dims in
      * one refresh (segment flip + priority reclass — the later dim's
      * term must see the earlier dim at its span-START state); span 3 a
      * dim ROW REMOVAL (every '4-NOT SPECIFIED' fact loses its match),
      * the serve-time catch-up. The oracle recomputes the ENDPOINT
      * three-way join from source, so every term must land exactly. */
    Chain("cdc_starview", Seq(Cust -> None, Prio -> None),
      Seq("sum_cents" -> cents), "inner", None,
      Seq(
        /** The PERSISTED star view (single slot). */
        Twin("cdc_starview_persisted", "view",
          Seq("c_mktsegment", "prio_class")),
        /** Its PARTITIONED twin, on the segment dim: per-partition
          * `_as_of` vectors with the vector-position file committed
          * last, so each refresh rewrites only the partitions its spans
          * touch. Same oracle. */
        Twin("cdc_starview_partitioned", "view_part",
          Seq("c_mktsegment", "prio_class"), Some("c_mktsegment"))),
      seed = Seq(f0, cust(nation = false),
        prio(reclass = false, drop = false)),
      spans = Seq(Seq(f1),
        Seq(cust(nation = false, flip = true),
          prio(reclass = true, drop = false)),
        Seq(prio(reclass = true, drop = true)))),
    /** The LEFT-OUTER STAR chain (`joinType = "left"` +
      * [[CdcStarView.leftStarGroupDelta]]): chained ⟕ — the reference's
      * actual gold shape (J4) — with per-dim count-augmented
      * zero-crossing corrections, and BOTH null-extension directions
      * firing. The customer dim's `%13 == 2` keys are ABSENT at seed
      * (their facts live in the NULL-segment group) and appear at batch
      * 1 (mass retraction of null-extensions — by the endpoint the
      * null-segment group must VANISH entirely); the priority dim drops
      * '4-NOT SPECIFIED' at batch 2 (those facts move INTO the
      * null-class group at serve time, where the inner star's same drop
      * removes them from the view). The sides are projected to their
      * referenced columns as in the left join chain. The oracle
      * recomputes the endpoint F₁ ⟕ C₁ ⟕ P₂ with `COALESCE(SUM, 0)` on
      * the dim-side measure. */
    Chain("cdc_leftstar",
      Seq(Cust -> Some(Seq("c_mktsegment", "c_nationkey")),
        Prio -> Some(Seq("prio_class"))),
      leftMeasures,
      "left", Some(Seq("o_totalprice", "o_orderpriority")),
      Seq(
        /** The PERSISTED LEFT-OUTER STAR view (single slot). */
        Twin("cdc_leftstarview_persisted", "view",
          Seq("c_mktsegment", "prio_class")),
        /** Its PARTITIONED twin — the LEFT × partitioned × star
          * composition. A LEFT star's dim-side view dims are NULL for
          * unmatched groups, so the partition dim must come from the
          * FACT: the view adds `o_orderpriority` (never null) and
          * partitions on it, while the nullable dim-side groups live
          * INSIDE each priority partition; the batch-2 prio-dim drop
          * moves each partition's facts into its null-class group via
          * partition-scoped rewrites, the K+1-vector split commit per
          * partition. The oracle recomputes the endpoint at the finer
          * (priority × segment × class) grain. */
        Twin("cdc_leftstarview_partitioned", "view_part",
          Seq("o_orderpriority", "c_mktsegment", "prio_class"),
          Some("o_orderpriority"))),
      seed = Seq(f0, cust(nation = true, appear = false),
        prio(reclass = false, drop = false)),
      spans = Seq(Seq(f1),
        Seq(cust(nation = true, flip = true),
          prio(reclass = true, drop = false)),
        Seq(prio(reclass = true, drop = true)))))

  /** Every CDC face by registered name. */
  val queries: Map[String, Face] = Map[String, Face](
    /** The CDC composition end to end: the [[ordersHistory]] log,
      * collapsed with [[netDiff]] and summarized per status — the
      * DuckDB oracle computes the ENDPOINT diff state0 → state3
      * independently, so every intermediate mutation must net out
      * exactly. */
    "cdc_orders_net" -> ((s, dir) =>
      diffStatus(netDiff(logOf(s, ordersHistory(s, dir)), OKey))),
    /** The other consumer contract, [[replay]] end to end: re-derive
      * the UNLOGGED state0 baseline from the source (deterministic
      * filter), apply the accumulated three-batch log, and summarize
      * the replayed state per priority. The oracle computes the
      * ENDPOINT state3 independently, so the replayed table must equal
      * it exactly — including the rows no batch ever touched (the
      * anti-join side) and the reverted/removed collapses. The plan is
      * one log-scale collapse + one anti-join + union: no per-batch
      * re-execution. */
    "cdc_orders_replay" -> ((s, dir) => priorityState(replay(
      ordersBefore(s, dir, "1997-07-01"),
      logOf(s, ordersHistory(s, dir)), OKey))),
    /** Log-driven INCREMENTAL VIEW MAINTENANCE
      * ([[CdcStarView.starGroupDelta]] with no dims, applied by
      * [[CdcView.applyDelta]]): a per-priority revenue view seeded at
      * state0 and brought to the endpoint by APPLYING the log's net
      * contribution delta — old images subtract, new images add,
      * priority moves transfer between groups. The base table is never
      * re-read past the seed; the oracle recomputes the endpoint view
      * from scratch, so every add / remove / cross-group move must land
      * exactly. */
    "cdc_view_orders_priority" -> ((s, dir) => {
      val log = logOf(s, ordersHistory(s, dir))
      val state0 = ordersBefore(s, dir, "1997-07-01")
      val view0 = priorityProject(state0).groupBy(col("o_orderpriority"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_rows"))
      CdcView.applyDelta(view0,
          CdcStarView.starGroupDelta(Some(netDiff(log, OKey)), OKey,
            () => state0, Nil, Seq("o_orderpriority"), Seq("cents" -> cents)),
          Seq("o_orderpriority"), Seq("cents"))
        .withColumnRenamed("cents", "sum_cents")
    }),
    /** The PERSISTED form of the same view (the K = 0 [[StarJoinView]])
      * under the same oracle: seeded at state0, before any batch
      * published, so this refresh must catch up across the entire log
      * purely from the log, committing its position atomically with the
      * data; re-runs within the JVM are position-guarded no-ops. The
      * served answer is a scan of the tiny persisted table, not a
      * recompute. */
    "cdc_mview_orders_priority" -> ((s, dir) => {
      val table = ordersHistory(s, dir)
      refreshPriorityView(s, table)
      s.read.parquet(table + PriorityView).select(col("o_orderpriority"),
        col("cents").as("sum_cents"), col("n_rows"))
    }),
    /** The NON-distributive twin: per-priority MIN/MAX cents, which no
      * signed fold can maintain (a removed order may have carried the
      * extreme), refreshed by TOUCHED-GROUP RECOMPUTE
      * ([[MaterializedView.refreshByRecompute]]): the log names the
      * touched priority groups, the base is re-read ONLY inside them
      * (the view dim doubles as the table's partition column, so the
      * recompute scan is partition-pruned), and untouched groups' view
      * rows carry over unrecomputed. The oracle recomputes the endpoint
      * min/max from scratch — deletions that removed an extreme must
      * resurface the runner-up exactly. */
    "cdc_minmax_orders_priority" -> ((s, dir) => {
      val table = ordersHistory(s, dir)
      refreshMinMax(s, table)
      s.read.parquet(table + MinMaxView).select(col("o_orderpriority"),
        col("min_cents"), col("max_cents"), col("n_rows"))
    }),
    /** The EXACT-DISTINCT twin: per-priority countDistinct(custkey), the
      * aggregate the reference golds lean on hardest (A2–A4) and the
      * one [[CdcView.requireExactMeasures]] correctly rejects from the
      * signed fold — maintained instead by the same touched-group
      * recompute: the log names the touched groups, the base is re-read
      * ONLY inside them (partition-pruned via pruneDim), and untouched
      * groups' exact counts carry over unrecomputed. The oracle
      * recomputes the endpoint COUNT(DISTINCT) from scratch — deletions
      * must drop counts exactly where the removed row carried a group's
      * last occurrence of a customer. The at-scale APPROXIMATE twin is
      * the stored-sketch face (`sketch_gold_mau_stored`,
      * [[SketchGold]]). */
    "cdc_distinct_view_orders" -> ((s, dir) => {
      val table = ordersHistory(s, dir)
      refreshDistinct(s, table)
      s.read.parquet(table + DistinctView)
        .select(col("o_orderpriority"), col("n_cust"), col("n_rows"))
    }),
    /** The persisted-view loop at GOLD grain over the REAL silver
      * change log ([[silverChain]]): the view was seeded after update 1,
      * so this refresh applies the net contribution delta of updates
      * 2..3 (session rows re-keyed, re-stamped and deleted by later
      * events included); the oracle recomputes the endpoint per-country
      * aggregate from the full sessionization independently, so every
      * signed contribution must land exactly. The served answer is a
      * scan of the tiny persisted view; the base silver is never
      * re-read past the seed. */
    "cdc_view_sessions_country" -> ((s, dir) => {
      val root = silverChain(s, dir)
      refreshCountryView(s, root)
      s.read.parquet(s"$root/view_country").select(col("country"),
        col("n_events"), col("sum_value_cents"), col("n_rows"))
    }),
    /** SCD TYPE-2 from the log ([[scd2]], [[Scd2.fromLog]]): every
      * (key, version) validity interval in one events → intervals pass.
      * The oracle re-derives the four states and intervalizes them
      * independently through a presence grid + change detection, so
      * every boundary must match — the Sep-1997 add-then-remove (a
      * version closed by a tombstone), the 1996 change-then-revert
      * (three versions of the same key), and the untouched baseline
      * majority (open since base, still current). */
    "cdc_scd2_orders" -> ((s, dir) => scd2Intervals(
      scd2(s, ordersHistory(s, dir), OKey, basePosition = 0L))),
    /** The INCREMENTALLY-MAINTAINED SCD2 store ([[Scd2Store]]) under the
      * SAME oracle as the from-scratch build: seeded at state0 before
      * any batch published, so this refresh extends the dimension
      * across the whole log at O(entries + touched buckets), and the
      * served intervals must be cell-identical to the full
      * [[Scd2.fromLog]] rebuild the oracle re-derives. */
    "cdc_scd2_store_orders" -> ((s, dir) =>
      scd2Intervals(Scd2Store.read(s, refreshedStore(s, dir, Scd2Dir)))),
    /** HISTORY COMPACTION under the SAME oracle: the dimension seeded
      * into a DEDICATED store, every version that closed before
      * position 3 (and the tombstones that closed them) split into the
      * `_archive` sibling ([[Scd2Store.archive]]), then served through
      * [[Scd2Store.readHistory]] (live ∪ archive): the from-scratch
      * rebuild must reappear exactly — not one version row lost or
      * duplicated across the split. Current-only consumers keep
      * scanning live buckets alone (the point of the split: the live
      * store stays at live-set size under append-forever churn); this
      * face deliberately asks for the full history, the archive's one
      * read path. Bench reps past the first are a position check + a
      * no-op archive + the two-sided scan. */
    "cdc_scd2_archive_orders" -> ((s, dir) => {
      val store = refreshedStore(s, dir, Scd2ArchDir)
      Scd2Store.archive(s, store, closedBefore = 3L)
      scd2Intervals(Scd2Store.readHistory(s, store))
    }),
    /** The SCD2 CONSUMPTION path: every order key probed at every log
      * position through [[Scd2.joinAsOf]] (the union+window as-of plan,
      * never a range join), summarized per (position, attached
      * priority). A key absent at the position — not yet added, or
      * tombstoned at/before it — must attach a NULL dimension image,
      * exactly where the naive as-of carry (last version forever) gets
      * it wrong. The oracle reconstructs each position's attachment
      * from the states directly. */
    "cdc_scd2_asof" -> ((s, dir) => scd2AsOfProbe(s, dir,
      scd2(s, ordersHistory(s, dir), OKey, basePosition = 0L))),
    /** The SERVING twin of `cdc_scd2_asof` (the repo's inline-vs-serving
      * convention, `sim_*_topk` vs `*_indexed`): the SAME as-of probe
      * under the SAME oracle, but the dimension input is the PERSISTED
      * [[Scd2Store]] — a scan of pre-intervalized version rows — instead
      * of an inline [[Scd2.fromLog]] rebuild. At 100 TB this is the only
      * viable dimension plan: the inline twin re-reads base + log and
      * re-windows per query, the store amortizes that into its
      * incremental refresh and the probe pays one parquet scan
      * (bucket-partition-prunable for point-key probes). PlanSpec pins
      * that NO log or base-orders scan appears in the served plan. */
    "cdc_scd2_asof_stored" -> ((s, dir) => scd2AsOfProbe(s, dir,
      Scd2Store.read(s, refreshedStore(s, dir, Scd2Dir)))),
    /** TIME TRAVEL from the log ([[snapshotAt]]): the table rewound to
      * position 1, reconstructed from the CURRENT table + the later
      * entries' pre-images — O(current + distance), the merge-maintained
      * twin of [[Incremental.readAsOf]]. The batch-2 re-prioritizations
      * and drops and the batch-3 additions must all UNWIND (their
      * first-later-entry `o_` images restore; `added` keys leave),
      * while rows no later batch touched carry their current images.
      * The oracle computes state1 independently from the source —
      * position 1's snapshot, never stored, must reappear exactly. */
    "cdc_snapshot_at_orders" -> ((s, dir) => priorityState(
      snapshotAt(s, ordersHistory(s, dir), OKey, pos = 1L))),
    /** The BOUNDED-WINDOW net change ([[changesBetween]]): what a
      * position-1 consumer applies to reach position 2, summarized per
      * status. Churn inside the window telescopes; revisions OUTSIDE it
      * stay visible — the oracle diffs state1 and state2 independently,
      * and the 1996 change-then-revert keys DO appear as changed here
      * (batch 3 reverts them, but it sits outside the window), while
      * the same keys vanish from the full-span `cdc_orders_net`. The
      * window bound is the thing the full-span net cannot check. */
    "cdc_changes_between_orders" -> ((s, dir) => diffStatus(
      changesBetween(s, ordersHistory(s, dir), OKey, 1L, 2L))),
    /** JOIN-VIEW IVM ([[CdcStarView]] with one dim): a per-segment
      * revenue view over orders ⋈ customer, seeded at state0 and
      * brought to the endpoint by applying the orders log's SIGNED join
      * delta (`ΔF ⋈ D`; the customer side is static here — `net = None`
      * — so its `F₀ ⋈ ΔD` term never exists; CdcJoinViewSpec exercises
      * both sides moving). Every order add/remove/change reaches the
      * view THROUGH the join (the fact's own columns don't carry the
      * segment); the oracle recomputes the endpoint join from scratch.
      * The seed reads customer INDEPENDENTLY of the delta side's `cust`
      * (the fresh-read rule above: applyDelta's full-outer would trip
      * the ambiguous self-join check). */
    "cdc_joinview_orders_mkt" -> ((s, dir) => {
      val table = ordersHistory(s, dir)
      val cust = custDim(s, dir, nation = false)
      val dims = Seq("c_mktsegment")
      val measures = Seq("sum_cents" -> cents)
      val view0 = ordersBefore(s, dir, "1997-07-01")
        .join(custDim(s, dir, nation = false), Seq("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("sum_cents"))
        .select(col("c_mktsegment"), col("sum_cents"), col("n_rows"))
        .localCheckpoint()
      CdcView.applyDelta(view0,
        CdcStarView.starGroupDelta(Some(netDiff(logOf(s, table), OKey)),
          OKey, () => snapshotAt(s, table, OKey, 0L),
          Seq(CdcStarView.Side(Seq("o_custkey"), Seq("o_custkey"), cust,
            net = None, atStart = () => cust)),
          dims, measures),
        dims, measures.map(_._1))
    })
  ) ++ chains.flatMap(c => c.twins.map(t => t.face -> serve(c, t)))
}
