package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted PageRank over the episode transition graph — "where does
  * reader flow accumulate", the graph-analytics lens on the same
  * trajectories [[EventOps.pathTopSequences]] keeps whole and
  * [[EventOps.funnelTransitions]] marginalizes to pairs.
  *
  * Graph: an edge (src → dst, weight w) per consecutive same-user event
  * pair within the 30-minute session gap whose episode changes
  * (self-loops dropped); nodes are every observed episode.
  *
  * Arithmetic is FIXED-POINT INTEGER end-to-end: ranks carry
  * [[Scale]]-scaled mass, per-edge contributions are
  * `(rank·w) div out_w`, and the damping update is
  * `base + (85·Σcontrib) div 100` — every operation is an exact integer
  * op, so the sum is order-independent (a double PageRank could never
  * hash-match across engines) and the DuckDB oracle replays all
  * [[Iterations]] rounds as unrolled CTEs cell-for-cell. Integer-div
  * remainders leak a little mass per round (bounded by #edges + #nodes
  * ulps of [[Scale]]) — deterministic, and irrelevant to ranking.
  *
  * Scale shape: the corpus-scale work is the ONE windowed lag pass that
  * builds transitions (the sessionize window family); everything after
  * runs at GRAPH grain — each iteration is one partitioned equi-join of
  * edges against ranks plus a map-side-combined sum per dst, the exact
  * plan a billion-edge graph wants (ranks and edges co-partition on the
  * node key; nothing collects to the driver but the node COUNT).
  * [[Iterations]] is fixed, so the lineage stays 5 joins deep — no
  * checkpoint juggling.
  *
  * Overflow: rank ≤ [[Scale]] (total mass), so rank·w stays under 2⁶³
  * while Σw per source < 9.2·10⁹ — documented headroom, raised by
  * lowering [[Scale]] if a corpus ever concentrates that much weight on
  * one source.
  */
object PageRank {

  val Scale = 1000000000L
  val Iterations = 5
  val GapUs = 30L * 60 * 1000000

  /** Gate for the driver fast path in [[rank]] (the
    * [[graft.text.MinHashDedup.DriverComponentsMaxEdges]] idiom): a graph
    * within BOTH bounds collects to the driver and iterates there — the
    * 5 damping rounds over a node/edge-grain graph are microseconds of
    * Long arithmetic, where the distributed loop pays ~15 shuffle stages
    * of fixed scheduling cost (measured 4.4 s vs 1.6 s end-to-end at
    * sf0.1 on a 20-node/380-edge graph). Past either bound the
    * distributed co-partitioned join loop runs unchanged — the
    * billion-edge shape. Bounds sized in BYTES, not just rows (r18,
    * the Reachability gate discipline): a collected edge row is two
    * boxed id strings + a Long ≈ 150 B, so the former 1M-row gate
    * allowed ~150 MB per collect (an order of magnitude inside the
    * default 1 GB spark.driver.maxResultSize), and 262,144 edges ≈ 40 MB of
    * transient driver heap — well inside the default driver budget,
    * and the same ceiling the Reachability driver arm uses. Episode/content graphs are metadata-grain at any corpus size
    * (nodes = catalog entries, edges = distinct adjacent pairs), so the
    * realistic instances stay far inside the gate either way. */
  val DriverRankMaxEdges: Long = 262144L
  val DriverRankMaxNodes: Long = 262144L

  def episodePageRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    // ONE corpus-scale projection feeds both graph derivations (a second
    // cleansed() scan would re-parse the JSON props per rep — measured
    // ~1 s of pure recompute at sf0.1).
    val ev = graft.ingest.Events.cleansed(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("episode_id"))
      .persist()
    val trans = ev
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("src", lag(col("episode_id"), 1).over(w))
      .filter(col("prev_ts_us").isNotNull &&
        col("ts_us") - col("prev_ts_us") < GapUs &&
        col("src") =!= col("episode_id"))
      .groupBy(col("src"), col("episode_id").as("dst"))
      .agg(count(lit(1)).as("w"))
      .persist()
    val nodes = ev.select(col("episode_id").as("id")).distinct()
      .persist()
    rank(trans, nodes)
  }

  /** Pure form over (src, dst, w) edges and (id) nodes — exposed for
    * the hand-graph spec.
    *
    * MEASURED two-arm plan (the AutoArm family): graphs within
    * [[DriverRankMaxEdges]] × [[DriverRankMaxNodes]] collect both frames
    * and run the identical fixed-point integer iteration on the driver
    * ([[driverRank]]) — every operation is the same Long arithmetic the
    * distributed expressions execute ((r·w) div out_w with non-negative
    * operands, base + (85·Σ) div 100), so the output is cell-identical
    * (PageRankSpec proves arm equality). Larger graphs run the original
    * pipelined co-partitioned shuffle-join rounds. */
  def rank(trans: DataFrame, nodes: DataFrame): DataFrame = {
    // Edge gate first: its count also materializes the caller's persist.
    val nE = trans.count()
    if (nE <= DriverRankMaxEdges) {
      // Node pull doubles as the n-count action; past the node gate the
      // collected ids are discarded and the distributed loop runs.
      val nodeIds = nodes
        .limit((DriverRankMaxNodes + 1).toInt)
        .select(col("id").cast("string")).collect().map(_.getString(0))
      if (nodeIds.length <= DriverRankMaxNodes)
        return driverRank(
          trans.select(col("src").cast("string"), col("dst").cast("string"),
            col("w").cast("long")).collect().map(r =>
            (r.getString(0), r.getString(1), r.getLong(2))),
          nodeIds, nodes.sparkSession)
    }
    distributedRank(trans, nodes)
  }

  /** The in-driver arm: the exact integer fixed point over collected
    * edges and node ids. Semantics mirror [[distributedRank]] exactly,
    * including the corner cases: contributions flow only from srcs that
    * are themselves nodes (the per-round ranks join is inner on src),
    * out_w divisors count ALL edges of a src (the outw aggregate is over
    * the full edge list), and out_w/in_w output columns likewise count
    * edges regardless of the far end's node membership. */
  private def driverRank(edges: Array[(String, String, Long)],
                         nodeIds: Array[String],
                         spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = nodeIds.length.toLong
    if (n == 0) return emptyRanked(spark)
    val base = ((Scale / n) * 15L) / 100L
    val outw = new scala.collection.mutable.HashMap[String, Long]()
    val inw = new scala.collection.mutable.HashMap[String, Long]()
    edges.foreach { case (s, d, w) =>
      outw.update(s, outw.getOrElse(s, 0L) + w)
      inw.update(d, inw.getOrElse(d, 0L) + w)
    }
    var ranks = new scala.collection.mutable.HashMap[String, Long]()
    nodeIds.foreach(ranks.update(_, Scale / n))
    for (_ <- 1 to Iterations) {
      val contrib = new scala.collection.mutable.HashMap[String, Long]()
      edges.foreach { case (s, d, w) =>
        // Inner-join semantics of the distributed ranks join: only a
        // src that is a NODE carries rank into this round.
        ranks.get(s).foreach { r =>
          contrib.update(d, contrib.getOrElse(d, 0L) + (r * w) / outw(s))
        }
      }
      val next = new scala.collection.mutable.HashMap[String, Long]()
      nodeIds.foreach(v =>
        next.update(v, base + (85L * contrib.getOrElse(v, 0L)) / 100L))
      ranks = next
    }
    nodeIds.toSeq.map(v => (v, ranks(v), outw.getOrElse(v, 0L),
        inw.getOrElse(v, 0L)))
      .toDF("episode_id", "rank", "out_w", "in_w")
  }

  /** Correctly-typed empty result (empty corpus / empty node set). */
  private def emptyRanked(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("episode_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("out_w",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("in_w",
          org.apache.spark.sql.types.LongType))))

  /** The distributed arm — the original pipelined shuffle-join rounds.
    * private[graft]: PageRankSpec proves arm equality against it. */
  private[graft] def distributedRank(trans: DataFrame,
                              nodes: DataFrame): DataFrame = {
    val n = nodes.count()
    // Empty graph (empty/filtered corpus): return an empty, correctly-
    // typed frame instead of dividing Scale by zero on the driver —
    // the Binning.equiDepthBinsOf n==0 convention.
    if (n == 0) return emptyRanked(nodes.sparkSession)
    val outw = trans.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val base = ((Scale / n) * 15L) / 100L
    // Deliberately NO broadcast hints, even though the node-grain sides
    // are tiny here: each round's ranks depend on the previous round,
    // so broadcasting either side turns the pipeline into blocking
    // per-round driver-side builds (measured: ranks+outw broadcast
    // 5.8 s, outw alone 5.1 s, plain co-partitioned shuffle joins
    // 4.65 s at sf0.1). The shuffle join keeps all rounds in one
    // pipelined job and is the only viable shape at billion-node scale
    // anyway — the rare case where "broadcast the small side" loses.
    var ranks = nodes.withColumn("rank", lit(Scale / n))
    for (_ <- 1 to Iterations) {
      val contrib = trans
        .join(outw, Seq("src"))
        .join(ranks.select(col("id").as("src"), col("rank").as("r")),
          Seq("src"))
        .select(col("dst").as("id"),
          expr("(r * w) div out_w").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100"))
            .as("rank"))
    }
    val inw = trans.groupBy(col("dst").as("id"))
      .agg(sum(col("w")).as("in_w"))
    ranks
      .join(outw.select(col("src").as("id"), col("out_w")), Seq("id"),
        "left")
      .join(inw, Seq("id"), "left")
      .select(col("id").as("episode_id"), col("rank"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }
}
