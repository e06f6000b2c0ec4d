package graft

import graft.ops.CdcStarView
import graft.runtime.{ChangeLog, Consumers, Incremental, MaterializedView,
  StarJoinView}
import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC consumer surface hardened end to end:
  *
  *  - the [[Consumers]] registry derives the collapse boundary from
  *    actual consumer positions — a laggard registered consumer BLOCKS
  *    [[ChangeLog.checkpoint]] at its position, and the fold proceeds
  *    once it catches up;
  *  - [[StarJoinView.refresh]] registers itself, so retention can
  *    never outrun a persisted view;
  *  - [[ChangeLog.mirrorBatch]] keeps an exactly-once mirror of the
  *    log across re-swapped (retried) partitions, redelivered empties
  *    and collapse rewrites — the consumer-side discipline `stream`'s
  *    at-least-once caveats demand;
  *  - [[StarJoinView.refreshPartitioned]] rewrites ONLY the
  *    partitions a span touches, with per-partition `_as_of_f` +
  *    last-committed position file closing every crash window;
  *  - [[graft.ops.CdcView.requireExactMeasures]] fails loud on float
  *    measures instead of silently drifting — and a refused definition
  *    registers nothing. */
class ConsumerRegistrySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("cents", LongType),
    StructField("grp", StringType)))

  private def df(rows: (Long, Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 2), schema)

  private def sortedCells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  private def assertSame(got: DataFrame, exp: DataFrame,
                         what: String): Unit =
    assert(sortedCells(got) === sortedCells(exp), s"$what diverged")

  /** state0 unlogged, then three logged batches over (id, cents, grp). */
  private def buildHistory(dir: String): DataFrame = {
    val state0 = df((1L, 100L, "g1"), (2L, 200L, "g2"), (5L, 500L, "g1"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "grp")
    val s1 = df((1L, 110L, "g1"), (2L, 200L, "g2"), (3L, 300L, "g2"),
      (5L, 500L, "g1"))
    val s2 = df((1L, 110L, "g1"), (3L, 330L, "g2"), (5L, 550L, "g1"))
    val s3 = df((1L, 110L, "g1"), (3L, 330L, "g2"), (5L, 500L, "g1"),
      (6L, 600L, "g3"))
    Seq(s1, s2, s3).zipWithIndex.foreach { case (st, i) =>
      ChangeLog.recordBatch(spark, dir, Seq("id"), i + 1L)(
        MergeUpsert.replaceAll(spark, dir, st, partitionCol = "grp"))
    }
    state0
  }

  test("a laggard registered consumer BLOCKS the collapse at its " +
      "position; the fold proceeds as it advances") {
    val dir = tmpDir("reg-clamp") + "/t"
    buildHistory(dir)
    val ld = ChangeLog.logDir(dir)

    Consumers.register(spark, dir, "tail-a", 1L)
    assert(!ChangeLog.checkpoint(spark, dir, Seq("id"), 3L),
      "fold past a registered laggard must be blocked")
    assert(Incremental.batches(spark, ld) === Seq(1L, 2L, 3L),
      "no partition may fold while the laggard owes reads")
    // The laggard keeps reading exactly what it is owed.
    assert(ChangeLog.readSince(spark, dir, Some(1L)).get
      .select(col("batch_id").cast("long")).distinct().count() === 2L)

    Consumers.register(spark, dir, "tail-a", 2L)
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 3L),
      "the fold must proceed to the caught-up position")
    assert(Incremental.batches(spark, ld) === Seq(2L, 3L))
    assert(ChangeLog.collapseBoundary(spark, dir).contains(2L))

    // Two consumers: the SLOWEST clamps.
    Consumers.register(spark, dir, "tail-a", 3L)
    Consumers.register(spark, dir, "tail-b", 2L,
      viewDir = Some("/nowhere/special"))
    assert(!ChangeLog.checkpoint(spark, dir, Seq("id"), 3L))
    assert(Incremental.batches(spark, ld) === Seq(2L, 3L))
    val regs = Consumers.list(spark, dir)
    assert(regs.map(_.name) === Seq("tail-a", "tail-b"))
    assert(regs.find(_.name == "tail-b").get.viewDir
      .contains("/nowhere/special"))

    // A retired consumer unregisters; the fold is released.
    Consumers.unregister(spark, dir, "tail-b")
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 3L))
    assert(Incremental.batches(spark, ld) === Seq(3L))
  }

  test("a dead consumer still blocks the fold, but the third clamped " +
      "checkpoint surfaces it by name; catching up clears the ledger") {
    val dir = tmpDir("reg-stale") + "/t"
    buildHistory(dir)
    val ld = ChangeLog.logDir(dir)

    Consumers.register(spark, dir, "dead-view", 1L)
    val reg = Consumers.list(spark, dir).head
    assert(reg.refreshedAt > 0L,
      "registrations must carry a liveness stamp")

    // Three successive clamped checkpoints: correctness first (the
    // fold never moves past the dead consumer)...
    (1 to 3).foreach { i =>
      assert(!ChangeLog.checkpoint(spark, dir, Seq("id"), 3L),
        s"clamped checkpoint $i must still block")
      assert(Incremental.batches(spark, ld) === Seq(1L, 2L, 3L))
      val clamps = Consumers.staleClamps(spark, dir)
      assert(clamps.map(c => (c.name, c.position, c.count)) ===
        Seq(("dead-view", 1L, i)),
        s"ledger after clamped checkpoint $i")
    }
    // ...and at WarnAfterClamps the ledger names it (the loud stderr
    // warning fires from the same entry — count >= threshold).
    assert(Consumers.staleClamps(spark, dir)
      .exists(c => c.name == "dead-view" &&
        c.count >= Consumers.WarnAfterClamps))

    // The consumer advances (it was merely slow, or the operator
    // refreshed it): the next checkpoint folds and CLEARS the ledger —
    // a recovered consumer must not stay named.
    Consumers.register(spark, dir, "dead-view", 3L)
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 3L))
    assert(Consumers.staleClamps(spark, dir).isEmpty,
      "an unclamped checkpoint must clear the ledger")
  }

  test("a crashed registration's leftover temp file is neither listed " +
      "nor clamps") {
    val dir = tmpDir("reg-tmp") + "/t"
    Consumers.register(spark, dir, "live", 5L)
    // A registration that crashed before its rename: a temp file whose
    // position would clamp the fold at 0 if it were read.
    val tmp = new org.apache.hadoop.fs.Path(Consumers.dir(dir), "dead.tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write("0\n\n0\n".getBytes("UTF-8")) finally out.close()
    assert(Consumers.list(spark, dir).map(_.name) === Seq("live"))
    assert(Consumers.minPosition(spark, dir).contains(5L))
  }

  test("an observer registration is listed but never clamps, and the " +
      "compliance sweep DELETES its state instead of marking it") {
    val dir = tmpDir("reg-obs") + "/t"
    buildHistory(dir)
    val ld = ChangeLog.logDir(dir)

    // An observer far behind the head: the fold ignores it entirely.
    val cacheState = tmpDir("reg-obs-cache") + "/entry"
    spark.range(3).write.parquet(s"$cacheState/data")
    Consumers.register(spark, dir, "cache-entry", 0L,
      viewDir = Some(cacheState), observer = true)
    val viewState = tmpDir("reg-obs-view") + "/v"
    MergeUpsert.replaceAll(spark, viewState,
      df((9L, 900L, "g9")), partitionCol = "grp")
    Consumers.register(spark, dir, "real-view", 3L,
      viewDir = Some(viewState))

    assert(Consumers.list(spark, dir).map(r => (r.name, r.observer)) ===
      Seq(("cache-entry", true), ("real-view", false)))
    assert(Consumers.minPosition(spark, dir).contains(3L),
      "observers must not participate in the clamp")
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 3L),
      "the fold must proceed past an observer at position 0")
    assert(Incremental.batches(spark, ld) === Seq(3L))
    assert(Consumers.staleClamps(spark, dir).isEmpty,
      "an observer can never be named as a clamp blocker")

    // Compliance sweep: blocking view gets the invalidation marker
    // (state intact until its next refresh re-seeds); observer state
    // is DELETED outright — a cache that may hold purged rows must
    // not outlive the purge on disk.
    Consumers.invalidateAll(spark, dir)
    assert(MaterializedView.isInvalid(spark, viewState))
    assert(spark.read.parquet(viewState).count() === 1L,
      "blocking view serves until its next refresh")
    val fs = new org.apache.hadoop.fs.Path(cacheState)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cacheState)),
      "observer (cache) state must be deleted by the sweep")
  }

  test("a single-table view registers itself: retention cannot " +
      "outrun the view, and it refreshes cleanly across a collapse") {
    val dir = tmpDir("reg-mview") + "/t"
    buildHistory(dir)
    val viewDir = tmpDir("reg-mview-view") + "/v"
    def project(d: DataFrame): DataFrame =
      d.select(col("grp"), col("cents"))
    def recompute: DataFrame = project(spark.read.parquet(dir))
      .groupBy(col("grp")).agg(sum(col("cents")).as("cents"),
        count(lit(1)).as("n_rows"))

    val pos = StarJoinView.refresh(spark, dir, Nil, viewDir, Seq("id"),
      Seq("grp"), Seq("cents" -> col("cents"))).head
    assert(pos === 3L)
    val reg = Consumers.list(spark, dir)
    assert(reg.map(_.name) ===
      Seq(StarJoinView.consumerName(viewDir, "f")))
    assert(reg.head.position === 3L &&
      reg.head.viewDir.contains(viewDir))

    // An aggressive retention request clamps to the view's position —
    // boundary 3, every entry the view still owes preserved... which
    // is none, so the log folds to the single base entry and the view
    // keeps refreshing without ever hitting the loud re-seed path.
    ChangeLog.checkpoint(spark, dir, Seq("id"), 99L)
    assert(ChangeLog.collapseBoundary(spark, dir).contains(3L))
    val s4 = df((1L, 111L, "g1"), (3L, 330L, "g2"), (6L, 600L, "g3"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 4L)(
      MergeUpsert.replaceAll(spark, dir, s4, partitionCol = "grp"))
    assert(StarJoinView.refresh(spark, dir, Nil, viewDir, Seq("id"),
      Seq("grp"), Seq("cents" -> col("cents"))).head === 4L)
    assertSame(spark.read.parquet(viewDir).drop("_as_of_f", "gv_pt"),
      recompute, "view after collapse + refresh")
    assert(Consumers.list(spark, dir).head.position === 4L)
  }

  test("mirrorBatch keeps an exactly-once mirror across a re-swapped " +
      "partition, a redelivered empty entry, and a collapse") {
    val dir = tmpDir("reg-mirror") + "/t"
    MergeUpsert.replaceAll(spark, dir,
      df((1L, 100L, "g1"), (2L, 200L, "g2")), partitionCol = "grp")
    val s1 = df((1L, 110L, "g1"), (2L, 200L, "g2"), (3L, 300L, "g2"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, s1, partitionCol = "grp"))
    val sink = tmpDir("reg-mirror-sink") + "/m"
    val ckpt = tmpDir("reg-mirror-ckpt")
    def drain(): Unit = {
      val q = ChangeLog.mirror(spark, dir, sink, ckpt,
        availableNow = true).get
      q.awaitTermination()
    }
    def logNow: DataFrame = ChangeLog.readLog(spark, dir).get
    drain()
    assertSame(spark.read.parquet(sink), logNow, "mirror after batch 1")

    // A crash between the table write and the publish, then the retry
    // (the durable pre-image path) — and then a RE-SWAP of the same
    // partition (identical rows, new files), the exact at-least-once
    // redelivery a retried batch's partition swap produces.
    val s2 = df((1L, 110L, "g1"), (3L, 330L, "g2"))
    intercept[RuntimeException] {
      ChangeLog.recordBatch(spark, dir, Seq("id"), 2L) {
        MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp")
        throw new RuntimeException("crash between write and publish")
      }
    }
    ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp"))
    drain()
    assertSame(spark.read.parquet(sink), logNow, "mirror after retry")
    val entry2 = logNow.filter(col("batch_id").cast("long") === 2L)
      .localCheckpoint()
    MergeUpsert.replacePartitions(spark, ChangeLog.logDir(dir), entry2,
      Seq(2L), partitionCol = "batch_id")
    drain()
    assertSame(spark.read.parquet(sink), logNow, "mirror after re-swap")
    assertSame(spark.read.parquet(sink),
      ChangeLog.readSince(spark, dir, None).get,
      "mirror == batch readSince")

    // A redelivered no-op publishes absence: nothing arrives, nothing
    // changes.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 3L)(
      MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp"))
    drain()
    assertSame(spark.read.parquet(sink), logNow, "mirror after empty")

    // Collapse: the fold rewrites the boundary entry (redelivered) and
    // deletes the folded ones (pruned on the next delivery).
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 2L))
    drain()
    assertSame(spark.read.parquet(sink), logNow, "mirror after collapse")
    assert(Incremental.batches(spark, sink) === Seq(2L),
      "folded partition must prune from the mirror")
  }

  test("refreshPartitioned rewrites only touched partitions and " +
      "converges through every crash window") {
    val dir = tmpDir("reg-part") + "/t"
    val viewDir = tmpDir("reg-part-view") + "/v"
    val posFile = viewDir.stripSuffix("/") + "_pos"
    def project(d: DataFrame): DataFrame =
      d.select(col("grp"), col("cents"))
    def recompute: DataFrame = project(spark.read.parquet(dir))
      .groupBy(col("grp")).agg(sum(col("cents")).as("cents"),
        count(lit(1)).as("n_rows"))
    def viewNow: DataFrame = spark.read.parquet(viewDir).drop("_as_of_f")
    def refresh(): Long = StarJoinView.refreshPartitioned(spark,
      dir, Nil, viewDir, Seq("id"), Seq("grp"), Seq("cents" -> col("cents")),
      partDim = "grp").head
    def asOfByGrp: Map[String, Long] = spark.read.parquet(viewDir)
      .groupBy(col("grp")).agg(max(col("_as_of_f")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // Seed BEFORE any log exists: position -1, all partitions stamped.
    MergeUpsert.replaceAll(spark, dir,
      df((1L, 100L, "g1"), (2L, 200L, "g2"), (7L, 700L, "g4")),
      partitionCol = "grp")
    assert(refresh() === -1L)
    assertSame(viewNow, recompute, "seeded view")

    // Batch 1 touches g1 (change) and g3 (new group); g2/g4 untouched.
    val s1 = df((1L, 110L, "g1"), (2L, 200L, "g2"), (6L, 600L, "g3"),
      (7L, 700L, "g4"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, s1, partitionCol = "grp"))
    assert(refresh() === 1L)
    assertSame(viewNow, recompute, "view after batch 1")
    val a1 = asOfByGrp
    assert(a1("g1") === 1L && a1("g3") === 1L,
      "touched partitions must stamp the new position")
    assert(a1("g2") === -1L && a1("g4") === -1L,
      "untouched partitions must NOT rewrite")

    // Crash window: all partitions swapped, position file not — the
    // stragglers are already at the head, so the retry rewrites
    // nothing and just commits the file.
    val s2 = df((1L, 120L, "g1"), (2L, 200L, "g2"), (6L, 600L, "g3"),
      (7L, 700L, "g4"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp"))
    assert(refresh() === 2L)
    Incremental.saveWatermark(spark, posFile, 1L) // crash simulation
    assert(refresh() === 2L)
    assertSame(viewNow, recompute,
      "no double-apply after a lost position file")

    // Mixed stragglers: g1 already absorbed batch 2 (as_of 2), the
    // file says 1, and batch 3 arrives touching g1 and g2 — g1 must
    // top up from ITS position (batch 3 only), g2 from the file's.
    Incremental.saveWatermark(spark, posFile, 1L)
    val s3 = df((1L, 130L, "g1"), (2L, 220L, "g2"), (6L, 600L, "g3"),
      (7L, 700L, "g4"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 3L)(
      MergeUpsert.replaceAll(spark, dir, s3, partitionCol = "grp"))
    assert(refresh() === 3L)
    assertSame(viewNow, recompute, "mixed-straggler convergence")
    assert(asOfByGrp("g4") === -1L, "g4 has still never rewritten")

    // A group emptied by the span leaves the view (partition deleted).
    val s4 = df((1L, 130L, "g1"), (2L, 220L, "g2"), (7L, 700L, "g4"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 4L)(
      MergeUpsert.replaceAll(spark, dir, s4, partitionCol = "grp"))
    assert(refresh() === 4L)
    assertSame(viewNow, recompute, "vanished group drops its partition")
    assert(!viewNow.filter(col("grp") === "g3").head(1).nonEmpty)

    // Invalidation: the marker forces a re-seed from the base.
    MaterializedView.invalidate(spark, viewDir)
    assert(MaterializedView.isInvalid(spark, viewDir))
    assert(refresh() === 4L)
    assert(!MaterializedView.isInvalid(spark, viewDir))
    assertSame(viewNow, recompute, "re-seeded partitioned view")

    // And it registered itself throughout.
    assert(Consumers.list(spark, dir).head.position === 4L)
  }

  test("a crashed swap whose sub-span NETS AWAY over the committed " +
      "span still heals: the swap-intent marker triggers the " +
      "ahead-stamp repair scan") {
    val dir = tmpDir("reg-netaway") + "/t"
    val viewDir = tmpDir("reg-netaway-view") + "/v"
    val posFile = viewDir.stripSuffix("/") + "_pos"
    val marker = viewDir.stripSuffix("/") + "_swapping"
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def project(d: DataFrame): DataFrame =
      d.select(col("grp"), col("cents"))
    def recompute: DataFrame = project(spark.read.parquet(dir))
      .groupBy(col("grp")).agg(sum(col("cents")).as("cents"),
        count(lit(1)).as("n_rows"))
    def viewNow: DataFrame = spark.read.parquet(viewDir).drop("_as_of_f")
    def refresh(): Long = StarJoinView.refreshPartitioned(spark,
      dir, Nil, viewDir, Seq("id"), Seq("grp"), Seq("cents" -> col("cents")),
      partDim = "grp").head

    val s0 = df((1L, 100L, "g1"), (2L, 200L, "g2"))
    MergeUpsert.replaceAll(spark, dir, s0, partitionCol = "grp")
    assert(refresh() === -1L)

    // Batch 1 adds id 6 to g1; the refresh swaps g1 (stamped 1) and
    // commits the file at 1. Simulate the crash BETWEEN those two:
    // rewind the file to -1 and restore the swap-intent marker the
    // crashed refresh would have left behind.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir,
        df((1L, 100L, "g1"), (2L, 200L, "g2"), (6L, 600L, "g1")),
        partitionCol = "grp"))
    assert(refresh() === 1L)
    Incremental.saveWatermark(spark, posFile, -1L)
    fs.create(new org.apache.hadoop.fs.Path(marker), true).close()

    // Batch 2 REVERTS batch 1 (id 6 leaves): over the committed span
    // (-1 → 2) the id-6 change nets to NOTHING, so the span delta
    // names no partition — yet g1 still carries id 6's contribution
    // from the crashed swap and owes the batch-2 complement. The
    // repair scan (marker-gated) must find g1 stamped past -1 and top
    // it up from ITS OWN stamp.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, dir, s0, partitionCol = "grp"))
    assert(refresh() === 2L)
    assertSame(viewNow, recompute,
      "netted-away crashed swap must heal via the ahead-stamp scan")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(marker)),
      "the marker must clear once the position file commits")

    // Steady state: no marker → no repair scan → still exact.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 3L)(
      MergeUpsert.replaceAll(spark, dir,
        df((1L, 110L, "g1"), (2L, 200L, "g2")), partitionCol = "grp"))
    assert(refresh() === 3L)
    assertSame(viewNow, recompute, "steady state after the heal")
  }

  test("a float measure fails LOUD instead of drifting") {
    val dir = tmpDir("reg-float") + "/t"
    val floatSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("grp", StringType)))
    def fdf(rows: (Long, Double, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map(r => Row(r._1, r._2, r._3)), 2), floatSchema)
    val state0 = fdf((1L, 1.5, "g1"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "grp")
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir,
        fdf((1L, 2.5, "g1"), (2L, 0.1, "g2")), partitionCol = "grp"))
    val net = ChangeLog.netDiff(
      ChangeLog.readLog(spark, dir).get, Seq("id"))
    val boom = intercept[IllegalArgumentException] {
      CdcStarView.starGroupDelta(Some(net), Seq("id"), () => state0, Nil,
        Seq("grp"), Seq("v" -> col("v")))
    }
    assert(boom.getMessage.contains("drift") ||
      boom.getMessage.contains("exact"),
      s"wrong message: ${boom.getMessage}")
    // The persisted form refuses at SEED time too — before any state
    // exists to be wrong.
    val viewDir = tmpDir("reg-float-v") + "/v"
    intercept[IllegalArgumentException] {
      StarJoinView.refresh(spark, dir, Nil, viewDir, Seq("id"),
        Seq("grp"), Seq("v" -> col("v")))
    }
    // ...and a refused definition registers nothing: a registration
    // left behind would resolve to -1 and block every checkpoint.
    def registeredFor(table: String, v: String): Seq[String] =
      Consumers.list(spark, table).filter(_.viewDir.contains(v))
        .map(_.name)
    assert(registeredFor(dir, viewDir).isEmpty)
    // The same for a K = 1 star: neither log may list the view.
    val dimDir = tmpDir("reg-float-d") + "/d"
    val dimState0 = spark.range(1).select(lit("g1").as("grp"),
      lit("first").as("label"))
    MergeUpsert.replaceAll(spark, dimDir, dimState0.withColumn("pt",
      lit("all")), partitionCol = "pt")
    ChangeLog.recordBatch(spark, dimDir, Seq("grp"), 1L)(
      MergeUpsert.replaceAll(spark, dimDir,
        dimState0.unionByName(spark.range(1).select(lit("g2").as("grp"),
          lit("second").as("label"))).withColumn("pt", lit("all")),
        partitionCol = "pt"))
    val starDir = tmpDir("reg-float-s") + "/v"
    intercept[IllegalArgumentException] {
      StarJoinView.refresh(spark, dir,
        Seq(StarJoinView.DimSpec(dimDir, Seq("grp"), Seq("grp"),
          cols = Some(Seq("label")))),
        starDir, Seq("id"), Seq("label"), Seq("v" -> col("v")))
    }
    assert(registeredFor(dir, starDir).isEmpty,
      "a refused star left a registration on the fact log")
    assert(registeredFor(dimDir, starDir).isEmpty,
      "a refused star left a registration on the dim log")
  }
}
