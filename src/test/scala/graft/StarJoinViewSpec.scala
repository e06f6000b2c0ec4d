package graft

import graft.runtime.{ChangeLog, Consumers, MaterializedView,
  StarJoinView}
import graft.runtime.StarJoinView.DimSpec
import graft.silver.MergeUpsert
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The PERSISTED star join view ([[graft.runtime.StarJoinView]]):
  * fact + K logged dimensions maintained from ALL K+1 change logs,
  * the position VECTOR committed atomically with the data through the
  * single-partition swap; every log registered; a purge of ANY log
  * invalidates into a re-seed. The decomposition's term shapes are
  * each exercised: fact-only, several dims in one refresh (earlier
  * dims at span-START state in later movers' terms), late-dim-only
  * with fact and earlier dim at snapshots. A single-table view is the
  * K = 0 star. */
class StarJoinViewSpec extends SparkSpec {

  private val fSchema = StructType(Seq(
    StructField("id", LongType), StructField("k1", LongType),
    StructField("k2", LongType), StructField("m", LongType)))
  private val d1Schema = StructType(Seq(
    StructField("k1", LongType), StructField("g1", StringType),
    StructField("w1", LongType)))
  private val d2Schema = StructType(Seq(
    StructField("k2", LongType), StructField("g2", StringType),
    StructField("w2", LongType)))

  private def fdf(rows: (Long, Long, Long, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3, r._4)), 2), fSchema)
      .withColumn("pt", lit("all"))
  private def d1df(rows: (Long, String, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3)), 2), d1Schema)
      .withColumn("pt", lit("all"))
  private def d2df(rows: (Long, String, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3)), 2), d2Schema)
      .withColumn("pt", lit("all"))

  private def cells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  private val measures = Seq(
    ("mw", col("m") * col("w1") * col("w2")))

  private def refresh(fDir: String, d1Dir: String, d2Dir: String,
                      viewDir: String): Seq[Long] =
    StarJoinView.refresh(spark, fDir,
      Seq(DimSpec(d1Dir, Seq("k1"), Seq("k1")),
        DimSpec(d2Dir, Seq("k2"), Seq("k2"))),
      viewDir, Seq("id"), Seq("g1", "g2"), measures)

  private def recomputeNow(fDir: String, d1Dir: String,
                           d2Dir: String): DataFrame =
    spark.read.parquet(fDir)
      .join(spark.read.parquet(d1Dir).drop("pt"), Seq("k1"))
      .join(spark.read.parquet(d2Dir).drop("pt"), Seq("k2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("m") * col("w1") * col("w2")).as("mw"))
      .select(col("g1"), col("g2"), col("mw"), col("n_rows"))

  private def viewNow(viewDir: String): DataFrame =
    spark.read.parquet(viewDir)
      .drop("_as_of_f", "_as_of_d0", "_as_of_d1", "gv_pt")

  private def assertConverged(viewDir: String, fDir: String,
                              d1Dir: String, d2Dir: String,
                              what: String): Unit =
    assert(cells(viewNow(viewDir)) ===
      cells(recomputeNow(fDir, d1Dir, d2Dir)),
      s"$what diverged from the recompute")

  test("the star loop converges across spans that exercise every " +
      "term shape, registers in all three registries, and a purge of " +
      "ANY log re-seeds") {
    val base = tmpDir("sjv")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 10L, 200L, 3L), (3L, 20L, 100L, 5L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "x", 2L), (20L, "y", 3L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "p", 1L), (200L, "q", 4L)), partitionCol = "pt")
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, -1L, -1L),
      "seed must stamp the pre-history vector")
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "seed")

    // Span 1 — FACT only (term 0): m change, a removal, an add whose
    // k1 has no dim match (contributes nothing, exactly).
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (3L, 20L, 100L, 5L),
          (4L, 30L, 100L, 7L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(1L, -1L, -1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "fact-only span")

    // Span 2 — ALL THREE in one refresh: fact changes again, D1 moves
    // a group and a weight, D2 REMOVES a row; D2's term must see D1
    // at its span-START state (the ordering the telescoping needs).
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (3L, 20L, 200L, 5L),
          (4L, 30L, 100L, 7L), (5L, 20L, 100L, 11L)),
        partitionCol = "pt"))
    ChangeLog.recordBatch(spark, d1Dir, Seq("k1"), 1L)(
      MergeUpsert.replaceAll(spark, d1Dir,
        d1df((10L, "x", 6L), (20L, "z", 3L), (30L, "x", 1L)),
        partitionCol = "pt"))
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 1L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((100L, "p", 1L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "all-three span")

    // Span 3 — LATE dim only: fact and D1 untouched (their terms
    // empty, no snapshot of either is even built for term 0/1; D2's
    // term reconstructs both at their committed positions).
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 2L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((100L, "p", 2L), (200L, "q", 1L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 2L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "late-dim-only span")

    // All three registries hold the vector's positions.
    assert(Consumers.list(spark, fDir).exists(r =>
      r.name === StarJoinView.consumerName(viewDir, "f") &&
        r.position === 2L))
    assert(Consumers.list(spark, d1Dir).exists(r =>
      r.name === StarJoinView.consumerName(viewDir, "d0") &&
        r.position === 1L))
    assert(Consumers.list(spark, d2Dir).exists(r =>
      r.name === StarJoinView.consumerName(viewDir, "d1") &&
        r.position === 2L))

    // No-op refresh: same vector, same cells.
    val before = cells(viewNow(viewDir))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 2L))
    assert(cells(viewNow(viewDir)) === before)

    // A purge of ANY of the three logs invalidates: take the MIDDLE
    // dim (d1) — its registration carries the view dir.
    Consumers.invalidateAll(spark, d1Dir)
    assert(MaterializedView.isInvalid(spark, viewDir))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 2L),
      "the re-seed must stamp the current heads")
    assert(!MaterializedView.isInvalid(spark, viewDir))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "re-seeded view")
  }

  test("a re-defined star (join type, then view dims) drops its " +
      "state and re-seeds instead of maintaining it under the new " +
      "definition; the same definition never re-seeds") {
    val base = tmpDir("sjv-redefine")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    val dims = Seq(DimSpec(d1Dir, Seq("k1"), Seq("k1")),
      DimSpec(d2Dir, Seq("k2"), Seq("k2")))
    // id 3's k1 = 30 has no d1 match: inner drops it, left keeps it.
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 20L, 200L, 3L), (3L, 30L, 100L, 5L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "x", 2L), (20L, "y", 3L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "p", 1L), (200L, "q", 4L)), partitionCol = "pt")
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, -1L, -1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "inner seed")
    // Same definition, new fact span: maintained incrementally.
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (2L, 20L, 200L, 3L),
          (3L, 30L, 100L, 5L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(1L, -1L, -1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "same-definition span")

    def leftNow(groupBy: Seq[String]): DataFrame =
      spark.read.parquet(fDir)
        .join(spark.read.parquet(d1Dir).drop("pt"), Seq("k1"), "left")
        .join(spark.read.parquet(d2Dir).drop("pt"), Seq("k2"), "left")
        .groupBy(groupBy.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("m") * col("w1") * col("w2"), lit(0L)))
            .as("mw"))
        .select(groupBy.map(col) ++ Seq(col("mw"), col("n_rows")): _*)
    // joinType flip on the same directory, nothing new in any log.
    assert(StarJoinView.refresh(spark, fDir, dims, viewDir, Seq("id"),
      Seq("g1", "g2"), measures, joinType = "left") === Seq(1L, -1L, -1L))
    assert(cells(viewNow(viewDir)) === cells(leftNow(Seq("g1", "g2"))),
      "an inner-seeded star refreshed as LEFT must re-seed")
    // Different view dims on the same directory.
    assert(StarJoinView.refresh(spark, fDir, dims, viewDir, Seq("id"),
      Seq("g1"), measures, joinType = "left") === Seq(1L, -1L, -1L))
    assert(cells(viewNow(viewDir)) === cells(leftNow(Seq("g1"))),
      "a star refreshed with different view dims must re-seed")
    // The old definition's registrations are the same names (same
    // inputs), so exactly one per log remains.
    assert(Consumers.list(spark, d1Dir).map(_.name) ===
      Seq(StarJoinView.consumerName(viewDir, "d0")))

    // The K = 0 star (a single-table view) on its own directory: a
    // changed measure expression, nothing new in the log.
    val v0Dir = s"$base/v0"
    def refresh0(e: Column): Seq[Long] =
      StarJoinView.refresh(spark, fDir, Nil, v0Dir, Seq("id"),
        Seq("k1"), Seq("mk" -> e))
    def recompute0(e: Column): DataFrame =
      spark.read.parquet(fDir).groupBy(col("k1"))
        .agg(sum(e).as("mk"), count(lit(1)).as("n_rows"))
    def view0: DataFrame =
      spark.read.parquet(v0Dir).drop("_as_of_f", "gv_pt")
    assert(refresh0(col("m")) === Seq(1L))
    assert(cells(view0) === cells(recompute0(col("m"))))
    assert(refresh0(col("m") * 10) === Seq(1L))
    assert(cells(view0) === cells(recompute0(col("m") * 10)),
      "a single-table view refreshed with a new measure must re-seed")
  }

  private def refreshPart(fDir: String, d1Dir: String, d2Dir: String,
                          viewDir: String): Seq[Long] =
    StarJoinView.refreshPartitioned(spark, fDir,
      Seq(DimSpec(d1Dir, Seq("k1"), Seq("k1")),
        DimSpec(d2Dir, Seq("k2"), Seq("k2"))),
      viewDir, Seq("id"), Seq("g1", "g2"), measures, partDim = "g1")

  test("partitioned star form: only touched partitions rewrite; a " +
      "crashed seed recovers its vector; mixed-vector stragglers top " +
      "up from their OWN vectors; a rewound vector file never " +
      "double-applies") {
    val base = tmpDir("sjv-part")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/vp"
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 10L, 200L, 3L), (3L, 20L, 100L, 5L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "x", 2L), (20L, "y", 3L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "p", 1L), (200L, "q", 4L)), partitionCol = "pt")
    assert(refreshPart(fDir, d1Dir, d2Dir, viewDir)
      === Seq(-1L, -1L, -1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "partitioned seed")
    assert(fs.exists(p(s"$viewDir/g1=x")) && fs.exists(p(s"$viewDir/g1=y")))

    // Crashed-seed window: vector file gone — recover from the rows.
    fs.delete(p(viewDir + "_pos"), false)
    // Fact-only span touching ONLY k1=10 → g1=x: g1=y must not move.
    val yMt = fs.getFileStatus(p(s"$viewDir/g1=y")).getModificationTime
    Thread.sleep(1100)
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (2L, 10L, 200L, 3L),
          (3L, 20L, 100L, 5L)), partitionCol = "pt"))
    assert(refreshPart(fDir, d1Dir, d2Dir, viewDir)
      === Seq(1L, -1L, -1L), "recovered vector must refresh, not re-seed")
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "fact-only g1=x span")
    assert(fs.getFileStatus(p(s"$viewDir/g1=y")).getModificationTime
      === yMt, "an untouched partition must not rewrite")

    // Mid-swap crash with a FURTHER span before the heal: snapshot
    // g1=x + the vector file, run an all-three refresh (touches both
    // partitions), restore g1=x and the file (x a straggler at the
    // committed vector, y past it), then land one more d2 batch — the
    // healing refresh must top x up via the shared delta and y via a
    // recomputed delta from ITS OWN vector.
    val saveDir = p(s"$base/save-x")
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$viewDir/g1=x"),
      fs, saveDir, false, conf)
    val savePos = p(s"$base/save-pos")
    org.apache.hadoop.fs.FileUtil.copy(fs, p(viewDir + "_pos"),
      fs, savePos, false, conf)
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (2L, 10L, 200L, 3L),
          (3L, 20L, 200L, 6L)), partitionCol = "pt"))
    ChangeLog.recordBatch(spark, d1Dir, Seq("k1"), 1L)(
      MergeUpsert.replaceAll(spark, d1Dir,
        d1df((10L, "x", 5L), (20L, "y", 3L)), partitionCol = "pt"))
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 1L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((100L, "p", 2L), (200L, "q", 4L)), partitionCol = "pt"))
    assert(refreshPart(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 1L))
    fs.delete(p(s"$viewDir/g1=x"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, saveDir,
      fs, p(s"$viewDir/g1=x"), false, conf)
    fs.delete(p(viewDir + "_pos"), false)
    org.apache.hadoop.fs.FileUtil.copy(fs, savePos,
      fs, p(viewDir + "_pos"), false, conf)
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 2L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((100L, "p", 3L), (200L, "q", 1L)), partitionCol = "pt"))
    assert(refreshPart(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 2L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "mixed-vector top-up")

    // All-swapped-file-not: rewind only the file — nothing
    // double-applies and it recommits.
    val healthy = cells(viewNow(viewDir))
    JoinViewSpecHelper.writeVec(fs, p(viewDir + "_pos"),
      Seq(2L, 1L, 1L))
    assert(refreshPart(fDir, d1Dir, d2Dir, viewDir) === Seq(2L, 1L, 2L))
    assert(cells(viewNow(viewDir)) === healthy,
      "a rewound vector file must not double-apply")
  }

  test("LEFT star converges across zero-crossings on BOTH dims: keys " +
      "appear (0->1, null-extension retracts), disappear (1->0, it " +
      "returns), a fact-only span, and both dims in one refresh") {
    val base = tmpDir("sjv-left")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    val leftMeasures = Seq(
      ("mw", col("m") * col("w1") * col("w2")), ("mm", col("m")))
    def refreshL(): Seq[Long] =
      StarJoinView.refresh(spark, fDir,
        Seq(DimSpec(d1Dir, Seq("k1"), Seq("k1")),
          DimSpec(d2Dir, Seq("k2"), Seq("k2"))),
        viewDir, Seq("id"), Seq("g1", "g2"), leftMeasures,
        joinType = "left")
    def recomputeL(): DataFrame =
      spark.read.parquet(fDir)
        .join(spark.read.parquet(d1Dir).drop("pt"), Seq("k1"), "left")
        .join(spark.read.parquet(d2Dir).drop("pt"), Seq("k2"), "left")
        .groupBy(col("g1"), col("g2"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("m") * col("w1") * col("w2"), lit(0L)))
            .as("mw"),
          sum(coalesce(col("m"), lit(0L))).as("mm"))
        .select(col("g1"), col("g2"), col("mw"), col("mm"),
          col("n_rows"))
    def viewL(): DataFrame = spark.read.parquet(viewDir)
      .drop("_as_of_f", "_as_of_d0", "_as_of_d1", "gv_pt")
    def assertL(what: String): Unit =
      assert(cells(viewL()) === cells(recomputeL()),
        s"$what diverged from the LEFT recompute")

    // Seed: id 3's k1=20 has NO d1 match; id 2's k2=200 has NO d2
    // match — both null-extension kinds exist from the start.
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 10L, 200L, 3L),
        (3L, 20L, 100L, 5L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "a", 2L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "x", 7L)), partitionCol = "pt")
    assert(refreshL() === Seq(-1L, -1L, -1L))
    assertL("left seed")

    // Fact-only span: a new row unmatched on BOTH dims.
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 2L), (2L, 10L, 200L, 3L),
          (3L, 20L, 100L, 5L), (4L, 30L, 300L, 7L)),
        partitionCol = "pt"))
    assert(refreshL() === Seq(1L, -1L, -1L))
    assertL("fact-only span")

    // Both dims in ONE refresh: d1 key 20 APPEARS (id 3's
    // null-extension on dim 1 retracts) while d1 key 10 changes in
    // place (no crossing); d2 key 100 DISAPPEARS (ids 1,3 gain a
    // dim-2 null-extension) and key 200 APPEARS (id 2 loses its).
    ChangeLog.recordBatch(spark, d1Dir, Seq("k1"), 1L)(
      MergeUpsert.replaceAll(spark, d1Dir,
        d1df((10L, "a", 3L), (20L, "b", 4L)), partitionCol = "pt"))
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 1L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((200L, "y", 11L)), partitionCol = "pt"))
    assert(refreshL() === Seq(1L, 1L, 1L))
    assertL("both-dims zero-crossing span")

    // No-op.
    assert(refreshL() === Seq(1L, 1L, 1L))
    assertL("no-op refresh")
  }

  test("an UNLOGGED side is legal-static even when a LATER logged " +
      "side moves: its span-start state is its current read, never " +
      "snapshotAt") {
    val base = tmpDir("sjv-unlogged")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    // Fact and d1 UNLOGGED (no CDC anywhere on them); only d2 logged.
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 10L, 200L, 3L),
        (3L, 20L, 100L, 5L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "a", 2L), (20L, "b", 3L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "x", 7L), (200L, "y", 11L)), partitionCol = "pt")
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, -1L, -1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir, "unlogged-sides seed")
    // d2 moves: its term needs F₀ AND d1's span-start state — both
    // unlogged, so both read their CURRENT tables (the round-16 fix;
    // previously snapshotAt sys.errored on the missing logs).
    ChangeLog.recordBatch(spark, d2Dir, Seq("k2"), 1L)(
      MergeUpsert.replaceAll(spark, d2Dir,
        d2df((100L, "x", 8L), (200L, "z", 11L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, -1L, 1L))
    assertConverged(viewDir, fDir, d1Dir, d2Dir,
      "logged d2 span over unlogged fact + d1")
  }

  test("pointer registrations: all K+1 registries resolve the SAME " +
      "vector from the one atomic file; a missing file clamps every " +
      "side at -1; the nothing-new serve heals it") {
    val base = tmpDir("sjv-pointer")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (3L, 20L, 100L, 5L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "a", 2L), (20L, "b", 3L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d2Dir,
      d2df((100L, "x", 7L)), partitionCol = "pt")
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, -1L, -1L))
    ChangeLog.recordBatch(spark, d1Dir, Seq("k1"), 1L)(
      MergeUpsert.replaceAll(spark, d1Dir,
        d1df((10L, "a", 4L), (20L, "b", 3L)), partitionCol = "pt"))
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, 1L, -1L))
    def posOf(dir: String): Long = Consumers.list(spark, dir)
      .find(_.name.startsWith("sjview-")).get.position
    assert(posOf(fDir) === -1L && posOf(d1Dir) === 1L &&
      posOf(d2Dir) === -1L)
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val posP = new org.apache.hadoop.fs.Path(viewDir + "_pos")
    assert(fs.exists(posP),
      "the single-slot form must mirror its vector for resolution")
    fs.delete(posP, false)
    assert(posOf(fDir) === -1L && posOf(d1Dir) === -1L &&
      posOf(d2Dir) === -1L,
      "a missing vector file must clamp every side at -1")
    assert(refresh(fDir, d1Dir, d2Dir, viewDir) === Seq(-1L, 1L, -1L))
    assert(posOf(d1Dir) === 1L,
      "the nothing-new serve must heal the resolution target")
  }

  test("a SNOWFLAKE spec (dim joining on another dim's column, not a " +
      "fact column) is rejected loudly, naming the workaround") {
    val base = tmpDir("sjv-snowflake")
    val fDir = s"$base/f"; val d1Dir = s"$base/d1"
    val d2Dir = s"$base/d2"; val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, d1Dir,
      d1df((10L, "a", 2L)), partitionCol = "pt")
    // d2 keyed on d1's g1 column — a dim-on-dim chain the ordered
    // decomposition cannot maintain; it must fail loud at the spec,
    // not with an opaque unresolved-column error mid-join.
    MergeUpsert.replaceAll(spark, d2Dir,
      spark.range(1).select(lit("a").as("g1"), lit(7L).as("w2"))
        .withColumn("pt", lit("all")), partitionCol = "pt")
    val e = intercept[IllegalArgumentException] {
      StarJoinView.refresh(spark, fDir,
        Seq(DimSpec(d1Dir, Seq("k1"), Seq("k1")),
          DimSpec(d2Dir, Seq("g1"), Seq("g1"))),
        viewDir, Seq("id"), Seq("g1"),
        Seq(("mw", col("m") * col("w2"))))
    }
    assert(e.getMessage.contains("snowflake") &&
      e.getMessage.contains("Pre-join"),
      s"error must name the limitation and workaround: ${e.getMessage}")
    // The partitioned form carries the same guard.
    val e2 = intercept[IllegalArgumentException] {
      StarJoinView.refreshPartitioned(spark, fDir,
        Seq(DimSpec(d2Dir, Seq("g1"), Seq("g1"))),
        s"$base/v2", Seq("id"), Seq("g1"),
        Seq(("mw", col("m") * col("w2"))), partDim = "g1")
    }
    assert(e2.getMessage.contains("snowflake"))
  }

  test("state left by the earlier single-table loop (`_as_of`, no " +
      "config, an mview-* registration) re-seeds as the K = 0 star " +
      "and leaves no mview-* registration behind") {
    val base = tmpDir("sjv-upgrade")
    val fDir = s"$base/f"; val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, fDir,
      fdf((1L, 10L, 100L, 2L), (2L, 20L, 200L, 3L)), partitionCol = "pt")
    ChangeLog.recordBatch(spark, fDir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, fDir,
        fdf((1L, 10L, 100L, 4L), (2L, 20L, 200L, 3L),
          (3L, 10L, 100L, 5L)), partitionCol = "pt"))
    def expected: DataFrame = spark.read.parquet(fDir)
      .groupBy(col("k1"))
      .agg(sum(col("m")).as("m"), count(lit(1)).as("n_rows"))
    // The single-slot layout, by hand: one `gv_pt` partition stamped
    // `_as_of` at the log head, no `_cfg`, figures planted WRONG so a
    // refresh that kept the state would be caught.
    MergeUpsert.replaceAll(spark, viewDir,
      expected.withColumn("m", col("m") + 1000L)
        .withColumn("_as_of", lit(1L))
        .withColumn("gv_pt", lit("all")).localCheckpoint(),
      partitionCol = "gv_pt")
    Consumers.register(spark, fDir, MaterializedView.consumerName(viewDir),
      1L, viewDir = Some(viewDir))

    assert(StarJoinView.refresh(spark, fDir, Nil, viewDir, Seq("id"),
      Seq("k1"), Seq("m" -> col("m"))) === Seq(1L))
    val view = spark.read.parquet(viewDir)
    assert(!view.columns.contains("_as_of"))
    assert(cells(view.drop("_as_of_f", "gv_pt")) === cells(expected),
      "the single-slot state must re-seed to the recompute")
    val regs = Consumers.list(spark, fDir)
    assert(!regs.exists(_.name.startsWith("mview-")),
      s"an mview-* registration survived the re-seed: $regs")
    assert(regs.map(r => (r.name, r.position)) ===
      Seq((StarJoinView.consumerName(viewDir, "f"), 1L)))
  }

  test("a one-entry fact span with a moving dim: the span-start fact " +
      "(live rows plus the entry's old images) semi-joined to the " +
      "dim's keys on the fact's partition column refreshes exactly") {
    import spark.implicits._
    val wh = tmpDir("sjv-one-entry")
    val (fDir, dDir, vDir) = (s"$wh/f", s"$wh/d", s"$wh/v")
    val dates = (1 to 5).map(i => java.sql.Date.valueOf(s"2024-01-0$i"))
    val fKeys = Seq("datetime", "webtoon_id", "episode_id")
    val dKeys = Seq("datetime", "webtoon_id")
    // The fact is far larger than one dim entry, as in the gold view:
    // that is when the optimizer plans a pruning filter on the fact's
    // datetime partitions from the dim side.
    def fact(b: Long) = (for (d <- dates; w <- 0 until 10; e <- 0 until 40)
      yield (d, s"w$w", s"e$e",
        (w * 40 + e).toLong + (if (w == 0 && e == 0) b else 0L)))
      .toDF("datetime", "webtoon_id", "episode_id", "sessions")
    def dim(b: Long) = (for (d <- dates; w <- 0 until 10)
      yield (d, s"w$w", w.toLong + (if (w == 1) b else 0L)))
      .toDF("datetime", "webtoon_id", "total_sessions")
    def batch(b: Long): Unit = {
      ChangeLog.recordBatch(spark, fDir, fKeys, b)(
        MergeUpsert.replaceAll(spark, fDir, fact(b)))
      ChangeLog.recordBatch(spark, dDir, dKeys, b)(
        MergeUpsert.replaceAll(spark, dDir, dim(b)))
    }
    def refresh(): Seq[Long] = StarJoinView.refreshPartitioned(spark, fDir,
      Seq(DimSpec(dDir, dKeys, dKeys, Some(Seq("total_sessions")))),
      vDir, fKeys, Seq("datetime"),
      Seq(("ep", col("sessions")), ("fan", col("total_sessions"))),
      partDim = "datetime", joinType = "left",
      fCols = Some(Seq("sessions")))
    batch(1L)
    refresh()
    batch(2L)
    assert(ChangeLog.span(spark, fDir, 1L).single &&
      ChangeLog.span(spark, dDir, 1L).single)
    assert(refresh() === Seq(2L, 2L))
    assert(cells(spark.read.parquet(vDir).drop("_as_of_f", "_as_of_d0")) ===
      cells(spark.read.parquet(fDir)
        .join(spark.read.parquet(dDir), dKeys, "left")
        .groupBy(col("datetime"))
        .agg(sum(col("sessions")).as("ep"),
          sum(coalesce(col("total_sessions"), lit(0L))).as("fan"),
          count(lit(1)).as("n_rows"))))
  }
}
