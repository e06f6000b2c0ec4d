package graft

import graft.runtime.{ChangeLog, Consumers, Incremental,
  MaterializedView, StarJoinView}
import graft.runtime.StarJoinView.DimSpec
import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw pair-file writer for crash simulation (the production writer
  * is private to [[graft.runtime.StarJoinView]] by design). */
object JoinViewSpecHelper {
  def writePair(fs: org.apache.hadoop.fs.FileSystem,
                path: org.apache.hadoop.fs.Path,
                pa: Long, pb: Long): Unit =
    writeVec(fs, path, Seq(pa, pb))

  def writeVec(fs: org.apache.hadoop.fs.FileSystem,
               path: org.apache.hadoop.fs.Path,
               pos: Seq[Long]): Unit = {
    if (fs.exists(path)) fs.delete(path, false)
    val out = fs.create(path, true)
    try out.write(pos.mkString(",").getBytes("UTF-8"))
    finally out.close()
  }
}

/** The PERSISTED two-log join view ([[graft.runtime.StarJoinView]]):
  * positions in BOTH change logs commit atomically with the data (the
  * paired `_as_of` single-partition swap), so every crash window
  * converges; both consumers register (either log's collapse clamps
  * at the view); a collapse behind either log fails LOUD; and a purge
  * of either log invalidates the view into a re-seed. */
class JoinViewSpec extends SparkSpec {

  private val aSchema = StructType(Seq(
    StructField("id", LongType), StructField("jk", LongType),
    StructField("m", LongType)))
  private val bSchema = StructType(Seq(
    StructField("bk", LongType), StructField("jk", LongType),
    StructField("grp", StringType), StructField("w", LongType)))

  private def adf(rows: (Long, Long, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3)), 2), aSchema)
      .withColumn("pt", lit("all"))
  private def bdf(rows: (Long, Long, String, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3, r._4)), 2), bSchema)
      .withColumn("pt", lit("all"))

  private def cells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  private val measures = Seq(("mw", col("m") * col("w")))

  private def refresh(aDir: String, bDir: String,
                      viewDir: String): Seq[Long] =
    StarJoinView.refresh(spark, aDir,
      Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir, Seq("id"),
      Seq("grp"), measures)

  private def recomputeNow(aDir: String, bDir: String): DataFrame =
    spark.read.parquet(aDir).join(spark.read.parquet(bDir), Seq("jk"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("m") * col("w")).as("mw"))
      .select(col("grp"), col("mw"), col("n_rows"))

  private def viewNow(viewDir: String): DataFrame =
    spark.read.parquet(viewDir).drop("_as_of_f", "_as_of_d0", "gv_pt")

  private def assertConverged(viewDir: String, aDir: String,
                              bDir: String, what: String): Unit =
    assert(cells(viewNow(viewDir)) === cells(recomputeNow(aDir, bDir)),
      s"$what diverged from the recompute")

  /** a0/b0 written unlogged; returns (aDir, bDir, viewDir). */
  private def seeded(tag: String): (String, String, String) = {
    val base = tmpDir(tag)
    val aDir = s"$base/a"; val bDir = s"$base/b"
    val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, aDir,
      adf((1L, 10L, 2L), (2L, 10L, 3L), (3L, 20L, 5L), (4L, 30L, 7L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, bDir,
      bdf((100L, 10L, "g1", 10L), (101L, 20L, "g1", 20L),
        (102L, 30L, "g2", 30L)), partitionCol = "pt")
    assert(refresh(aDir, bDir, viewDir) === Seq(-1L, -1L),
      "seed must stamp the pre-history pair")
    assertConverged(viewDir, aDir, bDir, "seed")
    (aDir, bDir, viewDir)
  }

  private def publishA(aDir: String, id: Long,
                       rows: (Long, Long, Long)*): Unit =
    ChangeLog.recordBatch(spark, aDir, Seq("id"), id)(
      MergeUpsert.replaceAll(spark, aDir, adf(rows: _*),
        partitionCol = "pt"))
  private def publishB(bDir: String, id: Long,
                       rows: (Long, Long, String, Long)*): Unit =
    ChangeLog.recordBatch(spark, bDir, Seq("bk"), id)(
      MergeUpsert.replaceAll(spark, bDir, bdf(rows: _*),
        partitionCol = "pt"))

  test("the persisted loop converges across an interleaved history " +
      "where BOTH sides move, registers in both registries, and a " +
      "no-op refresh advances nothing") {
    val (aDir, bDir, viewDir) = seeded("jv-conv")

    // Span 1: A only (delete id2, add id5, m change on id1).
    publishA(aDir, 1L, (1L, 10L, 4L), (3L, 20L, 5L), (4L, 30L, 7L),
      (5L, 10L, 11L))
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, -1L))
    assertConverged(viewDir, aDir, bDir, "A-only span")

    // Span 2: BOTH sides in one refresh — A join-key move (id3 jk
    // 20→30) AND B group move + w change + dim add; the A₀ branch
    // reconstructs A@1 via snapshotAt and probes only ΔB's keys.
    publishB(bDir, 1L, (100L, 10L, "g1", 12L), (101L, 20L, "g2", 20L),
      (102L, 30L, "g2", 30L), (103L, 40L, "g3", 40L))
    publishA(aDir, 2L, (1L, 10L, 4L), (3L, 30L, 5L), (4L, 30L, 7L),
      (5L, 10L, 11L))
    assert(refresh(aDir, bDir, viewDir) === Seq(2L, 1L))
    assertConverged(viewDir, aDir, bDir, "both-sides span")

    // Span 3: B only, with a ROW REMOVAL (bk 102 — every jk-30 fact
    // loses its match and leaves the view through the join).
    publishB(bDir, 2L, (100L, 10L, "g1", 12L), (101L, 20L, "g2", 20L),
      (103L, 40L, "g3", 40L))
    assert(refresh(aDir, bDir, viewDir) === Seq(2L, 2L))
    assertConverged(viewDir, aDir, bDir, "B-only removal span")

    // Registered in BOTH registries, at the committed pair.
    val ra = Consumers.list(spark, aDir)
    val rb = Consumers.list(spark, bDir)
    assert(ra.map(_.name) ===
      Seq(StarJoinView.consumerName(viewDir, "f")))
    assert(rb.map(_.name) ===
      Seq(StarJoinView.consumerName(viewDir, "d0")))
    assert(ra.head.position === 2L && rb.head.position === 2L)
    assert(ra.head.viewDir.contains(viewDir) &&
      rb.head.viewDir.contains(viewDir))

    // No-op refresh: same pair, same cells.
    val before = cells(viewNow(viewDir))
    assert(refresh(aDir, bDir, viewDir) === Seq(2L, 2L))
    assert(cells(viewNow(viewDir)) === before)
  }

  test("crash windows converge: a mid-swap crash heals via the " +
      "recovery sweep, and registry lag (crash before registering) " +
      "is conservative — the fold stops early, the refresh is exact") {
    val (aDir, bDir, viewDir) = seeded("jv-crash")
    publishA(aDir, 1L, (1L, 10L, 4L), (3L, 20L, 5L), (4L, 30L, 7L))
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, -1L))

    // Mid-swap crash: the view's single partition sits in a backup,
    // the live name missing (death between the two renames). The next
    // refresh's state read runs the shared recovery sweep first.
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val uuid = java.util.UUID.randomUUID().toString
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$viewDir/gv_pt=all"),
      new org.apache.hadoop.fs.Path(
        s"$viewDir/.backup-$uuid--gv_pt=all")))
    publishB(bDir, 1L, (100L, 10L, "g1", 15L), (101L, 20L, "g1", 20L),
      (102L, 30L, "g2", 30L))
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, 1L),
      "the healed view must refresh from its restored pair")
    assertConverged(viewDir, aDir, bDir, "after mid-swap heal")

    // Crash between the data commit and the registrations: the
    // registries lag BELOW the committed pair. That is conservative —
    // a collapse clamps early (folds less than it could), never past
    // what the view needs — and the next refresh re-registers.
    Consumers.register(spark, aDir,
      StarJoinView.consumerName(viewDir, "f"),
      0L, viewDir = Some(viewDir))
    assert(!ChangeLog.checkpoint(spark, aDir, Seq("id"), 1L),
      "the lagging registration must clamp the fold early")
    assert(Incremental.batches(spark, ChangeLog.logDir(aDir))
      === Seq(1L), "no entry the view might need may fold")
    publishA(aDir, 2L, (1L, 10L, 4L), (4L, 30L, 7L))
    assert(refresh(aDir, bDir, viewDir) === Seq(2L, 1L))
    assertConverged(viewDir, aDir, bDir, "after registry-lag refresh")
    assert(Consumers.list(spark, aDir).head.position === 2L,
      "the refresh must re-register the committed position")
  }

  private def refreshPart(aDir: String, bDir: String,
                          viewDir: String): Seq[Long] =
    StarJoinView.refreshPartitioned(spark, aDir,
      Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir, Seq("id"),
      Seq("grp"), measures, partDim = "grp")

  test("partitioned form: only touched partitions rewrite; straggler " +
      "partitions top up from their OWN pair; a crashed seed recovers " +
      "its pair; a rewound pair file never double-applies") {
    val (aDir, bDir, _) = seeded("jv-part")
    val base = new java.io.File(aDir).getParent
    val viewDir = s"$base/vp"
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    assert(refreshPart(aDir, bDir, viewDir) === Seq(-1L, -1L))
    assertConverged(viewDir, aDir, bDir, "partitioned seed")
    assert(fs.exists(p(s"$viewDir/grp=g1")) &&
      fs.exists(p(s"$viewDir/grp=g2")))

    // Crashed-seed window: data present, pair file not — the refresh
    // recovers the pair from the per-row stamps, then proceeds.
    fs.delete(p(viewDir + "_pos"), false)
    publishA(aDir, 1L, (1L, 10L, 4L), (2L, 10L, 3L), (3L, 20L, 5L),
      (4L, 30L, 7L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(1L, -1L),
      "recovered pair must refresh, not re-seed")
    assertConverged(viewDir, aDir, bDir, "after crashed-seed recovery")

    // The id-1 m change touches only jk=10 → g1: g2 must not rewrite.
    val mt0 = fs.getFileStatus(p(s"$viewDir/grp=g2")).getModificationTime
    Thread.sleep(1100)
    publishA(aDir, 2L, (1L, 10L, 9L), (2L, 10L, 3L), (3L, 20L, 5L),
      (4L, 30L, 7L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(2L, -1L))
    assertConverged(viewDir, aDir, bDir, "A-only g1 span")
    assert(fs.getFileStatus(p(s"$viewDir/grp=g2")).getModificationTime
      === mt0, "an untouched partition must not rewrite")

    // Mid-swap crash: snapshot g1 + the pair file, run a BOTH-sides
    // refresh (touches g1 AND g2), then restore g1 and the file — the
    // exact crash state: g2 at the new pair, g1 a straggler at the
    // old, file old. The next refresh must top g2 up by an EMPTY span
    // (skip) and g1 from its own pair — never double-applying g2.
    val saveDir = p(s"$base/save-g1")
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$viewDir/grp=g1"),
      fs, saveDir, false, conf)
    val savePos = p(s"$base/save-pos")
    org.apache.hadoop.fs.FileUtil.copy(fs, p(viewDir + "_pos"),
      fs, savePos, false, conf)
    publishB(bDir, 1L, (100L, 10L, "g1", 11L), (101L, 20L, "g2", 20L),
      (102L, 30L, "g2", 30L))
    publishA(aDir, 3L, (1L, 10L, 9L), (2L, 10L, 3L), (4L, 30L, 7L),
      (6L, 20L, 13L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(3L, 1L))
    fs.delete(p(s"$viewDir/grp=g1"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, saveDir,
      fs, p(s"$viewDir/grp=g1"), false, conf)
    fs.delete(p(viewDir + "_pos"), false)
    org.apache.hadoop.fs.FileUtil.copy(fs, savePos,
      fs, p(viewDir + "_pos"), false, conf)
    // Before healing, ANOTHER A span lands (id4 m change → g2): the
    // next refresh must group the stragglers by pair — g1 tops up
    // from the committed (2,-1) via the shared span delta, g2 from
    // ITS OWN (3,1) via a recomputed one — and neither double-applies.
    publishA(aDir, 4L, (1L, 10L, 9L), (2L, 10L, 3L), (4L, 30L, 8L),
      (6L, 20L, 13L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(4L, 1L))
    assertConverged(viewDir, aDir, bDir, "after mixed-pair top-up")

    // All-swapped-file-not window: rewind ONLY the pair file — every
    // partition is at the head, every top-up span is empty, nothing
    // double-applies, and the file recommits.
    val healthy = cells(viewNow(viewDir))
    JoinViewSpecHelper.writePair(fs, p(viewDir + "_pos"), 3L, 1L)
    assert(refreshPart(aDir, bDir, viewDir) === Seq(4L, 1L))
    assert(cells(viewNow(viewDir)) === healthy,
      "a rewound pair file must not double-apply")

    // Registered in both registries at the committed pair.
    assert(Consumers.list(spark, aDir).exists(r =>
      r.name === StarJoinView.consumerName(viewDir, "f") &&
        r.position === 4L))
    assert(Consumers.list(spark, bDir).exists(r =>
      r.name === StarJoinView.consumerName(viewDir, "d0") &&
        r.position === 1L))
  }

  test("partitioned form: a crashed swap whose sub-span nets away " +
      "over the committed span heals via the swap-intent marker's " +
      "ahead-stamp repair scan") {
    val (aDir, bDir, _) = seeded("jv-netaway")
    val base = new java.io.File(aDir).getParent
    val viewDir = s"$base/vn"
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    assert(refreshPart(aDir, bDir, viewDir) === Seq(-1L, -1L))

    // Batch 1 adds id 6 on jk 20 (→ g1); the refresh swaps ONLY g1
    // (stamped (1,-1)) and commits the pair file. Simulate the crash
    // between swap and commit: rewind the file, restore the marker.
    publishA(aDir, 1L, (1L, 10L, 2L), (2L, 10L, 3L), (3L, 20L, 5L),
      (4L, 30L, 7L), (6L, 20L, 13L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(1L, -1L))
    JoinViewSpecHelper.writePair(fs, p(viewDir + "_pos"), -1L, -1L)
    fs.create(p(viewDir + "_swapping"), true).close()

    // Batch 2 REVERTS batch 1: the committed span's delta nets id 6
    // away and names NO partition — yet g1 still carries its joined
    // contribution and owes the complement. The marker-gated scan
    // finds g1 stamped past the committed pair and tops it up from
    // its own (1,-1).
    publishA(aDir, 2L, (1L, 10L, 2L), (2L, 10L, 3L), (3L, 20L, 5L),
      (4L, 30L, 7L))
    assert(refreshPart(aDir, bDir, viewDir) === Seq(2L, -1L))
    assertConverged(viewDir, aDir, bDir,
      "netted-away crashed swap (pair form)")
    assert(!fs.exists(p(viewDir + "_swapping")),
      "the marker must clear once the pair file commits")

    // A LEFTOVER marker (crash after the pair commit but before the
    // marker delete) must clear on the nothing-new fast path too —
    // otherwise every later data-bearing refresh pays the full-view
    // repair scan until one completes the full path.
    fs.create(p(viewDir + "_swapping"), true).close()
    assert(refreshPart(aDir, bDir, viewDir) === Seq(2L, -1L))
    assert(!fs.exists(p(viewDir + "_swapping")),
      "the nothing-new early return must clear a leftover marker")
  }

  test("pointer registrations: both registries resolve the SAME pair " +
      "from the ONE atomic pair file — one rename advances both; a " +
      "missing file resolves conservatively at -1 on BOTH sides") {
    val (aDir, bDir, viewDir) = seeded("jv-pointer")
    publishA(aDir, 1L, (1L, 10L, 4L), (3L, 20L, 5L), (4L, 30L, 7L))
    publishB(bDir, 1L, (100L, 10L, "g1", 15L), (101L, 20L, "g1", 20L),
      (102L, 30L, "g2", 30L))
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, 1L))
    def posOf(dir: String): Long = Consumers.list(spark, dir)
      .find(_.name.startsWith("sjview-")).get.position
    assert(posOf(aDir) === 1L && posOf(bDir) === 1L)
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // One rename moves BOTH registries: rewrite the pair file out of
    // band and both sides' resolved positions follow, in lockstep —
    // a disagreeing pair is unrepresentable.
    JoinViewSpecHelper.writePair(fs, p(viewDir + "_pos"), 0L, 1L)
    assert(posOf(aDir) === 0L && posOf(bDir) === 1L,
      "resolution must read the pair file's components")
    // Missing file (pre-first-commit / crash-before-position-commit):
    // both sides resolve -1 — every fold clamps, conservative.
    fs.delete(p(viewDir + "_pos"), false)
    assert(posOf(aDir) === -1L && posOf(bDir) === -1L,
      "a missing pair file must clamp both sides at -1")
    // The nothing-new serve heals the file and both sides recover.
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, 1L))
    assert(posOf(aDir) === 1L && posOf(bDir) === 1L,
      "the nothing-new path must heal the resolution target")
  }

  test("config signature guards the state's MEANING: a joinType flip " +
      "or a layout change drops and re-seeds instead of silently " +
      "maintaining foreign state; same definition never re-seeds") {
    val (aDir, bDir, viewDir) = seeded("jv-cfg")
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.exists(p(viewDir + "_cfg")),
      "the seed must commit the view's config signature")
    // Same definition: a data-bearing refresh keeps the state (the
    // view advances incrementally, no re-seed).
    publishA(aDir, 1L, (1L, 10L, 4L), (3L, 20L, 5L), (4L, 30L, 7L))
    assert(refresh(aDir, bDir, viewDir) === Seq(1L, -1L))
    assertConverged(viewDir, aDir, bDir, "same-config refresh")
    // joinType flip: the inner-seeded state means something else under
    // left maintenance — it must drop and re-seed, and converge to the
    // LEFT recompute.
    StarJoinView.refresh(spark, aDir,
      Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir, Seq("id"),
      Seq("grp"), measures, joinType = "left")
    val leftExpected = spark.read.parquet(aDir)
      .join(spark.read.parquet(bDir).drop("pt"), Seq("jk"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("m") * col("w"), lit(0L))).as("mw"))
      .select(col("grp"), col("mw"), col("n_rows"))
    assert(cells(viewNow(viewDir)) === cells(leftExpected),
      "the flipped view must re-seed under LEFT semantics")
    // Layout change: the same definition moved from the single-slot
    // gv_pt layout to a hive-partitioned one must also re-seed (a
    // mixed-layout discovery otherwise fails or double-counts).
    StarJoinView.refreshPartitioned(spark, aDir,
      Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir, Seq("id"),
      Seq("grp"), measures, partDim = "grp", joinType = "left")
    assert(fs.exists(p(s"$viewDir/grp=g1")),
      "the re-seeded view must carry the partitioned layout")
    assert(cells(spark.read.parquet(viewDir)
        .drop("_as_of_f", "_as_of_d0")) === cells(leftExpected),
      "the re-laid-out view must converge to the same answer")
  }

  test("a collapse behind EITHER log fails loud; invalidation (either " +
      "log's purge) re-seeds from the purged bases") {
    val (aDir, bDir, viewDir) = seeded("jv-collapse")
    publishA(aDir, 1L, (1L, 10L, 4L), (3L, 20L, 5L), (4L, 30L, 7L))
    publishA(aDir, 2L, (1L, 10L, 6L), (3L, 20L, 5L), (4L, 30L, 7L))
    publishB(bDir, 1L, (100L, 10L, "g1", 15L), (101L, 20L, "g1", 20L),
      (102L, 30L, "g2", 30L))
    assert(refresh(aDir, bDir, viewDir) === Seq(2L, 1L))

    // Simulate operational loss: retire the A-side registration, fold
    // A's log past the view, then hand the view an OLDER A position
    // (as a restored-from-backup view would carry). The refresh must
    // fail LOUD — the entries it owes were folded.
    publishA(aDir, 3L, (1L, 10L, 8L), (3L, 20L, 5L), (4L, 30L, 7L))
    Consumers.unregister(spark, aDir,
      StarJoinView.consumerName(viewDir, "f"))
    assert(ChangeLog.checkpoint(spark, aDir, Seq("id"), 3L))
    val stale = viewNow(viewDir)
      .withColumn("_as_of_f", lit(1L)).withColumn("_as_of_d0", lit(1L))
      .withColumn("gv_pt", lit("all")).localCheckpoint()
    MergeUpsert.replaceAll(spark, viewDir, stale, partitionCol = "gv_pt")
    val boom = intercept[IllegalArgumentException] {
      refresh(aDir, bDir, viewDir)
    }
    assert(boom.getMessage.contains("collapse boundary"),
      s"behind-boundary refresh must fail loud: ${boom.getMessage}")

    // The purge path: EITHER log's compliance sweep invalidates the
    // view (both registrations carry viewDir); the next refresh
    // discards state and re-seeds from the current bases.
    Consumers.register(spark, bDir,
      StarJoinView.consumerName(viewDir, "d0"),
      1L, viewDir = Some(viewDir))
    Consumers.invalidateAll(spark, bDir)
    assert(MaterializedView.isInvalid(spark, viewDir))
    assert(refresh(aDir, bDir, viewDir) === Seq(3L, 1L),
      "the re-seed must stamp the current heads")
    assert(!MaterializedView.isInvalid(spark, viewDir))
    assertConverged(viewDir, aDir, bDir, "re-seeded view")
  }
}
