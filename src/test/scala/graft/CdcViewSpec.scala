package graft

import graft.ops.{CdcStarView, CdcView}
import graft.runtime.{ChangeLog, StarJoinView}
import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Log-driven incremental view maintenance ([[graft.ops.CdcView]]):
  * a distributive group-by view kept current by applying change-log
  * contribution deltas must equal the from-scratch recompute — across
  * adds, removes, measure changes, a key MOVING between groups, a
  * group vanishing entirely (count → 0), a NULL group, and a
  * changed-then-reverted measure (which must telescope to zero in the
  * net path). Both application orders are pinned: per-batch
  * sequential, and the whole span's netDiff in one shot. */
class CdcViewSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("m", LongType),
    StructField("grp", StringType)))

  private def df(rows: (Long, Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 2), schema)

  private def project(d: DataFrame): DataFrame =
    d.select(col("grp"), col("m"))

  private val measures = Seq("m" -> col("m"))

  private def recompute(d: DataFrame): DataFrame =
    project(d).groupBy(col("grp"))
      .agg(sum(col("m")).as("m"), count(lit(1)).as("n_rows"))

  private def cells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  test("log-applied view == recompute across moves, vanishes, nulls " +
      "and reverts — sequentially per batch AND as one net span") {
    val dir = tmpDir("cdcview") + "/t"
    // Partition by a CONSTANT: the view dims (grp) change mid-history,
    // and a hive-partitioned column can't carry nulls cleanly.
    val state0 =
      df((1L, 10L, "g1"), (2L, 20L, "g2"), (5L, 50L, "g1"))
        .withColumn("pt", lit("all"))
    def land(rows: (Long, Long, String)*): DataFrame =
      df(rows: _*).withColumn("pt", lit("all"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "pt")
    val s1 = land((1L, 11L, "g1"), (2L, 20L, "g2"), (3L, 30L, "g2"),
      (5L, 50L, "g1"))
    val s2 = land((1L, 11L, "g1"), (3L, 35L, "g2"), (5L, 50L, "g3"))
    val s3 = land((1L, 11L, "g1"), (3L, 30L, "g2"), (6L, 60L, "g2"),
      (7L, 70L, null))
    val states = Seq(s1, s2, s3)
    states.zipWithIndex.foreach { case (st, i) =>
      ChangeLog.recordBatch(spark, dir, Seq("id"), i + 1L)(
        MergeUpsert.replaceAll(spark, dir, st, partitionCol = "pt"))
    }
    val log = ChangeLog.readLog(spark, dir).get
    val view0 = recompute(state0).localCheckpoint()
    val expected = recompute(s3)

    // One-shot: the whole span's net delta applied once.
    val oneShot = CdcView.applyDelta(view0,
      CdcStarView.starGroupDelta(Some(ChangeLog.netDiff(log, Seq("id"))),
        Seq("id"), () => state0, Nil, Seq("grp"), measures),
      Seq("grp"), Seq("m"))
    assert(cells(oneShot) === cells(expected), "one-shot net apply")

    // Sequential: each batch's entries applied in order (a batch's
    // entry set is already one-row-per-key, so it IS a valid net).
    val sequential = (1 to 3).foldLeft(view0) { (v, i) =>
      CdcView.applyDelta(v,
        CdcStarView.starGroupDelta(
          Some(log.filter(col("batch_id") === i)), Seq("id"),
          () => (state0 +: states)(i - 1), Nil, Seq("grp"), measures),
        Seq("grp"), Seq("m")).localCheckpoint()
    }
    assert(cells(sequential) === cells(expected), "sequential apply")

    // The vanished group really left the view; the null group is in.
    assert(oneShot.filter(col("grp") === "g3").isEmpty,
      "group with zero surviving rows must leave the view")
    assert(oneShot.filter(col("grp").isNull).count() === 1L)

    // And the maintained numbers are the recompute's, spot-checked:
    // g2 = id3 (reverted to 30) + id6 (60).
    val g2 = oneShot.filter(col("grp") === "g2").head()
    assert(g2.getAs[Long]("m") === 90L && g2.getAs[Long]("n_rows") === 2L)
  }

  test("persisted materialized view: seed once, refresh from the log " +
      "with an atomically-committed position, loud past a collapse") {
    val root = tmpDir("mview")
    val dir = s"$root/t"
    def land(rows: (Long, Long, String)*): DataFrame =
      df(rows: _*).withColumn("pt", lit("all"))
    def viewOf(viewDir: String): DataFrame =
      spark.read.parquet(viewDir).drop("_as_of_f", "gv_pt")
    def doRefresh(viewDir: String): Long =
      StarJoinView.refresh(spark, dir, Nil, viewDir, Seq("id"),
        Seq("grp"), measures).head

    MergeUpsert.replaceAll(spark, dir,
      land((1L, 10L, "g1"), (2L, 20L, "g2")), partitionCol = "pt")
    val s1 = land((1L, 11L, "g1"), (2L, 20L, "g2"), (3L, 30L, "g2"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, s1, partitionCol = "pt"))

    // Two views seeded at position 1 (behind/laggard consumers).
    assert(doRefresh(s"$root/v2") === 1L)
    assert(doRefresh(s"$root/v3") === 1L)
    assert(cells(viewOf(s"$root/v2")) === cells(recompute(s1)))

    val s2 = land((1L, 11L, "g1"), (3L, 35L, "g3"))
    val s3 = land((1L, 12L, "g1"), (3L, 35L, "g3"), (4L, 40L, "g2"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
      MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "pt"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 3L)(
      MergeUpsert.replaceAll(spark, dir, s3, partitionCol = "pt"))

    // A fresh seed lands at the head; the laggard catches up from the
    // log alone; both equal the recompute.
    assert(doRefresh(s"$root/v1") === 3L)
    assert(doRefresh(s"$root/v2") === 3L)
    assert(cells(viewOf(s"$root/v1")) === cells(recompute(s3)))
    assert(cells(viewOf(s"$root/v2")) === cells(recompute(s3)))

    // Exactly-once: a re-run with no new entries changes nothing (an
    // IVM delta is not idempotent, so this is the position doing its
    // job, not luck).
    assert(doRefresh(s"$root/v2") === 3L)
    assert(cells(viewOf(s"$root/v2")) === cells(recompute(s3)))
    assert(StarJoinView.positions(spark, s"$root/v2", 0).map(_.head)
      .contains(3L))

    // Every refresh REGISTERED its view, so "collapse past a laggard"
    // is no longer possible at all: v3 (position 1) clamps the fold.
    assert(!ChangeLog.checkpoint(spark, dir, Seq("id"), 3L),
      "the registry must block the fold at the laggard's position")
    assert(ChangeLog.readSince(spark, dir, Some(1L)).get.count() > 0L,
      "the laggard's entries must still be served")
    // Retiring the laggard is now an EXPLICIT act (unregister) — only
    // then does the fold proceed, and the abandoned view's refresh
    // fails loud rather than silently double-applying.
    graft.runtime.Consumers.unregister(spark, dir,
      StarJoinView.consumerName(s"$root/v3", "f"))
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 3L))
    assert(doRefresh(s"$root/v2") === 3L) // at the boundary: fine
    intercept[IllegalArgumentException] { doRefresh(s"$root/v3") }
  }

  test("refreshByRecompute: the non-distributive (min/max) persisted " +
      "view == recompute across extreme removals, moves and null " +
      "groups; untouched groups are never in the recompute scope; " +
      "a re-run is a position no-op") {
    import graft.runtime.MaterializedView
    val root = tmpDir("mmview")
    val dir = s"$root/t"
    val viewDir = s"$root/v"
    def land(rows: (Long, Long, String)*): DataFrame =
      df(rows: _*).withColumn("pt", lit("all"))
    def minmaxAgg(p: DataFrame): DataFrame =
      p.groupBy(col("grp"))
        .agg(min(col("m")).as("min_m"), max(col("m")).as("max_m"),
          count(lit(1)).as("n_rows"))
    def minmaxRecompute(d: DataFrame): DataFrame = minmaxAgg(project(d))
    def doRefresh(): Long =
      MaterializedView.refreshByRecompute(spark, dir, viewDir,
        Seq("id"), project, Seq("grp"), minmaxAgg,
        pruneDim = Some("grp"))
    def viewNow: DataFrame =
      spark.read.parquet(viewDir).drop("_as_of", "gv_pt")

    // g9 is NEVER touched by any batch — it must carry over without
    // entering the recompute scope.
    val state0 = land((1L, 10L, "g1"), (5L, 50L, "g1"), (2L, 20L, "g2"),
      (9L, 90L, "g9"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "pt")
    assert(doRefresh() === -1L, "seed stamps the pre-history position")
    assert(cells(viewNow) === cells(minmaxRecompute(state0)))

    // s1 REMOVES g1's max (id5, m=50) — the runner-up (10) must
    // resurface, which no signed fold can do. s2 moves id3 to g3 and
    // adds a NULL group (exercising the null-safe scope paths). s3
    // rewrites g1's remaining row to a new minimum.
    val s1 = land((1L, 10L, "g1"), (2L, 20L, "g2"), (3L, 30L, "g2"),
      (9L, 90L, "g9"))
    val s2 = land((1L, 10L, "g1"), (2L, 20L, "g2"), (3L, 35L, "g3"),
      (7L, 70L, null), (9L, 90L, "g9"))
    val s3 = land((1L, 5L, "g1"), (2L, 20L, "g2"), (3L, 35L, "g3"),
      (7L, 70L, null), (8L, 80L, null), (9L, 90L, "g9"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, s1, partitionCol = "pt"))

    // s1 REMOVED g1's max (id5, m=50): after the refresh the
    // runner-up (10) must be the max — the resurfacing no signed fold
    // can produce, and the reason this view refreshes by recompute.
    assert(doRefresh() === 1L)
    assert(cells(viewNow) === cells(minmaxRecompute(s1)))
    val g1AfterDrop = viewNow.filter(col("grp") === "g1").head()
    assert(g1AfterDrop.getAs[Long]("max_m") === 10L,
      "removed extreme must resurface the runner-up")

    Seq(s2 -> 2L, s3 -> 3L).foreach { case (st, i) =>
      ChangeLog.recordBatch(spark, dir, Seq("id"), i)(
        MergeUpsert.replaceAll(spark, dir, st, partitionCol = "pt"))
    }
    assert(doRefresh() === 3L)
    assert(cells(viewNow) === cells(minmaxRecompute(s3)),
      "recompute-refreshed min/max view diverged from the recompute")
    // The null group is a real group.
    assert(viewNow.filter(col("grp").isNull).count() === 1L)

    // Scale pin: the span's touched-group scope excludes g9 — the
    // untouched group's rows were never re-read, they carried over.
    val touched = CdcView.touchedGroups(
      ChangeLog.netDiff(ChangeLog.readLog(spark, dir).get, Seq("id")),
      Seq("id"), project, Seq("grp"))
      .collect().map(_.getString(0)).toSet
    assert(!touched.contains("g9"), s"untouched group in scope: $touched")
    assert(touched.contains(null) && touched.contains("g1"))

    // Idempotent + position-guarded: a re-run with no new entries
    // changes nothing and keeps the position.
    assert(doRefresh() === 3L)
    assert(cells(viewNow) === cells(minmaxRecompute(s3)))
    assert(MaterializedView.asOf(spark, viewDir).contains(3L))
  }
}
