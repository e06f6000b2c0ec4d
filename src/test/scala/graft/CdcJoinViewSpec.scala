package graft

import graft.ops.{CdcStarView, CdcView}
import graft.ops.CdcStarView.Side
import graft.runtime.ChangeLog
import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join-view IVM ([[graft.ops.CdcStarView]] with one dim): a two-table join
  * aggregate maintained purely from the two change logs must equal
  * the from-scratch recompute — across adds/changes/deletes and a
  * JOIN-KEY move on the fact side, and a value change, group move,
  * delete and add on the dimension side (each dimension change
  * fanning out to many view rows through the join). Both application
  * orders are pinned: one shot over both spans, and side-at-a-time;
  * and the A₀ branch works semi-restricted to ΔB's join keys (the
  * scale form). */
class CdcJoinViewSpec extends SparkSpec {

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

  private val dims = Seq("grp")
  private val measures = Seq(
    ("mw", col("m") * col("w")), ("m_sum", col("m")))

  private def recompute(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("jk"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("m") * col("w")).as("mw"),
        sum(col("m")).as("m_sum"))
      .select(col("grp"), col("mw"), col("m_sum"), col("n_rows"))

  test("one-shot AND side-at-a-time log-driven join deltas == the " +
      "recompute, including fan-out dimension changes and a fact " +
      "join-key move; the A0 branch works ΔB-key-restricted") {
    val base = tmpDir("cjv")
    val aDir = s"$base/a"
    val bDir = s"$base/b"

    val a0 = Seq((1L, 10L, 2L), (2L, 10L, 3L), (3L, 20L, 5L),
      (4L, 30L, 7L))
    val b0 = Seq((100L, 10L, "g1", 10L), (101L, 20L, "g1", 20L),
      (102L, 30L, "g2", 30L))
    MergeUpsert.replaceAll(spark, aDir, adf(a0: _*), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, bDir, bdf(b0: _*), partitionCol = "pt")

    // A history: m change, delete, add, and a JOIN-KEY move (id 3
    // leaves jk 20 for jk 30 — its contribution must transfer groups).
    val a1 = Seq((1L, 10L, 2L), (3L, 20L, 5L), (4L, 30L, 7L),
      (5L, 10L, 11L)) // id2 deleted, id5 added
    val a2 = Seq((1L, 10L, 4L), (3L, 30L, 5L), (4L, 30L, 7L),
      (5L, 10L, 11L)) // id1 m change, id3 jk move
    Seq(a1, a2).zipWithIndex.foreach { case (st, i) =>
      ChangeLog.recordBatch(spark, aDir, Seq("id"), i + 1L)(
        MergeUpsert.replaceAll(spark, aDir, adf(st: _*),
          partitionCol = "pt"))
    }
    // B history: w change (fans out to every jk-10 fact), group move
    // (jk 20 g1→g2), delete (bk 102 — jk 30 facts lose their match),
    // and an add (jk 40, matching nothing yet).
    val b1 = Seq((100L, 10L, "g1", 12L), (101L, 20L, "g2", 20L),
      (103L, 40L, "g3", 40L))
    ChangeLog.recordBatch(spark, bDir, Seq("bk"), 1L)(
      MergeUpsert.replaceAll(spark, bDir, bdf(b1: _*),
        partitionCol = "pt"))

    val aCur = spark.read.parquet(aDir)
    val bCur = spark.read.parquet(bDir)
    val aNet = ChangeLog.netDiff(
      ChangeLog.readSince(spark, aDir, Some(0L)).get, Seq("id"))
    val bNet = ChangeLog.netDiff(
      ChangeLog.readSince(spark, bDir, Some(0L)).get, Seq("bk"))
    val a0Snap = ChangeLog.snapshotAt(spark, aDir, Seq("id"), 0L)
    val view0 = recompute(adf(a0: _*), bdf(b0: _*)).localCheckpoint()
    val expected = recompute(aCur, bCur)

    // One shot over both spans.
    val oneShot = CdcView.applyDelta(view0,
      CdcStarView.starGroupDelta(Some(aNet), Seq("id"), () => a0Snap,
        Seq(Side(Seq("bk"), Seq("jk"), bCur, Some(bNet),
          () => bdf(b0: _*))), dims, measures),
      dims, measures.map(_._1))
    assert(cells(oneShot) === cells(expected), "one-shot join delta")

    // Side at a time: A's span against B0, then B's span against A1.
    val emptyA = aNet.filter(lit(false))
    val emptyB = bNet.filter(lit(false))
    val afterA = CdcView.applyDelta(view0,
      CdcStarView.starGroupDelta(Some(aNet), Seq("id"), () => a0Snap,
        Seq(Side(Seq("bk"), Seq("jk"), bdf(b0: _*), Some(emptyB),
          () => bdf(b0: _*))), dims, measures),
      dims, measures.map(_._1))
    assert(cells(afterA) === cells(recompute(aCur, bdf(b0: _*))),
      "A-only step")
    val afterBoth = CdcView.applyDelta(afterA.localCheckpoint(),
      CdcStarView.starGroupDelta(Some(emptyA), Seq("id"), () => aCur,
        Seq(Side(Seq("bk"), Seq("jk"), bCur, Some(bNet),
          () => bdf(b0: _*))), dims, measures),
      dims, measures.map(_._1))
    assert(cells(afterBoth) === cells(expected), "B step after A step")

    // The scale form: A0 semi-restricted to ΔB's join keys is exact.
    val bKeysTouched = bNet.select(col("o_jk").as("jk"))
      .unionByName(bNet.select(col("n_jk").as("jk")))
      .filter(col("jk").isNotNull).distinct()
    val restricted = CdcView.applyDelta(view0,
      CdcStarView.starGroupDelta(Some(aNet), Seq("id"),
        () => a0Snap.join(bKeysTouched, Seq("jk"), "left_semi"),
        Seq(Side(Seq("bk"), Seq("jk"), bCur, Some(bNet),
          () => bdf(b0: _*))), dims, measures),
      dims, measures.map(_._1))
    assert(cells(restricted) === cells(expected),
      "ΔB-key-restricted A0 must stay exact")

    // Float measures stay refused at the join-view door too.
    val e = intercept[IllegalArgumentException](
      CdcStarView.starGroupDelta(Some(aNet), Seq("id"), () => a0Snap,
        Seq(Side(Seq("bk"), Seq("jk"), bCur, Some(bNet),
          () => bdf(b0: _*))), dims,
        Seq(("bad", col("m") * lit(0.5)))))
    assert(e.getMessage.contains("SIGNED"))
  }
}
