package graft

import graft.runtime.{ChangeLog, StarJoinView}
import graft.runtime.StarJoinView.DimSpec
import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LEFT OUTER join-view IVM ([[graft.runtime.StarJoinView]] with
  * `joinType = "left"`, [[graft.ops.CdcStarView.leftStarGroupDelta]]):
  * the count-augmented outer delta. The pinned behaviors:
  *
  *  - unmatched A rows contribute ONE null-extended row each (their
  *    group survives with B-measure 0 — the stated NULL-as-0
  *    contract, `COALESCE(SUM(e), 0)` in oracle terms);
  *  - a ΔB creating a key's FIRST match retracts those null-extended
  *    contributions and lands the joined ones — including multi-match
  *    (0→2) fan-out;
  *  - a ΔB removing a key's LAST match does the reverse;
  *  - the inner-machinery crash windows carry over unchanged (the
  *    pair commit is joinType-agnostic).
  */
class LeftJoinViewSpec extends SparkSpec {

  private val aSchema = StructType(Seq(
    StructField("id", LongType), StructField("jk", LongType),
    StructField("adim", StringType), StructField("m", LongType)))
  private val bSchema = StructType(Seq(
    StructField("bk", LongType), StructField("jk", LongType),
    StructField("grp", StringType), StructField("w", LongType)))

  private def adf(rows: (Long, Long, String, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3, r._4)), 2), aSchema)
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

  // One B-dependent measure (null for unmatched rows — must fold to
  // 0) and one A-only measure (never null — unmatched groups still
  // accumulate it).
  private val measures = Seq(
    ("mw", col("m") * col("w")), ("ma", col("m")))

  private def refresh(aDir: String, bDir: String, viewDir: String,
                      dims: Seq[String]): Seq[Long] =
    StarJoinView.refresh(spark, aDir,
      Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir, Seq("id"),
      dims, measures, joinType = "left")

  private def recomputeNow(aDir: String, bDir: String,
                           dims: Seq[String]): DataFrame =
    spark.read.parquet(aDir)
      .join(spark.read.parquet(bDir).drop("pt"), Seq("jk"), "left")
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("m") * col("w"), lit(0L))).as("mw"),
        sum(coalesce(col("m"), lit(0L))).as("ma"))
      .select(dims.map(col) ++ Seq(col("mw"), col("ma"),
        col("n_rows")): _*)

  private def viewNow(viewDir: String): DataFrame =
    spark.read.parquet(viewDir).drop("_as_of_f", "_as_of_d0", "gv_pt")

  private def assertConverged(viewDir: String, aDir: String,
                              bDir: String, dims: Seq[String],
                              what: String): Unit =
    assert(cells(viewNow(viewDir)) ===
      cells(recomputeNow(aDir, bDir, dims)),
      s"$what diverged from the LEFT JOIN recompute")

  /** Seed: ids 3 (jk=20) and 4 (jk=30) have NO B match — the null-grp
    * group must exist from the seed on. */
  private def seeded(tag: String, dims: Seq[String])
      : (String, String, String) = {
    val base = tmpDir(tag)
    val aDir = s"$base/a"; val bDir = s"$base/b"
    val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, aDir,
      adf((1L, 10L, "x", 2L), (2L, 10L, "x", 3L), (3L, 20L, "y", 5L),
        (4L, 30L, "y", 7L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, bDir,
      bdf((100L, 10L, "g1", 10L)), partitionCol = "pt")
    assert(refresh(aDir, bDir, viewDir, dims) === Seq(-1L, -1L))
    assertConverged(viewDir, aDir, bDir, dims, "seed")
    (aDir, bDir, viewDir)
  }

  private def publishA(aDir: String, id: Long,
                       rows: (Long, Long, String, Long)*): Unit =
    ChangeLog.recordBatch(spark, aDir, Seq("id"), id)(
      MergeUpsert.replaceAll(spark, aDir, adf(rows: _*),
        partitionCol = "pt"))
  private def publishB(bDir: String, id: Long,
                       rows: (Long, Long, String, Long)*): Unit =
    ChangeLog.recordBatch(spark, bDir, Seq("bk"), id)(
      MergeUpsert.replaceAll(spark, bDir, bdf(rows: _*),
        partitionCol = "pt"))

  test("left view converges across appear (0->2), disappear (1->0), " +
      "and a both-sides span; unmatched groups read B-measure 0") {
    val dims = Seq("grp")
    val (aDir, bDir, viewDir) = seeded("ljv-conv", dims)

    // Span 1: A only — a new UNMATCHED row (id 5, jk 40) and an m
    // change on a matched row.
    publishA(aDir, 1L, (1L, 10L, "x", 4L), (2L, 10L, "x", 3L),
      (3L, 20L, "y", 5L), (4L, 30L, "y", 7L), (5L, 40L, "z", 11L))
    assert(refresh(aDir, bDir, viewDir, dims) === Seq(1L, -1L))
    assertConverged(viewDir, aDir, bDir, dims, "A-only span")

    // Span 2: B only — jk 20 APPEARS with TWO matches (0->2 fan-out:
    // id 3 must retract its null-extended row and land twice), and
    // jk 10 loses its only match (1->0: ids 1,2 return null-extended).
    publishB(bDir, 1L, (101L, 20L, "g1", 20L), (102L, 20L, "g2", 30L))
    assert(refresh(aDir, bDir, viewDir, dims) === Seq(1L, 1L))
    assertConverged(viewDir, aDir, bDir, dims, "B-only zero-crossings")

    // Span 3: BOTH sides in one refresh — A moves id 4 onto jk 20
    // (unmatched -> 2 matches THROUGH its own delta), drops id 5; B
    // re-matches jk 10 and drops one of jk 20's two rows (2->1, NOT a
    // zero-crossing — no null-extension may fire).
    publishA(aDir, 2L, (1L, 10L, "x", 4L), (2L, 10L, "x", 3L),
      (3L, 20L, "y", 5L), (4L, 20L, "y", 7L))
    publishB(bDir, 2L, (100L, 10L, "g1", 10L), (102L, 20L, "g2", 30L))
    assert(refresh(aDir, bDir, viewDir, dims) === Seq(2L, 2L))
    assertConverged(viewDir, aDir, bDir, dims, "both-sides span")

    // No-op refresh: nothing new on either side.
    assert(refresh(aDir, bDir, viewDir, dims) === Seq(2L, 2L))
    assertConverged(viewDir, aDir, bDir, dims, "no-op refresh")
  }

  test("partitioned left view (A-side partDim) converges across the " +
      "same zero-crossing history") {
    val dims = Seq("adim", "grp")
    val base = tmpDir("ljv-part")
    val aDir = s"$base/a"; val bDir = s"$base/b"
    val viewDir = s"$base/v"
    def refreshP(): Seq[Long] =
      StarJoinView.refreshPartitioned(spark, aDir,
        Seq(DimSpec(bDir, Seq("bk"), Seq("jk"))), viewDir,
        Seq("id"), dims, measures,
        partDim = "adim", joinType = "left")
    MergeUpsert.replaceAll(spark, aDir,
      adf((1L, 10L, "x", 2L), (2L, 10L, "x", 3L), (3L, 20L, "y", 5L),
        (4L, 30L, "y", 7L)),
      partitionCol = "pt")
    MergeUpsert.replaceAll(spark, bDir,
      bdf((100L, 10L, "g1", 10L)), partitionCol = "pt")
    assert(refreshP() === Seq(-1L, -1L))
    assertConverged(viewDir, aDir, bDir, dims, "partitioned seed")
    publishB(bDir, 1L, (101L, 20L, "g1", 20L), (102L, 20L, "g2", 30L))
    assert(refreshP() === Seq(-1L, 1L))
    assertConverged(viewDir, aDir, bDir, dims,
      "partitioned zero-crossings (appear 0->2, disappear 1->0)")
    publishA(aDir, 1L, (1L, 10L, "x", 4L), (3L, 20L, "y", 5L),
      (4L, 20L, "y", 7L), (5L, 40L, "z", 11L))
    publishB(bDir, 2L, (100L, 10L, "g1", 10L), (102L, 20L, "g2", 30L))
    assert(refreshP() === Seq(1L, 2L))
    assertConverged(viewDir, aDir, bDir, dims,
      "partitioned both-sides span")
  }

  test("an unlogged B side serves as the static left side (no " +
      "snapshotAt, no crash)") {
    val dims = Seq("grp")
    val base = tmpDir("ljv-static")
    val aDir = s"$base/a"; val bDir = s"$base/b"
    val viewDir = s"$base/v"
    MergeUpsert.replaceAll(spark, aDir,
      adf((1L, 10L, "x", 2L), (3L, 20L, "y", 5L)), partitionCol = "pt")
    MergeUpsert.replaceAll(spark, bDir,
      bdf((100L, 10L, "g1", 10L)), partitionCol = "pt")
    refresh(aDir, bDir, viewDir, dims)
    publishA(aDir, 1L, (1L, 10L, "x", 2L), (3L, 20L, "y", 5L),
      (6L, 50L, "z", 13L))
    refresh(aDir, bDir, viewDir, dims)
    assertConverged(viewDir, aDir, bDir, dims, "unlogged-B static side")
  }
}
