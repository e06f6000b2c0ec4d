package graft

import graft.ingest.Events
import graft.runtime.{ChangeLog, Forget, Incremental, IncrementalGold,
  Pipeline, Retention}
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

/** The out-of-band publishers ([[graft.runtime.Forget]] in both of its
  * aggregate-gold arms, [[graft.runtime.Retention]],
  * [[graft.runtime.Pipeline.reprocessPublishing]]) write the logs the
  * chain writes, so an entry they publish must replay beside the
  * chain's: for every date gold it carries the chain's column set
  * (the sketch gold's contract grain `datetime, dau_est`, never the
  * sketch bytes), and all three reserve the same next id on the same
  * warehouse. Their batch-partition erase
  * ([[graft.silver.MergeUpsert.eraseFailing]]) is pinned on its own. */
class OutOfBandPublishSpec extends SparkSpec {

  private def copyTree(src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new Path(src)
    val fs = s.getFileSystem(conf)
    assert(FileUtil.copy(fs, s, fs, new Path(dst), false, conf))
  }

  /** The column set of the log entry of the table at `dir` at `id`,
    * which must exist. */
  private def entryCols(dir: String, id: Long): Set[String] = {
    val span = ChangeLog.span(spark, dir, id - 1L, id)
    assert(span.ids === Seq(id), s"$dir has no log entry at $id")
    span.rows().columns.toSet
  }

  test("every out-of-band publisher logs each date gold at the chain's " +
      "columns, and Forget, Retention and reprocess reserve one next id") {
    val allRaw = Events.raw(spark, "/root/testdata/sf0.001")
    val dts = allRaw.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).take(4)
    val raw = allRaw.filter(to_date(col("ts")) <= lit(dts.last))
      .localCheckpoint()
    val u = raw.groupBy(col("user_id")).count()
      .orderBy(col("count").desc, col("user_id")).head().getLong(0)
    val golds = IncrementalGold.dateGolds
    val sketch = IncrementalGold.UserSketchGold.table

    // One logged warehouse, two chain updates (ids 1 and 2).
    val base = tmpDir("oob")
    val (bronze, wh) = (s"$base/bronze", s"$base/wh")
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) < lit(dts(2))), 1L)
    val wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    Incremental.appendBatch(spark, bronze,
      raw.filter(to_date(col("ts")) >= lit(dts(2))), 2L)
    assert(Pipeline.runDailyIncremental(spark, bronze, wh, wm)
      .contains(2L))

    // The chain's entry per date gold: the first update's, which adds
    // every row.
    val chain = golds.map(g => g.table -> entryCols(s"$wh/${g.table}", 1L))
      .toMap
    val sketchBytes = spark.read.parquet(s"$wh/$sketch").columns.toSet --
      Set("datetime", "dau_est")
    assert(sketchBytes.nonEmpty &&
      chain(sketch).exists(_.contains("dau_est")) &&
      !chain(sketch).exists(c => sketchBytes.exists(c.endsWith)),
      s"the chain must log the sketch gold at its contract grain: " +
        chain(sketch))

    def copyOf(tag: String): (String, String) = {
      val (b, w) = (s"$base/$tag-bronze", s"$base/$tag-wh")
      copyTree(bronze, b)
      copyTree(wh, w)
      (b, w)
    }
    def assertChainCols(w: String, id: Long, who: String): Unit =
      golds.foreach { g =>
        assert(entryCols(s"$w/${g.table}", id) === chain(g.table),
          s"$who's ${g.table} entry drifted from the chain's columns")
      }

    // Forget, recompute arm: silver keeps other users.
    val (fb, fw) = copyOf("forget")
    val forgot = Forget.forgetUser(spark, fb, fw, u)
    assertChainCols(fw, forgot.batchId, "forget")

    // Retention: the first date expires from every gold.
    val (rb, rw) = copyOf("retention")
    val expired = Retention.expireBefore(spark, rb, rw, dts(1))
    assertChainCols(rw, expired.batchId, "retention")

    // Reprocess publishes at bronze endpoint + the offset it bumped.
    val (pb, pw) = copyOf("reprocess")
    assert(Pipeline.reprocessPublishing(spark, pb, pw).contains(2L))
    val reprocessId = 2L + Pipeline.cdcIdOffset(spark, pw)

    assert(Seq(forgot.batchId, expired.batchId, reprocessId) ===
      Seq(3L, 3L, 3L), "one warehouse, one next id")

    // Forget, empty-silver arm: the subject is the warehouse's only
    // user, so the purge empties silver and every gold date converges
    // to absence.
    val (ob, ow) = (s"$base/solo-bronze", s"$base/solo-wh")
    Incremental.appendBatch(spark, ob, raw.filter(col("user_id") === u), 1L)
    Pipeline.runDailyIncremental(spark, ob, ow, None)
    val solo = Forget.forgetUser(spark, ob, ow, u)
    assert(solo.purged.exists(_._1.endsWith("(empty-silver date purge)")),
      s"the subject must empty silver: ${solo.purged}")
    assertChainCols(ow, solo.batchId, "empty-silver forget")
  }

  test("the batch-partition erase rewrites only partitions holding a " +
      "failing row, drops one left empty, and keeps a NULL-keep row") {
    import spark.implicits._
    val dir = s"${tmpDir("erase")}/t"
    // Batch 1 is wholly old, batch 2 straddles (with a NULL ts, as a
    // quarantined not_null_ts reject has), batch 3 is young.
    Seq((1L, Some("2024-01-01")), (1L, Some("2024-01-02")),
      (2L, Some("2024-01-02")), (2L, Some("2024-02-01")), (2L, None),
      (3L, Some("2024-02-02")))
      .toDF("batch_id", "d")
      .withColumn("ts", to_timestamp(col("d"))).drop("d")
      .write.partitionBy("batch_id").parquet(dir)
    val batch3 = new java.io.File(s"$dir/batch_id=3").listFiles()
      .map(f => f.getName -> f.lastModified()).toSet
    val cutoff = java.sql.Date.valueOf("2024-02-01")
    val keep = !(to_date(col("ts")) < lit(cutoff))
    assert(MergeUpsert.eraseFailing(spark, dir, spark.read.parquet(dir),
      keep) === 3L)
    val left = spark.read.parquet(dir)
      .select(col("batch_id").cast("long"), col("ts").isNull)
      .as[(Long, Boolean)].collect().sorted.toSeq
    assert(left === Seq((2L, false), (2L, true), (3L, false)))
    assert(!new java.io.File(s"$dir/batch_id=1").exists(),
      "a batch left with no rows is deleted")
    assert(new java.io.File(s"$dir/batch_id=3").listFiles()
      .map(f => f.getName -> f.lastModified()).toSet === batch3,
      "a batch with no failing row is not rewritten")
  }
}
