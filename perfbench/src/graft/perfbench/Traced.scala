package graft.perfbench

import graft.gold._
import graft.ingest.Events
import graft.runtime._
import graft.silver.{Dedup, MergeUpsert, Sessionize}
import graft.streaming.SilverLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline's stage order re-composed from each layer's public
  * functions, one [[Tracer]] span per layer. [[dailyBuild]] mirrors
  * `Pipeline.runDaily` and [[incrementalBatch]] mirrors
  * `Pipeline.runDailyIncremental` (change log on, no log collapse); the
  * trace-parity check compares the warehouses they leave with the ones the
  * untraced entry points leave, so a drift in the pipeline's stages fails
  * the traced run instead of measuring a different program. */
object Traced {

  val GoldTables: Seq[String] = Seq("user_daily", "episode_daily",
    "webtoon_daily", "platform_device_daily", "country_daily", "user_sketch")

  /** Same name derivation as `Pipeline.runDaily`'s default. */
  def bucketedTable(warehouseDir: String): String =
    "silver_sessions_bucketed_" + java.security.MessageDigest
      .getInstance("MD5").digest(warehouseDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  final case class DailyStats(filesRewritten: Long)

  def dailyBuild(spark: SparkSession, t: Tracer, sfDir: String,
                 wh: String): DailyStats = {
    val btable = bucketedTable(wh)
    val silverDir = s"$wh/silver_sessions"
    t.span("runtime.cdc_guard") {
      Pipeline.loggedTables.map(_._1).foreach { tb =>
        require(ChangeLog.readLog(spark, s"$wh/$tb").isEmpty,
          s"$wh/$tb has a change log")
      }
    }
    t.span("runtime.vacuum")(Vacuum.sweep(spark, wh))
    t.span("silver.build") {
      MergeUpsert.replaceAll(spark, silverDir, Sessionize.sessions(
        Dedup.keepLatest(Events.cleansed(spark, sfDir))))
    }
    t.span("runtime.bucketed_layout") {
      Bucketed.writeSilver(spark, btable, spark.read.parquet(silverDir),
        location = Some(s"$wh/$btable"))
    }
    val silver = spark.table(btable)
    t.span("ingest.quarantine") {
      MergeUpsert.replaceAll(spark, s"$wh/quarantine_events",
        Events.rejects(Events.enriched(spark, sfDir))
          .withColumn("batch_id", lit(-1L)),
        partitionCol = "batch_id")
    }
    t.span("runtime.gate") {
      require(Incremental.completenessGate(spark, silverDir, 0) &&
        silver.take(1).nonEmpty, s"completeness gate failed for $silverDir")
    }
    def gold(name: String)(df: => DataFrame): Unit =
      t.span(s"gold.$name") {
        val dir = s"$wh/gold_$name"
        MergeUpsert.replaceAll(spark, dir, df)
        spark.read.parquet(dir).count()
      }
    gold("user_daily")(Bucketed.userDaily(spark, btable))
    gold("episode_daily")(EpisodeDaily.build(silver))
    gold("webtoon_daily")(WebtoonDaily.build(silver,
      spark.read.parquet(s"$wh/gold_episode_daily")))
    gold("platform_device_daily")(PlatformDeviceDaily.build(silver))
    gold("country_daily")(CountryDaily.build(silver))
    gold("user_sketch")(SketchGold.silverDailySketch(silver))
    val rewritten = t.span("runtime.compaction") {
      ("silver_sessions" +: GoldTables.map("gold_" + _)).map { tb =>
        Compaction.compact(spark, s"$wh/$tb").collect()
          .map(_.getAs[Long]("files_before")).sum
      }.sum
    }
    t.span("runtime.report")(silver.count())
    DailyStats(rewritten)
  }

  final case class BatchStats(watermark: Option[Long], affectedUsers: Long,
                              affectedDates: Long)

  def incrementalBatch(spark: SparkSession, t: Tracer, bronzeDir: String,
                       wh: String, watermark: Option[Long]): BatchStats = {
    val silverDir = s"$wh/silver_sessions"
    val idOffset = Pipeline.cdcIdOffset(spark, wh)
    val d = t.span("runtime.incremental_silver") {
      IncrementalSilver.updateDetailed(spark, bronzeDir, silverDir,
        watermark, changeLog = true, logIdOffset = idOffset)
    }
    if (d.watermark != watermark)
      t.span("ingest.quarantine_delta") {
        val delta = Incremental.readSince(spark, bronzeDir, watermark)
        val batches = delta.select(col("batch_id")).distinct()
          .collect().map(_.get(0)).toIndexedSeq
        MergeUpsert.replacePartitions(spark, s"$wh/quarantine_events",
          Events.rejects(Events.enrich(delta)), batches,
          partitionCol = "batch_id")
      }
    d.affectedUsers.foreach { users =>
      val silver = spark.read.parquet(silverDir)
      val cdc = d.watermark.map(_ + idOffset)
      def gold(name: String)(body: String => Unit): Unit =
        t.span(s"runtime.incremental_gold.$name")(body(s"$wh/gold_$name"))
      val dates = d.affectedDates
      gold("user_daily")(IncrementalGold.userDailyDelta(spark, silver, _,
        users, cdc))
      gold("episode_daily")(IncrementalGold.episodeDailyDelta(spark, silver,
        _, dates, cdc))
      gold("webtoon_daily")(IncrementalGold.webtoonDailyDelta(spark, silver,
        _, dates, cdc))
      gold("platform_device_daily")(IncrementalGold.platformDeviceDailyDelta(
        spark, silver, _, dates, cdc))
      gold("country_daily")(IncrementalGold.countryDailyDelta(spark, silver,
        _, dates, cdc))
      gold("user_sketch")(IncrementalGold.userSketchDelta(spark, silver, _,
        dates, cdc))
    }
    BatchStats(d.watermark, d.affectedUsers.map(_.count()).getOrElse(0L),
      d.affectedDates.size.toLong)
  }

  /** The freshness tail every batch ends with: the gold join view. */
  def joinView(spark: SparkSession, t: Tracer, wh: String): Unit =
    t.span("streaming.gold_join_view")(SilverLoop.refreshGoldJoinView(spark, wh))
}
