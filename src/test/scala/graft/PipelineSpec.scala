package graft

import graft.runtime.Pipeline
import org.apache.spark.sql.functions._

/** End-to-end chain on sf0.001: silver merge-upsert, gate, six gold
  * tables in reference dependency order; rerun idempotency. */
class PipelineSpec extends SparkSpec {

  test("daily chain produces all seven tables and is rerun-idempotent") {
    val wh = tmpDir("warehouse")
    val res = Pipeline.runDaily(spark, "/root/testdata/sf0.001", wh)
    assert(res.map(_.table) == Seq("vacuum_actions", "silver_sessions",
      "gold_user_daily", "gold_episode_daily", "gold_webtoon_daily",
      "gold_platform_device_daily", "gold_country_daily",
      "gold_user_sketch", "compaction_rewrites"))
    assert(res.filterNot(r => r.table == "compaction_rewrites" ||
      r.table == "vacuum_actions").forall(_.rows > 0))
    // The maintenance tail ran: every gold table is left COMPACT — a
    // fresh compaction pass over each finds nothing to rewrite (the
    // multi-file partitions the partitionBy write fragments get merged
    // inside runDaily itself), and its accounting matches the layout.
    for (t <- res.map(_.table) if t.startsWith("gold_"))
      assert(graft.runtime.Compaction.compact(spark, s"$wh/$t")
        .count() == 0L, s"$t left uncompacted by the pipeline")
    // gold→gold dependency: webtoon deepest episode comes from episode gold
    val wt = spark.read.parquet(s"$wh/gold_webtoon_daily")
    assert(wt.filter(col("deepest_episode_id") =!= "none").count() > 0)
    // rerun: merge-upsert + partition overwrite are idempotent
    val res2 = Pipeline.runDaily(spark, "/root/testdata/sf0.001", wh)
    assert(res.map(r => r.table -> r.rows).toMap ==
      res2.map(r => r.table -> r.rows).toMap)

    // Vacuum stage (round 16): a crashed-swap leftover on a table the
    // run only READS — the episode gold's partition renamed out to its
    // backup, the exact between-renames crash — is healed by the next
    // daily run's leading sweep AND reported in its results.
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epi = s"$wh/gold_episode_daily"
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(epi))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("datetime=")).head
    val uuid = java.util.UUID.randomUUID().toString
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$epi/$part"),
      new org.apache.hadoop.fs.Path(s"$epi/.backup-$uuid--$part")))
    val res3 = Pipeline.runDaily(spark, "/root/testdata/sf0.001", wh)
    assert(res3.find(_.table == "vacuum_actions").exists(_.rows >= 1L),
      "the planted crash leftover must be reported by the vacuum stage")
    assert(res3.map(r => r.table -> r.rows).toMap ==
      res.map(r => r.table -> r.rows).toMap
        .updated("vacuum_actions",
          res3.find(_.table == "vacuum_actions").get.rows),
      "the healed run must converge to the same table counts")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(epi))
      .exists(_.getPath.getName.startsWith(".backup-")),
      "the backup must be restored or dropped, not linger")
  }

  test("batch chain converges after the source shrinks: a vanished date " +
      "leaves no stale silver or gold rows, partition dirs included") {
    // A late re-stamped correction between two daily runs can remove
    // every event of a date from the recompute; the keyed upsert the
    // chain previously used would keep the stale rows forever and
    // silently diverge from the incremental chain on the same
    // warehouse. replaceAll must drop them, directories included.
    val src = tmpDir("shrink-src")
    val wh = tmpDir("shrink-wh")
    val full = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    full.write.mode("overwrite").parquet(s"$src/events.parquet")
    Pipeline.runDaily(spark, src, wh)
    val lastDate = spark.read.parquet(s"$wh/silver_sessions")
      .agg(max(col("datetime"))).collect().head.getDate(0)
    assert(spark.read.parquet(s"$wh/gold_user_daily")
      .filter(col("datetime") === lit(lastDate)).count() > 0)

    full.filter(to_date(col("ts")) =!= lit(lastDate))
      .write.mode("overwrite").parquet(s"$src/events.parquet")
    Pipeline.runDaily(spark, src, wh)
    for (t <- Seq("silver_sessions", "gold_user_daily",
        "gold_episode_daily", "gold_webtoon_daily",
        "gold_platform_device_daily", "gold_country_daily",
        "gold_user_sketch")) {
      assert(spark.read.parquet(s"$wh/$t")
        .filter(col("datetime") === lit(lastDate)).count() == 0L,
        s"$t kept stale rows for the vanished date")
      val fs = new org.apache.hadoop.fs.Path(s"$wh/$t")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/$t",
        s"datetime=$lastDate")),
        s"$t kept the vanished date's partition directory")
    }
  }

  test("failure callback fires, propagates, and lands a C6 alert file") {
    var failed: Option[String] = None
    val wh = tmpDir("wh2")
    intercept[Throwable] {
      Pipeline.runDaily(spark, "/nonexistent-input", wh,
        onFailure = (stage, _) => failed = Some(stage))
    }
    assert(failed.contains("silver"))
    // C6 delivery: one JSON alert record per failure under _alerts/,
    // carrying the reference Slack payload's fields (stage, time, error).
    val alerts = new java.io.File(s"$wh/_alerts").listFiles()
    assert(alerts != null && alerts.exists(_.getName.endsWith(".json")),
      "failing stage must write an alert record")
    val txt = new String(java.nio.file.Files.readAllBytes(
      alerts.filter(_.getName.endsWith(".json")).head.toPath), "UTF-8")
    assert(txt.contains("\"stage\": \"silver\""), txt)
    assert(txt.contains("\"error_class\":") && txt.contains("\"ts_ms\":"),
      txt)
  }

  test("the rolling distinct serves over the pipeline's own sketch " +
      "gold (datetime-keyed) and equals the exact trailing count") {
    val wh = tmpDir("wh-sketch")
    Pipeline.runDaily(spark, "/root/testdata/sf0.001", wh)
    val rolled = graft.runtime.SketchGold
      .rollingDistinct(spark, s"$wh/gold_user_sketch", 7)
      .select(col("day").cast("string"), col("distinct_est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Exact trailing-7 distinct over the same (date, user) set the
    // sketch gold is built from; sf0.001 sits in the sketch's
    // coupon-exact regime, so the estimates must be EQUAL.
    val exact = spark.read.parquet(s"$wh/silver_sessions")
      .select(col("user_id"), col("datetime").as("day")).distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("off"),
        col("day"))
      .select(col("user_id"), expr("date_add(day, off)").as("day"))
      .distinct().groupBy(col("day")).agg(count(lit(1)).as("n"))
      .select(col("day").cast("string"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    assert(rolled == exact,
      "rolling distinct over gold_user_sketch diverged from the exact count")
  }
}
