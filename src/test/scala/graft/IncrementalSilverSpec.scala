package graft

import graft.ingest.Events
import graft.runtime.{Incremental, IncrementalSilver}
import graft.silver.{Dedup, Sessionize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** The incremental contract: after any batch sequence — late events that
  * merge sessions, out-of-order arrivals, duplicate redeliveries — silver
  * equals the full recompute over all bronze data. */
class IncrementalSilverSpec extends SparkSpec {
  import spark.implicits._

  private val us = 1000000L
  private val t0 = 1700000000L * us

  // Raw-shaped rows: (event_id, ts[ns], user_id, event_type, value, props)
  private def rawDf(rows: Seq[(Long, Long, Long, String, Double, String)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def fullRecompute(allRaw: DataFrame) =
    Sessionize.sessions(Dedup.keepLatest(
      Events.cleanse(Events.enrich(allRaw))))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
      b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty)
  }

  test("incremental silver equals full recompute under late + dup events") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")

    def ev(id: Long, user: Long, offSec: Long, t: String, v: Double) =
      (id, (t0 + offSec * us) * 1000L, user, t, v, s"""{"k": ${id % 100}}""")

    // batch 1: two sessions for user 1 (>30 min apart), one for user 2
    val b1 = Seq(
      ev(1, 1, 0, "view", 1.0), ev(2, 1, 60, "click", 2.0),
      ev(3, 1, 4000, "purchase", 3.0),
      ev(4, 2, 0, "view", 4.0))
    // batch 2: LATE events at offsets 1500/3000 for user 1 — every gap in
    // 0→60→1500→3000→4000 is now under 30 min, bridging the two sessions
    // into ONE; plus a duplicate redelivery of event 2 and a new user 3.
    val b2 = Seq(
      ev(5, 1, 1500, "click", 9.0),
      ev(9, 1, 3000, "click", 7.0),
      ev(2, 1, 60, "click", 2.0), // duplicate event_id
      ev(6, 3, 0, "error", 1.5))
    // batch 3: user 2 continues (same session), user 3 new day
    val b3 = Seq(
      ev(7, 2, 120, "purchase", 8.0),
      ev(8, 3, 100000, "view", 2.5))

    var wm: Option[Long] = None
    var allRaw = rawDf(Seq.empty)
    for ((batch, id) <- Seq(b1, b2, b3).zipWithIndex) {
      Incremental.appendBatch(spark, bronze, rawDf(batch), id.toLong + 1)
      allRaw = allRaw.unionByName(rawDf(batch))
      wm = IncrementalSilver.update(spark, bronze, silver, wm)
      assert(wm.contains(id.toLong + 1))
      assertSame(spark.read.parquet(silver), fullRecompute(allRaw))
    }

    // the late event really did merge user 1's sessions into one
    val u1 = spark.read.parquet(silver).filter(col("user_id") === 1)
      .select(col("session_id")).distinct().count()
    assert(u1 == 1L)

    // no-op update: watermark unchanged, table unchanged
    val before = spark.read.parquet(silver).count()
    val wm2 = IncrementalSilver.update(spark, bronze, silver, wm)
    assert(wm2 == wm && spark.read.parquet(silver).count() == before)
  }

  test("shrinking re-derivation: a late re-stamped event that empties a " +
      "date propagates the DELETION and drops the empty partition") {
    val bronze = tmpDir("bronze-shrink")
    val silver = tmpDir("silver-shrink")
    def ev(id: Long, user: Long, offSec: Long) =
      (id, (t0 + offSec * us) * 1000L, user, "view", 1.0, """{"k": 1}""")

    // t0 = 2023-11-14T22:13:20Z; midnight boundaries at offsets 6400
    // (Nov 15) and 92800 (Nov 16). Batch 1: user 1 on Nov 14; user 2's
    // ONLY event at offset 92500 → Nov 15 23:55 — the sole row of the
    // Nov 15 partition.
    Incremental.appendBatch(spark, bronze, rawDf(Seq(
      ev(1, 1, 0), ev(2, 1, 60), ev(20, 2, 92500))), 1L)
    val wm = IncrementalSilver.update(spark, bronze, silver, None)
    assert(spark.read.parquet(silver)
      .filter(col("datetime") === "2023-11-15").count() == 1L)

    // Batch 2: event 20 is REDELIVERED re-stamped 400 s later — now
    // Nov 16 00:01:40. keepLatest keeps the later version, so user 2's
    // rows move OFF Nov 15 entirely: the recomputed frame has no
    // Nov 15 row, and only the affected-users' EXISTING-dates union
    // puts Nov 15 in the rewrite scope at all.
    Incremental.appendBatch(spark, bronze,
      rawDf(Seq(ev(20, 2, 92900))), 2L)
    val delta = IncrementalSilver.updateDetailed(spark, bronze, silver, wm)
    assert(delta.watermark.contains(2L))
    // The date the user's rows moved off is still in the downstream
    // scope: the gold deltas must recompute it.
    assert(delta.affectedDates.toSet == Set("2023-11-15", "2023-11-16")
      .map(java.sql.Date.valueOf), delta.affectedDates.toString)

    val all = rawDf(Seq(ev(1, 1, 0), ev(2, 1, 60), ev(20, 2, 92500),
      ev(20, 2, 92900)))
    assertSame(spark.read.parquet(silver), fullRecompute(all))
    assert(spark.read.parquet(silver)
      .filter(col("datetime") === "2023-11-15").count() == 0L)
    // The emptied partition DIRECTORY is gone too — dynamic overwrite
    // alone would have left the stale files in place.
    val fs = new org.apache.hadoop.fs.Path(silver)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(silver, "datetime=2023-11-15")),
      "emptied date partition directory must be deleted")
  }

  test("broken watermark lineage falls back to full recompute") {
    val bronze = tmpDir("bronze2")
    val silver = tmpDir("silver2")
    def ev(id: Long, user: Long, offSec: Long) =
      (id, (t0 + offSec * us) * 1000L, user, "view", 1.0, """{"k": 1}""")
    Incremental.appendBatch(spark, bronze, rawDf(Seq(ev(1, 1, 0))), 1L)
    // stale/unknown watermark 99 → full read path, table still correct
    IncrementalSilver.update(spark, bronze, silver, Some(99L))
    assertSame(spark.read.parquet(silver),
      fullRecompute(rawDf(Seq(ev(1, 1, 0)))))
  }
}
