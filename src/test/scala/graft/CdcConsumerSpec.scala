package graft

import graft.runtime.{CdcFaces, ChangeLog, Incremental}
import org.apache.spark.sql.functions._

/** The change-log CONSUMER contract: because entries land as batch_id
  * partitions (the Incremental layout), a downstream job tails the log
  * with the same watermark machinery as any bronze feed —
  * `batches`/`readSince`/`readAsOf` work on it directly, partition-
  * pruned. Pinned against the deterministic cdc_orders history. */
class CdcConsumerSpec extends SparkSpec {

  test("a consumer tails the log with readSince/readAsOf, pruned by " +
      "batch partition") {
    val dir = "/root/testdata/sf0.001"
    CdcFaces.queries("cdc_orders_net")(spark, dir).collect() // builds the log
    val log = ChangeLog.logDir(graft.sim.AnnIndex.dir(spark, dir,
      "cdc_orders"))

    // The committed history is discoverable without a data scan.
    assert(Incremental.batches(spark, log) === Seq(1L, 2L, 3L))
    assert(Incremental.highWatermark(spark, log).contains(3L))

    // Tail from a consumer watermark: only the later batches' entries.
    // (Partition-value inference types batch_id as INT on read — the
    // directory names are what carry the watermark, so cast for the
    // value check.)
    val since1 = Incremental.readSince(spark, log, Some(1L))
    assert(since1.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // And the scan prunes to those batches' partitions.
    val scanned = since1.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(batch_id") ||
      scanned.contains("PartitionFilters: [(batch_id"),
      "batch_id filter did not reach the partition scan")

    // Time travel: the log as a first batch saw it.
    val asOf1 = Incremental.readAsOf(spark, log, 1L)
    assert(asOf1.select(max(col("batch_id").cast("long")))
      .head().getLong(0) === 1L)
    // Batch 1 is the Q3 load: additions only.
    assert(asOf1.select(col("diff_status")).distinct()
      .collect().map(_.getString(0)).toSeq === Seq("added"))

    // An unknown watermark on the LOG fails loud, same as any table.
    intercept[IllegalArgumentException] {
      Incremental.readAsOf(spark, log, 99L)
    }
  }
}
