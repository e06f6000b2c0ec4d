package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C1–C4: incremental-processing runtime replacing Iceberg snapshots
  * (SURVEY.md §2.10, §7.3).
  *
  * A table ingested through [[appendBatch]] is parquet partitioned by
  * `batch_id` (monotonically increasing). The partition layout IS the
  * manifest: [[batches]] lists committed ids from directory names
  * (metadata-only, no data scan), the high-watermark is the max id, and
  * [[readSince]] prunes to `batch_id > watermark` — the same "process only
  * new data" contract as the reference's snapshot-range scan
  * (silver_user_session_events.py:67-75).
  *
  * Lineage validity (C2, silver_dag.py:65-88): a stored watermark is valid
  * only if that batch id still exists; otherwise history was rewritten and
  * the caller falls back to a full read — mirroring the reference's
  * ancestry walk that returns prev=None on a broken chain.
  */
object Incremental {

  def appendBatch(spark: SparkSession, tableDir: String, df: DataFrame,
                  batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id").mode("append").parquet(tableDir)

  /** Committed batch ids from partition directory names (no data scan). */
  def batches(spark: SparkSession, tableDir: String): Seq[Long] = {
    val p = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") =>
        n.stripPrefix("batch_id=").toLong }
      .sorted
  }

  def highWatermark(spark: SparkSession, tableDir: String): Option[Long] =
    batches(spark, tableDir).lastOption

  /** C2: stored watermark must still be a committed batch. */
  def lineageValid(spark: SparkSession, tableDir: String,
                   watermark: Long): Boolean =
    batches(spark, tableDir).contains(watermark)

  /** C2 over committed ids already listed: the watermark a read
    * resumes after — `sinceExclusive` while it is still one of `ids`,
    * else None (history was rewritten, or nothing was read yet: read
    * it all). */
  private def validSince(ids: Seq[Long],
                         sinceExclusive: Option[Long]): Option[Long] =
    sinceExclusive.filter(ids.contains)

  /** The committed batch ids of `ids` past the valid watermark: the
    * batches [[readSince]] reads. */
  def batchesSince(ids: Seq[Long], sinceExclusive: Option[Long]): Seq[Long] =
    validSince(ids, sinceExclusive).fold(ids)(wm => ids.filter(_ > wm))

  /** Incremental scan: rows in batches after `sinceExclusive`; an invalid
    * or absent watermark falls back to the full table (the reference's
    * prev=None path). Partition pruning on batch_id keeps the scan to new
    * files only. */
  def readSince(spark: SparkSession, tableDir: String,
                sinceExclusive: Option[Long]): DataFrame =
    readSince(spark.read.parquet(tableDir), batches(spark, tableDir),
      sinceExclusive)

  /** [[readSince]] over a read `table` of the batch table whose
    * committed ids `ids` the caller already listed. */
  def readSince(table: DataFrame, ids: Seq[Long],
                sinceExclusive: Option[Long]): DataFrame =
    validSince(ids, sinceExclusive)
      .fold(table)(wm => table.filter(col("batch_id") > wm))

  /** Time travel: the table AS OF batch `asOf` — every row whose batch
    * id is ≤ the requested watermark, i.e. exactly the table state a
    * reader saw before any later append (the Iceberg
    * `VERSION AS OF` analogue over this runtime's batch_id-partitioned
    * layout; the partition directory set IS the snapshot history, so no
    * extra metadata is kept). Pruning is on the partition column, so
    * the scan touches only the as-of batches' files. A batch id that
    * was never committed (or was rewritten away) fails loud — an as-of
    * read against a broken lineage must not silently return a
    * different snapshot than the caller named. */
  def readAsOf(spark: SparkSession, tableDir: String,
               asOf: Long): DataFrame = {
    require(lineageValid(spark, tableDir, asOf),
      s"batch $asOf is not in $tableDir's committed history")
    spark.read.parquet(tableDir).filter(col("batch_id") <= asOf)
  }

  /** C3: watermark persistence (the reference stores it in an Airflow
    * Variable, silver_dag.py:129-133). One small file per consumer,
    * written through the sidecar protocol below. */
  def saveWatermark(spark: SparkSession, path: String, wm: Long): Unit =
    writeText(spark, new Path(path), wm.toString)

  def loadWatermark(spark: SparkSession, path: String): Option[Long] =
    readText(spark, new Path(path)).flatMap(_.trim.toLongOption)

  // ------------------------------------------------------------------
  // The runtime's one small-file protocol. Every sidecar the runtime
  // keeps beside its tables (watermarks, consumer registrations, the
  // clamp ledger, view vectors and configs, pending scopes, skipping
  // pins, cache signatures and stamps, markers) is written and read
  // here. A write goes to a `.tmp` sibling, then deletes the old file
  // and renames the sibling over it, so a reader never sees a torn
  // file; a leftover sibling is never read ([[isTemp]]). A crash
  // between the delete and the rename leaves the file absent, with the
  // new value only in the sibling.

  private val TempSuffix = ".tmp"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically replace `p`'s content with `text` (UTF-8). */
  private[runtime] def writeText(spark: SparkSession, p: Path,
                                 text: String): Unit = {
    val tmp = p.suffix(TempSuffix)
    val fs = fsOf(spark, p)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"sidecar publish failed: $tmp -> $p")
  }

  /** `p`'s whole content (UTF-8); None when the file is absent. */
  private[runtime] def readText(spark: SparkSession,
                                p: Path): Option[String] = {
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Create (or truncate) the empty marker file `p`. */
  private[runtime] def touch(spark: SparkSession, p: Path): Unit =
    fsOf(spark, p).create(p, true).close()

  /** True for a write's leftover temp sibling: never a sidecar itself. */
  private[runtime] def isTemp(p: Path): Boolean =
    p.getName.endsWith(TempSuffix)

  /** C4: completeness gate — fail the downstream chain when a partition
    * holds fewer data files than expected (gold_daily_dag.py:49-64). */
  def completenessGate(spark: SparkSession, partitionDir: String,
                       minFiles: Int): Boolean = {
    val p = new Path(partitionDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).count { s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")
    } >= minFiles
  }
}
