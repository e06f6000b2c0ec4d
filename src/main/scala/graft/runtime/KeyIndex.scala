package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A key → batch-partition SECONDARY INDEX over a batch_id-partitioned
  * table: for each key value, which batch partitions hold at least one
  * of its rows. This is the lookup structure that turns two
  * key-scoped maintenance operations from O(table) into O(answer):
  *
  *  - point serving ("fetch one user's batches / rows") stops being a
  *    full scan: the index read prunes to ONE md5 bucket partition,
  *    and the follow-up data read prunes to exactly the named batch
  *    partitions;
  *  - [[Forget.forgetUserIndexed]] — right-to-be-forgotten at 100 TB.
  *    The un-indexed [[Forget.forgetUser]] must scan ALL of bronze to
  *    find the user's batch partitions (the one data-proportional
  *    step in the whole op); with the index, the scope comes from a
  *    bucket-pruned metadata-scale lookup and bronze is only READ in
  *    the partitions that will be REWRITTEN anyway. The bill becomes
  *    proportional to the user's own footprint — which is the only
  *    honest cost floor erasure has.
  *
  * Layout: parquet under a SIBLING directory (never inside the table —
  * the table's own full-recompute `mode("overwrite")` must not eat the
  * index, the [[ChangeLog]] `_changelog_pre` lesson), partitioned by
  * `bucket` = md5(key) mod `buckets` (the [[graft.text.TextOps]]
  * md5-bucket scheme — content-independent, engine-exact, so an oracle
  * replays the assignment). Rows are (key, batch_id) DISTINCT pairs:
  * the index is a footprint map, deliberately NOT a row locator —
  * per-row offsets would make it data-sized; per-(key, batch) keeps it
  * bounded by keys × their batch spread, metadata-shaped even when the
  * table is not.
  *
  * Maintenance is incremental and watermark-scoped ([[ensure]]): only
  * batches PAST the index's own durable watermark are scanned
  * (partition-pruned), their (key, batch) pairs appended, then the
  * watermark advances atomically (the runtime's sidecar protocol,
  * [[Incremental.saveWatermark]]). Crash between append and
  * watermark ⇒ the retry re-appends the same pairs: DUPLICATES, never
  * losses. Readers are duplicate-immune by construction ([[lookup]]
  * distincts; Forget's partition list is a set), so the contract is
  * append-only correctness with at-most-one-retry duplication —
  * [[Compaction]] can rewrite buckets when churn warrants, same as any
  * small-file table.
  *
  * Staleness is FAIL-LOUD where it must be: a consumer whose
  * correctness depends on completeness over the WHOLE table
  * ([[Forget.forgetUserIndexed]]) refuses to run while the index
  * watermark trails the table's high watermark — a stale index would
  * silently leave the user's newest batches unscanned, which is the
  * one failure mode a compliance op can never have. [[ensure]] is
  * cheap (one listing + the delta scan), so the fix is always "ensure
  * first".
  *
  * The index itself holds personal data (the keys): [[purgeKey]]
  * rewrites the key's single bucket partition without it, and
  * [[Forget.forgetUserIndexed]] calls it as a purge step — an index
  * that remembered who was forgotten would defeat the erasure.
  *
  * Reference analogue: the reference's user-scoped reads have no index
  * and re-scan Silver by date partition (`spark_jobs/gold_job.py`);
  * this is the structure those reads are missing at scale. */
object KeyIndex {

  val DefaultBuckets = 64

  /** Sibling index directory for a table (outside the table root). */
  def dirFor(tableDir: String): String =
    tableDir.stripSuffix("/") + "_keyindex"

  private def wmPath(indexDir: String) = s"$indexDir/_indexed_watermark"

  /** The bucket count is LAYOUT, not a per-call knob (the
    * [[Scd2Store]] `_buckets` lesson): a probe or a maintenance
    * rewrite hashing with a different count than the build routes the
    * key to a DIFFERENT partition than its stored pairs — the
    * one-bucket-pruned [[lookup]] silently misses, and
    * [[graft.runtime.Retention]]'s reconcile re-derives pairs into
    * buckets the staleness check never compares. Pinned durably at
    * build time; every later caller reads the pinned value and an
    * explicitly different ask fails loud. */
  private def bucketsPath(indexDir: String) = s"$indexDir/_index_buckets"

  /** The durably pinned bucket count of an existing index (None =
    * never built / built before pinning — [[ensure]] backfills the
    * pin on its next run). */
  def pinnedBuckets(spark: SparkSession, indexDir: String): Option[Int] =
    Incremental.loadWatermark(spark, bucketsPath(indexDir)).map(_.toInt)

  /** The bucket count maintenance MUST use: the pinned value. Fails
    * loud when the index has data but no pin (pre-pin index — the
    * remedy is one [[ensure]] call, which backfills it) rather than
    * guessing a default that may mis-route every probe. */
  private[runtime] def requireBuckets(spark: SparkSession,
                                      indexDir: String): Int =
    pinnedBuckets(spark, indexDir).getOrElse(
      sys.error(s"index at $indexDir has no pinned bucket count " +
        s"(${bucketsPath(indexDir)}); run KeyIndex.ensure once to pin " +
        "the layout before bucket-pruned reads or maintenance"))

  private def resolveBuckets(spark: SparkSession, indexDir: String,
                             asked: Int): Int = {
    val pinned = pinnedBuckets(spark, indexDir)
    pinned.filter(_ != asked).filter(_ => asked != DefaultBuckets)
      .foreach { p =>
        sys.error(s"index at $indexDir was built with $p buckets; " +
          s"using $asked would route keys to the wrong partition — " +
          "rebuild into a fresh directory to change the layout")
      }
    pinned.getOrElse(asked)
  }

  /** The md5 bucket expression over an arbitrary key column — the
    * [[graft.text.TextOps.md5BucketExpr]] scheme generalized off
    * doc_id, kept byte-identical so DuckDB replays it. */
  private[graft] def bucketExpr(keyCol: String, buckets: Int): String =
    s"cast(pmod(cast(conv(substring(md5(cast($keyCol as string)), 1, " +
      s"15), 16, 10) as bigint), ${buckets}L) as int)"

  /** Index watermark: the highest batch_id whose pairs are durably in
    * the index (None = nothing indexed yet). */
  def watermark(spark: SparkSession, indexDir: String): Option[Long] =
    Incremental.loadWatermark(spark, wmPath(indexDir))

  /** Bring the index up to the table's high watermark: scan ONLY the
    * batches past the index watermark (batch_id partition pruning),
    * append their distinct (bucket, key, batch_id) pairs, then advance
    * the watermark atomically. Idempotent at the contract level: a
    * crashed append re-runs and may duplicate pairs (readers distinct),
    * a caught-up index returns without touching the table. */
  def ensure(spark: SparkSession, tableDir: String, indexDir: String,
             keyCol: String, buckets: Int = DefaultBuckets): Unit = {
    val b = resolveBuckets(spark, indexDir, buckets)
    // Pin the layout durably the first time through (and backfill the
    // pin for a pre-pin index, whose caller is asserting the count it
    // was built with). Idempotent: the same value every run.
    if (pinnedBuckets(spark, indexDir).isEmpty)
      Incremental.saveWatermark(spark, bucketsPath(indexDir), b.toLong)
    val hwOpt = Incremental.highWatermark(spark, tableDir)
    val wm = watermark(spark, indexDir)
    hwOpt.filterNot(hw => wm.exists(_ >= hw)).foreach { tableHw =>
      val delta = spark.read.parquet(tableDir)
        .filter(wm.map(col("batch_id") > _).getOrElse(lit(true)))
        .select(col(keyCol).as("key"), col("batch_id"))
        .distinct()
        .withColumn("bucket", expr(bucketExpr("key", b)))
      delta.write.partitionBy("bucket").mode("append").parquet(indexDir)
      Incremental.saveWatermark(spark, wmPath(indexDir), tableHw)
    }
  }

  /** The batch partitions holding `key`: a ONE-bucket-partition scan
    * (pruned by the partition filter the plan shows), distinct'd
    * against retry duplication. Metadata-scale result by the layout's
    * construction. */
  def lookup(spark: SparkSession, indexDir: String, key: Any,
             buckets: Int = DefaultBuckets): DataFrame = {
    val b = bucketOf(key, resolveBuckets(spark, indexDir, buckets))
    spark.read.parquet(indexDir)
      .filter(col("bucket") === lit(b) && col("key") === lit(key))
      .select("key", "batch_id").distinct()
  }

  /** Driver-side twin of [[bucketExpr]] for routing a single probe —
    * must stay byte-identical to the SQL form (same md5-of-string,
    * same 15-hex-digit window). */
  private[graft] def bucketOf(key: Any, buckets: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(String.valueOf(key).getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 15)
    val v = java.lang.Long.parseLong(hex, 16)
    (((v % buckets) + buckets) % buckets).toInt
  }

  /** Erase every pair of `key` from the index: rewrites the key's ONE
    * bucket partition without it ([[graft.silver.MergeUpsert]] swap
    * protocol — crash-safe, other buckets untouched). The index is
    * derived data, but it derives from personal data; erasure must
    * reach it. */
  def purgeKey(spark: SparkSession, indexDir: String, key: Any,
               buckets: Int = DefaultBuckets): Unit = {
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val b = bucketOf(key, resolveBuckets(spark, indexDir, buckets))
    val kept = spark.read.parquet(indexDir)
      .filter(col("bucket") === lit(b) && !(col("key") <=> lit(key)))
    graft.silver.MergeUpsert.replacePartitions(spark, indexDir,
      kept, Seq(b), partitionCol = "bucket")
  }
}
