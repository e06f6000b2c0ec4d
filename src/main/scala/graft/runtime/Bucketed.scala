package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed silver layout — the shuffle-elimination lever for the
  * user-keyed gold tables at 100 TB.
  *
  * Every gold job aggregates or windows the silver sessions by user_id
  * (daily metrics, return intervals, retention self-joins), so a plain
  * parquet layout pays one full hash-partitioning shuffle of the silver
  * table PER gold job — at 100 TB that shuffle, not the aggregation, is
  * the bill. Writing silver once with `bucketBy(user_id)` makes the scan
  * itself hash-partitioned: Catalyst's `HashClusteredDistribution` is
  * already satisfied, so user-keyed groupBys, windows and self-joins over
  * the bucketed table plan with ZERO Exchange (asserted by
  * BucketedSpec), and two tables bucketed the same way equi-join
  * shuffle-free. This is the parquet-native analog of the reference's
  * Iceberg table layout responsibility, expressed the Spark way
  * (`DataFrameWriter.bucketBy` + the session catalog, which is where
  * Spark persists bucket metadata — pathless parquet has nowhere to
  * record it).
  *
  * The bucket count is a LAYOUT constant (like the reference's partition
  * spec): at 100 TB with ~1 GB of silver per bucket-file per date
  * partition, thousands of buckets; [[Buckets]] keeps it small.
  */
object Bucketed {

  /** The silver layout's bucket count. */
  val Buckets = 8

  /** Write `df` as a bucketed, sorted table. Bucket files are
    * additionally sorted by (user_id, start_us) so user-ordered windows
    * read presorted runs. With `location` set the table is EXTERNAL at
    * that path (a pipeline keeps its layout inside its own warehouse
    * dir instead of the session-global default); unset = managed. */
  def writeSilver(spark: SparkSession, table: String, df: DataFrame,
                  location: Option[String] = None): Unit = {
    // Overwrite must also survive an ORPHANED location: a previous
    // process' table directory outlives the (in-memory) catalog's
    // metadata, and CREATE then fails with locationAlreadyExists. Drop
    // what the catalog knows, then clear the location it would use.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Parse, don't wrap: TableIdentifier("db.tbl") would be a single
    // unqualified name and defaultTablePath would point at
    // <warehouse>/db.tbl instead of <warehouse>/db.db/tbl.
    val path = new org.apache.hadoop.fs.Path(location.getOrElse(
      spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).toString))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    val writer = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(Buckets, "user_id")
      .sortBy("user_id", "start_us")
      .format("parquet")
    location.fold(writer)(l => writer.option("path", l)).saveAsTable(table)
  }

  /** Per-(user, date) session metrics over the bucketed silver table —
    * the [[graft.gold.UserDaily]] base aggregate re-planned against the
    * bucketed layout. On a bucketed scan this aggregates with no
    * Exchange: the partial/final split collapses because the scan
    * already satisfies the distribution. */
  def userDailyBase(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy(col("user_id"), col("datetime"))
      .agg(
        org.apache.spark.sql.functions.countDistinct(col("session_id"))
          .as("n_sessions"),
        org.apache.spark.sql.functions.sum(col("duration_ms"))
          .as("total_duration_ms"),
        org.apache.spark.sql.functions.max(col("max_value_cents"))
          .as("max_value_cents"))

  /** The FULL user gold over the bucketed table: [[graft.gold.UserDaily
    * .build]]'s set-based distinct counts plan no Expand, so nothing
    * breaks the scan's clustering — the whole job (main aggregate, lag
    * window, both side-aggregate joins) plans with ZERO
    * ShuffleExchangeExec over a `bucketBy(user_id)` table. */
  def userDaily(spark: SparkSession, table: String): DataFrame =
    graft.gold.UserDaily.build(spark.table(table))

  /** The full country gold re-planned for the bucketed layout — same
    * rows and oracle as [[graft.gold.CountryDaily.build]]. Every RAW-ROW
    * aggregation in that build (the perPair cascade head, the
    * session-distinct, the presence window) groups or partitions on a
    * superset of user_id, so the bucketed scan satisfies their
    * clustering and NO silver row ever crosses an Exchange — the only
    * shuffles left carry (day)- or (day, country)-grain pre-reduced
    * frames, bounded by days × countries at any corpus size
    * (BucketedSpec pins the property). */
  def countryDaily(spark: SparkSession, table: String): DataFrame =
    graft.gold.CountryDaily.build(spark.table(table))

  /** Same-bucket self-join (user_id): with both sides reading one
    * bucketed table, the equi-join needs no Exchange on either side. */
  def selfJoin(spark: SparkSession, table: String): DataFrame = {
    val a = spark.table(table).select(col("user_id"),
      col("session_id").as("sess_a"))
    val b = spark.table(table).select(col("user_id"),
      col("session_id").as("sess_b"))
    a.join(b, Seq("user_id"))
  }
}
