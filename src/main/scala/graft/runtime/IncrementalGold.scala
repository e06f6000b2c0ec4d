package graft.runtime

import graft.silver.MergeUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental GOLD maintenance — recompute only what an ingest delta
  * can have changed, exactly (the [[IncrementalSilver]] /
  * [[graft.text.IncrementalDedup]] discipline applied to the gold
  * layer). `Pipeline.runDaily` recomputes every gold date from the full
  * silver — correct, and what the harness measures — but at 100 TB the
  * daily bill must scale with the DELTA, not with history. The
  * reference runs its gold jobs snapshot-date-scoped for the same
  * reason (gold_user_daily_metrics.py:14,50 filters silver to one
  * date); this module is that operational shape made EXACT, with each
  * table's cross-date window dependencies honored instead of ignored:
  *
  *  - '''User gold''' ([[userDailyDelta]]): every metric of a
  *    (datetime, user) row is a function of that USER's own session
  *    history alone (the return-interval lag partitions by user), so
  *    the exact recompute scope is the affected-user slice across its
  *    full history — per-user history is catalog-behavior bounded, so
  *    the cost is delta-users × their history, never the corpus.
  *  - '''Date-grain golds''' ([[DateGold]]): a date-X row reads
  *    silver dates [X−b, X+f] only (webtoon and country retention are
  *    both yesterday-referencing at the ROW grain: b=1, f=0;
  *    episode/platform are within-date: b=f=0). A silver delta on
  *    dates D therefore affects gold dates A = ∪_{d∈D}[d−f, d+b], and
  *    recomputing A needs silver only on the halo ∪_{X∈A}[X−b, X+f] —
  *    at most 3 dates of input per delta date, independent of history
  *    depth. Restriction is EXACT for the retention windows because
  *    they only test lead/lag == X±1: the restricted frame contains
  *    every session of X±1, and a next/prev visit outside the halo can
  *    only map to "not retained" under both computations
  *    (IncrementalGoldSpec proves delta == full recompute
  *    cell-for-cell for user, webtoon and country).
  *
  * Both paths land through [[MergeUpsert]] (stage → anti-join on the
  * gold grain → staged partition swap), so the write is idempotent and
  * crash-safe, and only affected datetime partitions rewrite. */
object IncrementalGold {

  /** The user gold's table name and row key. */
  val UserGoldTable = "gold_user_daily"
  val UserGoldKeys: Seq[String] = Seq("datetime", "user_id")

  /** Exact user-scoped incremental user gold: recompute
    * [[graft.gold.UserDaily]] over the affected users' full history
    * and converge the target to it on the USER scope — including
    * deletions: a (datetime, user) grain that vanished from the
    * recompute (a late event moved the user's rows off that date) is
    * dropped, which a plain keyed upsert cannot express
    * (MergeUpsert.upsertScoped). `affectedUsers` is one `user_id`
    * column (typically the delta's distinct users); the semi-join
    * scoping lets AQE broadcast it when small. The recompute is
    * materialized by its first use (the merge's staged-dates collect,
    * or a first write), so the write does not run the build over that
    * history again. */
  def userDailyDelta(spark: SparkSession, silver: DataFrame,
                     goldDir: String, affectedUsers: DataFrame,
                     changeLogBatch: Option[Long] = None,
                     producer: String = ChangeLog.DefaultProducer)
      : Unit =
    Interpreted.run(spark) {
      val users = affectedUsers.select(col("user_id")).distinct()
      val scoped = silver.join(users, Seq("user_id"), "left_semi")
      def write(): Unit = MergeUpsert.upsertScoped(spark, goldDir,
        graft.gold.UserDaily.build(scoped).localCheckpoint(eager = false),
        Seq("user_id"), users)
      changeLogBatch match {
        case Some(b) => ChangeLog.recordBatch(spark, goldDir, UserGoldKeys,
          b, df => df.join(users, Seq("user_id"), "left_semi"),
          producer = producer)(write())
        case None => write()
      }
    }

  /** One date-grain gold, declared once: its table, its grain beside
    * `datetime`, its silver dependency span b/f (`backDays`/`fwdDays`,
    * scaladoc above), its build over a silver slice, and the view its
    * change log publishes (identity, or a CONTRACT grain: the sketch
    * gold drops the serialized bytes — build-order-dependent — and
    * logs the estimate). The chain, [[Forget]] and [[Retention]] all
    * write a date gold through [[converge]] on its row here. */
  final case class DateGold(table: String, grainCols: Seq[String],
                            backDays: Int, fwdDays: Int,
                            build: DataFrame => DataFrame,
                            logView: DataFrame => DataFrame = identity) {
    def keys: Seq[String] = "datetime" +: grainCols

    /** [[converge]] on the gold dates a silver change on `deltaDates`
      * can move: ∪_{d} [d−f, d+b]. */
    def delta(spark: SparkSession, silver: Option[DataFrame],
              goldDir: String, deltaDates: Seq[java.sql.Date],
              changeLogBatch: Option[Long] = None,
              producer: String = ChangeLog.DefaultProducer): Unit =
      converge(spark, silver, goldDir, shift(deltaDates, -fwdDays, backDays),
        changeLogBatch, producer)

    /** Exact date-scoped recompute: [[build]] runs over silver
      * restricted to the halo of the `affected` dates, the stage keeps
      * only the affected dates (halo-edge rows would be computed from
      * truncated context), and those date partitions converge to it.
      * With no `silver` the input is gone (a purge emptied silver, or
      * an expiry drops the dates): the recompute would stage nothing,
      * so the affected partitions converge to ABSENCE, and a gold that
      * never materialized is left alone. Where the table publishes a
      * change log, the change publishes like any other batch. */
    def converge(spark: SparkSession, silver: Option[DataFrame],
                 goldDir: String, affected: Seq[java.sql.Date],
                 changeLogBatch: Option[Long] = None,
                 producer: String = ChangeLog.DefaultProducer): Unit =
      if (affected.nonEmpty)
        Interpreted.run(spark) {
          // Date literals, not strings: isin must compare at DateType so
          // the partition filter prunes instead of casting the column.
          val stage = silver match {
            case Some(s) => Some(build(s.filter(col("datetime")
              .isin(shift(affected, -backDays, fwdDays): _*)))
              .filter(col("datetime").isin(affected: _*)))
            case None =>
              MergeUpsert.readIfData(spark, goldDir).map(_.filter(lit(false)))
          }
          // Replace, don't upsert: the stage is the COMPLETE recompute
          // of the affected dates, so grains absent from it must be
          // DROPPED — a keyed upsert would keep a (datetime, grain) row
          // whose silver inputs vanished (deletion propagation); an
          // affected date with no staged rows is deleted outright.
          stage.foreach { st =>
            def write(): Unit =
              MergeUpsert.replacePartitions(spark, goldDir, st, affected)
            changeLogBatch match {
              // The merge diffs exactly the affected-date partitions it
              // rewrites, and the log scope names the same set.
              case Some(b) => ChangeLog.recordBatch(spark, goldDir, keys, b,
                df => logView(df.filter(col("datetime").isin(affected: _*))),
                producer = producer)(write())
              case None => write()
            }
          }
        }
  }

  private def shift(dates: Seq[java.sql.Date], from: Int,
                    to: Int): Seq[java.sql.Date] =
    dates.flatMap(d => (from to to)
      .map(n => java.sql.Date.valueOf(d.toLocalDate.plusDays(n.toLong))))
      .distinct

  /** Episode gold: within-date, b = f = 0. */
  val EpisodeGold: DateGold = DateGold("gold_episode_daily",
    Seq("webtoon_id", "episode_id"), backDays = 0, fwdDays = 0,
    graft.gold.EpisodeDaily.build(_))

  /** Webtoon gold. The retention block groups by `date_add(datetime,
    * 1)` — the gold row at date X describes YESTERDAY's users (X−1)
    * returning at X — so a date-X row reads silver [X−1, X]: b=1, f=0
    * (the lead() in the plan looks forward, but the anchor shifts the
    * result one day forward too). Episode gold (the deepest-episode
    * input) is within-date, covered by the same halo. */
  val WebtoonGold: DateGold = DateGold("gold_webtoon_daily",
    Seq("webtoon_id"), backDays = 1, fwdDays = 0,
    s => graft.gold.WebtoonDaily.build(s, graft.gold.EpisodeDaily.build(s)))

  /** Platform/device gold: within-date, b = f = 0. */
  val PlatformDeviceGold: DateGold = DateGold("gold_platform_device_daily",
    Seq("platform", "device", "browser"), backDays = 0, fwdDays = 0,
    graft.gold.PlatformDeviceDaily.build(_))

  /** Country gold: retention lags one day back, b = 1, f = 0. */
  val CountryGold: DateGold = DateGold("gold_country_daily",
    Seq("country"), backDays = 1, fwdDays = 0,
    graft.gold.CountryDaily.build(_))

  /** Sketch gold ([[SketchGold]]; within-date: b = f = 0). This is the
    * deletion-capable path — the chain's silver deltas can MOVE a
    * user's sessions off a date, which HLL union cannot express, so
    * the chain always rebuilds the affected days' sketches from their
    * (already re-derived) silver slice; [[SketchGold.unionDelta]]'s
    * O(delta) additive path is for append-only feeds. It logs at the
    * contract grain: the serialized sketch is a build-order-dependent
    * byte string (a redelivered no-op batch could re-serialize
    * differently and flag a spurious change); the estimate is a pure
    * function of the day's user SET. */
  val UserSketchGold: DateGold = DateGold("gold_user_sketch", Seq.empty,
    backDays = 0, fwdDays = 0, SketchGold.silverDailySketch(_),
    logView = _.select(col("datetime"), col("dau_est")))

  /** Every date gold, in the chain's write order. */
  val dateGolds: Seq[DateGold] = Seq(EpisodeGold, WebtoonGold,
    PlatformDeviceGold, CountryGold, UserSketchGold)

  def episodeDailyDelta(spark: SparkSession, silver: DataFrame,
                        goldDir: String,
                        deltaDates: Seq[java.sql.Date],
                        changeLogBatch: Option[Long] = None,
                        producer: String = ChangeLog.DefaultProducer)
      : Unit =
    EpisodeGold.delta(spark, Some(silver), goldDir, deltaDates,
      changeLogBatch, producer)

  def webtoonDailyDelta(spark: SparkSession, silver: DataFrame,
                        goldDir: String,
                        deltaDates: Seq[java.sql.Date],
                        changeLogBatch: Option[Long] = None,
                        producer: String = ChangeLog.DefaultProducer)
      : Unit =
    WebtoonGold.delta(spark, Some(silver), goldDir, deltaDates,
      changeLogBatch, producer)

  def platformDeviceDailyDelta(spark: SparkSession, silver: DataFrame,
                               goldDir: String,
                               deltaDates: Seq[java.sql.Date],
                               changeLogBatch: Option[Long] = None,
                               producer: String =
                                 ChangeLog.DefaultProducer): Unit =
    PlatformDeviceGold.delta(spark, Some(silver), goldDir, deltaDates,
      changeLogBatch, producer)

  def countryDailyDelta(spark: SparkSession, silver: DataFrame,
                       goldDir: String,
                       deltaDates: Seq[java.sql.Date],
                       changeLogBatch: Option[Long] = None,
                       producer: String = ChangeLog.DefaultProducer)
      : Unit =
    CountryGold.delta(spark, Some(silver), goldDir, deltaDates,
      changeLogBatch, producer)

  def userSketchDelta(spark: SparkSession, silver: DataFrame,
                      goldDir: String,
                      deltaDates: Seq[java.sql.Date],
                      changeLogBatch: Option[Long] = None,
                      producer: String = ChangeLog.DefaultProducer)
      : Unit =
    UserSketchGold.delta(spark, Some(silver), goldDir, deltaDates,
      changeLogBatch, producer)
}
