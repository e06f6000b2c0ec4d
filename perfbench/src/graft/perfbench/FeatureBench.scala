package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Random, Try}

import graft.SparkEntry
import graft.ingest.Events
import graft.runtime.{Incremental, Pipeline, SketchGold}
import graft.silver.Dedup
import graft.streaming.SilverLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** The feature-store benchmark's JVM side: drives one workload through the
  * engine's public entry points for a fixed wall-clock window, checks the
  * outputs outside that window, and writes one JSON result file.
  *
  * Usage: FeatureBench <workload> <inputDir> <workDir> <seconds> <trace>
  *        <seed> <resultJson>
  *
  * `inputDir` holds `events/` (history + hourly batches) and `query/` (the
  * query-mix tables), both made by gen.py. With trace = 1 the run instead
  * re-composes the workload's layers under a [[Tracer]] (`daily_build` also
  * traces one pass of the query mix) and reports the per-layer metrics and
  * the trace-parity checks. */
object FeatureBench {

  /** The query mix: (module, SparkEntry query). */
  val QueryMix: Seq[(String, String)] = Seq(
    "text" -> "dedup_minhash_lsh", "text" -> "dedup_incremental",
    "text" -> "retrieve_tfidf_topk", "sim" -> "sim_pq_topk",
    "sim" -> "eval_knn_labels", "ops" -> "join_interval_overlap",
    "ops" -> "graph_pagerank_episodes",
    "runtime" -> "cdc_joinview_orders_mkt",
    "runtime" -> "cdc_view_orders_priority",
    "tpch" -> "q21_suppliers_waiting")

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]

    /** One operation: counts as attempted, and as failed if it throws. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      log(what)
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        notes += s"FAILED $what: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        None
      }
    }

    /** One output check: counts as attempted, and as failed (and the
      * output as wrong) if it is false or throws. */
    def check(what: String)(ok: => Boolean): Unit =
      if (op(s"check $what")(require(ok, "output differs from its " +
          "reference")).isEmpty) wrongOutput = true

    /** Set when an output differs from its reference. */
    var wrongOutput = false

    def metric(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)
    def metric(name: String, v: Long, unit: String): Unit =
      metric(name, v.toDouble, unit)

    /** Outputs handed to DuckDB: name -> (table dir under the work dir,
      * oracle SQL). */
    val oracle = mutable.LinkedHashMap.empty[String, (String, String)]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsS, traceS, seedS,
      resultPath) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Outcome
    val seconds = secondsS.toDouble
    val seed = seedS.toLong
    try (workload, traceS) match {
      case ("daily_build", "0") =>
        dailyBuild(spark, out, inputDir, workDir, seconds)
      case ("microbatch", "0") =>
        microbatch(spark, out, inputDir, workDir, seconds)
      case ("query_mix", "0") =>
        queryMix(spark, out, inputDir, workDir, seconds, seed)
      case ("daily_build", "1") =>
        val t = new Tracer(spark)
        tracedDaily(spark, out, t, inputDir, workDir)
        tracedQueries(spark, out, t, inputDir, workDir, seed)
      case ("microbatch", "1") =>
        tracedMicrobatch(spark, out, new Tracer(spark), inputDir, workDir)
      case ("query_mix", "1") =>
        tracedQueries(spark, out, new Tracer(spark), inputDir, workDir, seed)
      case ("train", _) =>
        // Class-loading run of the build's class-data-sharing archive.
        Pipeline.runDaily(spark, eventsDir(inputDir), s"$workDir/wh-daily")
        seedWarehouse(spark, s"$workDir/bronze", s"$workDir/wh-micro", inputDir)
    } catch { case e: Throwable =>
      out.failed += 1
      out.attempted += 1
      out.wrongOutput = true
      out.notes += s"FAILED run: $e"
    }
    out.metric("peak_rss_mb", peakRssMb(), "MB")
    writeResult(out, resultPath)
    spark.stop()
  }

  // ---- helpers -----------------------------------------------------

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${secs(started)}%.1fs] $msg")

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  def peakRssMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)).getOrElse(0.0)

  /** Closed loop, one client: repeats `op` until `seconds` have passed
    * (at least once, at most `maxOps` times); returns each result. */
  def loop[T](seconds: Double, maxOps: Int = Int.MaxValue)
             (op: Int => T): Seq[T] = {
    val t0 = now()
    val res = mutable.ArrayBuffer.empty[T]
    while (res.isEmpty || (res.size < maxOps && secs(t0) < seconds))
      res += op(res.size)
    res.toSeq
  }

  /** Table equality as multisets of rows, for each (name, got, expected):
    * same row count and the same two order-free sums of a 64-bit row hash
    * over the expected side's columns — one aggregation job for all pairs
    * instead of a shuffle-heavy exceptAll per pair. Serialized sketch
    * bytes are skipped: their layout depends on merge order, and the
    * estimate column carries the sketch contract. */
  def sameRows(spark: SparkSession,
               pairs: Seq[(String, DataFrame, DataFrame)]): Map[String, Boolean] = {
    val sides = pairs.flatMap { case (name, got, exp) =>
      val cols = exp.schema.fields.filter(_.dataType != BinaryType)
        .map(_.name).sorted.map(col).toSeq
      Seq(got -> "got", exp -> "exp").map { case (df, side) =>
        df.select(lit(name).as("t"), lit(side).as("side"),
          xxhash64(cols: _*).as("h"))
      }
    }
    val digests = sides.reduce(_ unionByName _)
      .groupBy(col("t"), col("side"))
      .agg(count(lit(1)).as("n"),
        sum(col("h").bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(shiftrightunsigned(col("h"), 32)).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    pairs.map { case (name, _, _) =>
      name -> digests.get((name, "got")).exists(g =>
        digests.get((name, "exp")).contains(g))
    }.toMap
  }

  def eventsDir(inputDir: String): String = s"$inputDir/events"
  def batchFile(inputDir: String, i: Int): String =
    f"$inputDir/events/batches/batch_$i%02d.parquet"
  def nBatches(inputDir: String): Int =
    Option(new File(s"$inputDir/events/batches").list())
      .map(_.count(_.endsWith(".parquet"))).getOrElse(0)

  def seriesInfo(out: Outcome, key: String, xs: Seq[Double]): Unit =
    out.info(key) = xs.map(t => f"$t%.3f").mkString(",")

  // ---- daily_build -------------------------------------------------

  /** The daily gold job as it runs in production: a fresh process builds
    * the warehouse from scratch. `op_s` is that first build; further
    * builds while the window lasts are reported as warm repeats. */
  def dailyBuild(spark: SparkSession, out: Outcome, inputDir: String,
                 workDir: String, seconds: Double): Unit = {
    val src = eventsDir(inputDir)
    val wh = s"$workDir/wh-daily"
    val times = loop(seconds) { _ =>
      rm(wh)
      val t0 = now()
      out.op("runDaily")(Pipeline.runDaily(spark, src, wh))
      secs(t0)
    }
    out.metric("op_s", times.head, "s")
    seriesInfo(out, "daily_build_s", times)
    dumpSilver(spark, out, wh, workDir)
  }

  /** The built silver goes to DuckDB, against its oracle. */
  def dumpSilver(spark: SparkSession, out: Outcome, wh: String,
                 workDir: String): Unit = {
    out.check("dump silver_sessions for DuckDB") {
      spark.read.parquet(s"$wh/silver_sessions").coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/check/silver_sessions")
      true
    }
    out.oracle("silver_sessions") =
      ("input/events", SparkEntry.oracleSql("silver_sessions"))
  }

  // ---- microbatch --------------------------------------------------

  /** Serving reads after a batch: the rolling 7-day WAU over the
    * pipeline's sketch gold, and a point read of the user gold. */
  def servingReads(spark: SparkSession, out: Outcome, wh: String,
                   probe: Probe): Unit = {
    out.op("rolling 7-day WAU over gold_user_sketch") {
      SketchGold.rollingDistinct(spark, s"$wh/gold_user_sketch", 7)
        .filter(col("day") === lit(probe.day)).collect()
    }
    out.op("point read of gold_user_daily") {
      spark.read.parquet(s"$wh/gold_user_daily")
        .filter(col("user_id") === probe.userId &&
          col("datetime") === lit(probe.day))
        .collect()
    }
  }

  def seedWarehouse(spark: SparkSession, bronze: String, wh: String,
                    inputDir: String): Option[Long] = {
    Incremental.appendBatch(spark, bronze,
      spark.read.parquet(s"${eventsDir(inputDir)}/events.parquet"), 0L)
    val wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    SilverLoop.refreshGoldJoinView(spark, wh)
    wm
  }

  /** A user and the day of the batch's newest event, for the reads. */
  final case class Probe(userId: Long, day: java.sql.Date)

  /** Commits batch file `i` to bronze as batch id i + 1. */
  def appendBatch(spark: SparkSession, bronze: String, inputDir: String,
                  i: Int): Probe = {
    val df = spark.read.parquet(batchFile(inputDir, i))
    Incremental.appendBatch(spark, bronze, df, i + 1L)
    val r = df.orderBy(col("ts").desc).select(col("user_id"),
      to_date(col("ts"))).head()
    Probe(r.getLong(0), r.getDate(1))
  }

  def microbatch(spark: SparkSession, out: Outcome, inputDir: String,
                 workDir: String, seconds: Double): Unit = {
    val bronze = s"$workDir/bronze"
    val wh = s"$workDir/wh-micro"
    val t0 = now()
    var wm = seedWarehouse(spark, bronze, wh, inputDir)
    out.metric("setup_s", secs(t0), "s")
    val samples = loop(seconds, nBatches(inputDir)) { i =>
      val t0 = now()
      val probe = appendBatch(spark, bronze, inputDir, i)
      val t1 = now() // bronze commit
      out.op(s"batch $i: runDailyIncremental + join view") {
        wm = Pipeline.runDailyIncremental(spark, bronze, wh, wm)
        SilverLoop.refreshGoldJoinView(spark, wh)
      }
      val t2 = now()
      servingReads(spark, out, wh, probe)
      (secs(t0), secs(t1, t2))
    }
    out.metric("op_s", median(samples.map(_._2)), "s")
    seriesInfo(out, "batch_latency_s", samples.map(_._2))
    out.info("microbatch_s") = f"${samples.map(_._1).sum}%.3f"
    checkRecompute(spark, out, bronze, wh, workDir)
  }

  /** The incremental chain's contract: the warehouse equals a full
    * recompute over the same bronze. Silver and the five row golds go to
    * DuckDB, against their oracles over the bronze events; the sketch gold
    * and the join view are recomputed here from that checked silver and
    * those checked golds. */
  def checkRecompute(spark: SparkSession, out: Outcome, bronze: String,
                     wh: String, workDir: String): Unit = {
    def dump(df: => DataFrame, to: String): Unit =
      out.check(s"dump $to for DuckDB") {
        df.coalesce(1).write.mode("overwrite").parquet(s"$workDir/check/$to")
        true
      }
    // The gold oracles recompute from the events table without the silver
    // layer's keep-latest dedup, so they get bronze already deduplicated
    // (the silver oracle dedups again, which is idempotent).
    dump(Dedup.keepLatest(Events.withTsUs(
      spark.read.parquet(bronze).drop("batch_id"))).drop("ts_us"),
      "bronze/events.parquet")
    Seq("silver_sessions", "gold_user_daily", "gold_episode_daily",
        "gold_webtoon_daily", "gold_platform_device_daily",
        "gold_country_daily").foreach { t =>
      dump(spark.read.parquet(s"$wh/$t"), t)
      out.oracle(t) = ("check/bronze", SparkEntry.oracleSql(t))
    }
    def table(t: String) = spark.read.parquet(s"$wh/$t")
    val view = table("gold_episode_daily").as("a")
      .join(table("gold_webtoon_daily").as("b"),
        Seq("datetime", "webtoon_id"), "left")
      .groupBy(col("datetime"))
      .agg(sum(coalesce(col("a.sessions"), lit(0L))).as("ep_sessions"),
        sum(coalesce(col("b.total_sessions"), lit(0L)))
          .as("wt_sessions_fanout"))
    val pairs = Seq(
      ("gold_user_sketch", table("gold_user_sketch"),
        SketchGold.silverDailySketch(table("silver_sessions"))),
      ("gold_episode_webtoon_jview", table("gold_episode_webtoon_jview"),
        view))
    val same = Try(sameRows(spark, pairs))
    pairs.foreach { case (t, _, _) =>
      out.check(s"$t == recompute from the checked tables")(same.get(t))
    }
  }

  // ---- query_mix ---------------------------------------------------

  def runQuery(spark: SparkSession, dir: String, name: String,
               sink: DataFrame => Unit): Unit = {
    try sink(SparkEntry.queries(name)(spark, dir))
    finally spark.catalog.clearCache()
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs query `q` once, its result written for the DuckDB check (the
    * same dump `graft.Verify` makes). */
  def checkedQuery(spark: SparkSession, out: Outcome, dir: String,
                   workDir: String, q: String): Unit = {
    out.check(s"$q, result dumped for DuckDB") {
      runQuery(spark, dir, q, _.coalesce(1).write
        .mode("overwrite").parquet(s"$workDir/check/$q"))
      true
    }
    out.oracle(q) = ("input/query", SparkEntry.oracleSql(q))
  }

  def queryMix(spark: SparkSession, out: Outcome, inputDir: String,
               workDir: String, seconds: Double, seed: Long): Unit = {
    val dir = s"$inputDir/query"
    val t0 = now()
    QueryMix.foreach { case (_, q) => checkedQuery(spark, out, dir, workDir, q) }
    out.metric("setup_s", secs(t0), "s")
    val rnd = new Random(seed)
    val passes = loop(seconds) { _ =>
      val t0 = now()
      rnd.shuffle(QueryMix).foreach { case (_, q) =>
        out.op(q)(runQuery(spark, dir, q, noop))
      }
      secs(t0)
    }
    out.metric("op_s", median(passes), "s")
    seriesInfo(out, "query_mix_s", passes)
  }

  // ---- traced run --------------------------------------------------

  /** Warehouse tables: the visible top-level directories. */
  def tables(wh: String): Seq[String] =
    Option(new File(wh).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getName).sorted

  def tableOf(wh: String, path: String): String = {
    val rel = path.stripPrefix(new File(wh).getAbsolutePath).stripPrefix("/")
    rel.takeWhile(_ != '/').replaceAll("^silver_sessions_bucketed_.*",
      "silver_sessions_bucketed")
  }

  /** Tables written since the last reset, in order, consecutive repeats
    * collapsed. */
  def writeOrder(t: Tracer, wh: String): Seq[String] = {
    t.drain()
    val abs = new File(wh).getAbsolutePath
    t.writes.filter(_.path.startsWith(abs + "/"))
      .map(w => tableOf(wh, w.path))
      .foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.lastOption.contains(x)) acc else acc :+ x }
  }

  /** Relative paths of the visible files under `dir`. */
  def files(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).map(root.relativize(_).toString)
      .toArray.toSeq.map(_.toString)
      .filterNot(_.split('/').exists(_.startsWith("."))).sorted
    finally s.close()
  }

  /** Both warehouses hold the same tables with the same rows; a directory
    * without parquet data (registries, markers) must hold the same files. */
  def parity(spark: SparkSession, out: Outcome, what: String,
             whA: String, whB: String): Unit = {
    val (ta, tb) = (tables(whA), tables(whB))
    out.check(s"$what trace parity: table set " +
        s"${ta.mkString(",")} vs ${tb.mkString(",")}")(
      ta.map(tableOf(whA, _)) == tb.map(tableOf(whB, _)))
    val (data, other) = ta.zip(tb).partition { case (a, _) =>
      files(s"$whA/$a").exists(_.endsWith(".parquet")) }
    val same = Try(sameRows(spark, data.map { case (a, b) =>
      (a, spark.read.parquet(s"$whB/$b"), spark.read.parquet(s"$whA/$a")) }))
    data.foreach { case (a, _) =>
      out.check(s"$what trace parity: $a")(same.get(a)) }
    other.foreach { case (a, b) =>
      out.check(s"$what trace parity: $a")(
        files(s"$whA/$a") == files(s"$whB/$b")) }
  }

  def spanSelf(t: Tracer, name: String): Double =
    t.spans.filter(_.name == name).map(_.selfS).sum

  /** Untraced `Pipeline.runDaily` into A, then the traced composition
    * into B; both must write the same tables in the same order and leave
    * the same rows. */
  def tracedDaily(spark: SparkSession, out: Outcome, t: Tracer,
                  inputDir: String, workDir: String): Unit = {
    val src = eventsDir(inputDir)
    val (whA, whB) = (s"$workDir/wh-daily-a", s"$workDir/wh-daily-b")
    t.reset()
    out.op("runDaily")(Pipeline.runDaily(spark, src, whA))
    val orderA = writeOrder(t, whA)
    t.reset()
    val stats = out.op("traced daily build")(
      Traced.dailyBuild(spark, t, src, whB))
    val orderB = writeOrder(t, whB)
    out.check(s"daily_build trace parity: write order " +
      s"${orderA.mkString(">")} vs ${orderB.mkString(">")}")(orderA == orderB)
    val spans = Seq("silver.build", "runtime.bucketed_layout",
      "ingest.quarantine") ++ Traced.GoldTables.map("gold." + _) ++
      Seq("runtime.compaction", "runtime.vacuum")
    spans.foreach { s =>
      val c = t.counter(s)
      out.metric(s"$s.self_s", spanSelf(t, s), "s")
      if (s != "runtime.vacuum") out.metric(s"$s.jobs", c.jobs, "count")
      if (s == "silver.build" || s.startsWith("gold."))
        out.metric(s"$s.shuffle_bytes", c.shuffleWriteBytes, "B")
      if (s == "silver.build")
        out.metric(s"$s.output_bytes", c.outputBytes, "B")
    }
    out.metric("runtime.compaction.files_rewritten",
      stats.map(_.filesRewritten).getOrElse(0L), "count")
    parity(spark, out, "daily_build", whA, whB)
    dumpSilver(spark, out, whA, workDir)
  }

  /** Seeds one warehouse, applies batch 0 untraced and batch 1 (same
    * shape) through [[Traced]]: both must write the same tables in the
    * same order, and the warehouse must then meet the recompute contract.
    * The overhead compares the two consecutive batches. */
  def tracedMicrobatch(spark: SparkSession, out: Outcome, t: Tracer,
                       inputDir: String, workDir: String): Unit = {
    val bronze = s"$workDir/bronze"
    val wh = s"$workDir/wh-micro"
    val wm0 = seedWarehouse(spark, bronze, wh, inputDir)
    appendBatch(spark, bronze, inputDir, 0)
    t.reset()
    val t0 = now()
    val wm1 = out.op("batch 0: runDailyIncremental + join view") {
      val w = Pipeline.runDailyIncremental(spark, bronze, wh, wm0)
      SilverLoop.refreshGoldJoinView(spark, wh)
      w
    }.flatten
    val untraced = secs(t0)
    val orderA = writeOrder(t, wh)
    val probe = appendBatch(spark, bronze, inputDir, 1)
    t.reset()
    val t1 = now()
    val stats = out.op("traced batch 1") {
      val s = Traced.incrementalBatch(spark, t, bronze, wh, wm1)
      Traced.joinView(spark, t, wh)
      s
    }
    val tracedS = secs(t1)
    val orderB = writeOrder(t, wh)
    out.check(s"microbatch trace parity: write order " +
      s"${orderA.mkString(">")} vs ${orderB.mkString(">")}")(orderA == orderB)
    t.span("runtime.sketch_rolling_wau") {
      out.op("rolling 7-day WAU over gold_user_sketch") {
        SketchGold.rollingDistinct(spark, s"$wh/gold_user_sketch", 7)
          .filter(col("day") === lit(probe.day)).collect()
      }
    }
    t.span("gold.point_read") {
      out.op("point read of gold_user_daily") {
        spark.read.parquet(s"$wh/gold_user_daily")
          .filter(col("user_id") === probe.userId &&
            col("datetime") === lit(probe.day)).collect()
      }
    }
    t.drain()
    def self(s: String): Unit = out.metric(s"$s.self_s", spanSelf(t, s), "s")
    def jobs(s: String): Unit = out.metric(s"$s.jobs", t.counter(s).jobs, "count")
    val silver = "runtime.incremental_silver"
    self(silver); jobs(silver)
    out.metric(s"$silver.input_bytes", t.counter(silver).inputBytes, "B")
    out.metric(s"$silver.shuffle_bytes", t.counter(silver).shuffleWriteBytes,
      "B")
    out.metric(s"$silver.affected_users",
      stats.map(_.affectedUsers).getOrElse(0L), "count")
    out.metric(s"$silver.affected_dates",
      stats.map(_.affectedDates).getOrElse(0L), "count")
    self("ingest.quarantine_delta")
    // Rows each gold stage wrote into the table vs into its change log
    // (pre-images land in a `_changelog_pre` sibling and count as neither).
    val abs = new File(wh).getAbsolutePath
    def rows(table: String): Long =
      t.writes.filter(_.path.startsWith(s"$abs/$table/")).map(_.rows).sum
    Traced.GoldTables.foreach { g =>
      val s = s"runtime.incremental_gold.$g"
      val rewritten = rows(s"gold_$g")
      self(s); jobs(s)
      out.metric(s"$s.rows_written", rewritten, "count")
      out.metric(s"$s.useful_ratio", if (rewritten == 0) 0.0
        else rows(s"gold_${g}_changelog").toDouble / rewritten, "ratio")
    }
    self("streaming.gold_join_view"); jobs("streaming.gold_join_view")
    self("runtime.sketch_rolling_wau")
    self("gold.point_read")
    out.metric("trace.microbatch.overhead_s", tracedS - untraced, "s")
    out.info("microbatch_untraced_s") = f"$untraced%.3f"
    out.info("microbatch_traced_s") = f"$tracedS%.3f"
    checkRecompute(spark, out, bronze, wh, workDir)
  }

  /** One cold pass over the mix, each query in its own span; the results
    * are written (instead of the timed loop's noop sink) for the DuckDB
    * check, so a span includes writing its small result. */
  def tracedQueries(spark: SparkSession, out: Outcome, t: Tracer,
                    inputDir: String, workDir: String, seed: Long): Unit = {
    t.reset()
    new Random(seed).shuffle(QueryMix).foreach { case (m, q) =>
      t.span(s"$m.$q")(checkedQuery(spark, out, s"$inputDir/query", workDir, q))
    }
    t.drain()
    QueryMix.foreach { case (m, q) =>
      val s = s"$m.$q"
      out.metric(s"$s.self_s", spanSelf(t, s), "s")
      out.metric(s"$s.jobs", t.counter(s).jobs, "count")
      out.metric(s"$s.shuffle_bytes", t.counter(s).shuffleWriteBytes, "B")
    }
  }

  // ---- result ------------------------------------------------------

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeResult(out: Outcome, path: String): Unit = {
    val metrics = out.metrics.map { case (k, (v, u)) =>
      s"""${jsonStr(k)}: {"value": $v, "unit": ${jsonStr(u)}}"""
    }.mkString("{", ", ", "}")
    val info = out.info.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ", ", "}")
    val notes = out.notes.map(jsonStr).mkString("[", ", ", "]")
    val oracle = out.oracle.map { case (k, (src, sql)) =>
      s"""${jsonStr(k)}: {"src": ${jsonStr(src)}, "sql": ${jsonStr(sql)}}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(path),
      s"""{"attempted": ${out.attempted}, "failed": ${out.failed}, """ +
        s""""wrong_output": ${out.wrongOutput}, "metrics": $metrics, """ +
        s""""info": $info, "notes": $notes, "oracle": $oracle}""")
  }
}
