package graft.runtime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-RESULT cache keyed on the physical state of the query's
  * input tables: serve a previously-materialized result when the
  * inputs haven't changed, recompute (and re-materialize) when they
  * have. At 100 TB this is the difference between a dashboard query
  * costing a full scan on every refresh and costing one metadata
  * listing: the recompute bill is paid once per INPUT CHANGE, not
  * once per read, and the serving plan is a bare scan of the (small)
  * result.
  *
  * Validity is the inputs' LISTING SIGNATURE — an md5 over every
  * input's recursive file listing (path, length, mtime) — not a
  * high-watermark. Deliberate: watermarks only advance on appends,
  * but this warehouse REWRITES under a fixed watermark (a
  * [[Forget.forgetUser]] partition rewrite, a [[Compaction]], a
  * [[ChangeLog.checkpoint]] fold), and a watermark-keyed cache would
  * serve stale — personal-data-stale, in the forget case — results.
  * The listing catches every rewrite: Spark part-file names carry a
  * fresh job UUID on every write, so any committed mutation changes
  * the signature even when sizes and counts collide; length+mtime
  * back that up. The listing is one metadata sweep per input — the
  * same bill every maintenance op here already pays, O(files), no
  * data read.
  *
  * Consistency caveat, stated not hidden: signature and serve are two
  * reads, so a writer mutating an input BETWEEN them can produce a
  * result computed from a mix — the same torn-read exposure any
  * non-snapshot reader of these tables has, and the staged-swap
  * layout keeps each table internally atomic. The cache never
  * WIDENS the exposure: a hit serves a result that was computed
  * entirely in the past, which is strictly more consistent than a
  * live recompute racing the writer.
  *
  * Crash safety: each materialization lives in a directory NAMED BY
  * ITS SIGNATURE (committed by one staging rename), so a hit needs
  * only the directory's existence and a crash at any point leaves
  * directories that are each internally complete — a torn `_sig`
  * file (observability only) can cost nothing at all, and a crashed
  * staging dir is swept on the next miss. Stale serves are
  * unrepresentable: the wrong directory for the current inputs
  * simply has a different name. Retention: `keepSignatures` bounds
  * the directories per name (LRU by served-at stamp — old
  * materializations are pure caches, deletion is always safe), so
  * inputs that OSCILLATE between states re-hit their retained old
  * materialization instead of recomputing. Retention window, stated:
  * up to `keepSignatures − 1` SUPERSEDED materializations persist on
  * disk until evicted by later misses — for inputs registered via
  * `registerIn`, [[Forget]]/[[Retention]] delete the whole entry (the
  * observer contract), so compliance purges reach them; for
  * UNREGISTERED inputs, rows deleted upstream may linger in old
  * materializations longer than the pre-retention "until the next
  * serve" window — run caches over data subject to deletion
  * requirements with `registerIn` set, or `keepSignatures = 1`.
  * Concurrent serves of the same name may race (both stage correct
  * data; last rename wins); the single-writer-per-name discipline of
  * every maintenance op here applies.
  *
  * What this is NOT: an incremental view ([[StarJoinView]]
  * applies log deltas; this recomputes from scratch on any change) —
  * the right tool when the query isn't log-maintainable or the
  * inputs aren't change-logged, and the wrong one when a 100 TB
  * input changes every batch (then the recompute fires every batch
  * and the cache only dedups reads BETWEEN batches — still often the
  * win for dashboard-cadence readers). */
object ResultCache {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The served-at epoch from a `_served` stamp's BODY, falling back
    * to the file's mtime when the body is empty or torn (pre-content
    * stamps, a crash mid-write — both safe: pure caches). */
  private def servedAt(spark: SparkSession, served: Path): Long = {
    val fromBody =
      try Incremental.readText(spark, served).flatMap(_.trim.toLongOption)
      catch { case _: java.io.IOException => None }
    fromBody.getOrElse(
      fsOf(spark, served).getFileStatus(served).getModificationTime)
  }

  /** One materialization directory PER SIGNATURE (round 16): the dir
    * name commits to the exact (listing, version) it was computed
    * from, so a hit needs only the dir's existence — inputs that
    * OSCILLATE between states (a weekly snapshot flipping back, an
    * A/B table swap) re-hit their old materialization instead of
    * recomputing, and the `_sig` file is observability, not the
    * correctness anchor. [[serve]]'s `keepSignatures` bounds how many
    * such directories a name retains (old ones are pure caches —
    * deletion is always safe). */
  private def dataDir(cacheRoot: String, name: String, sig: String) =
    s"$cacheRoot/$name/data-${md5hex(sig)}"
  private def sigPath(cacheRoot: String, name: String) =
    new Path(s"$cacheRoot/$name/_sig")

  /** The inputs' current listing signature: md5 over every file's
    * (path, length, mtime), recursively, sorted — one metadata sweep
    * per input directory (or file), no data read. A missing input
    * contributes its absence (a table appearing or vanishing changes
    * the signature too). Fields AND entries are NUL-delimited so the
    * encoding is injective: without separators, two distinct listings
    * could encode to the same byte stream (a digit sliding across the
    * length/mtime or mtime/next-path boundary) and collide to one
    * digest — a theoretical stale-serve window in the one component
    * whose whole correctness rests on this hash. NUL cannot appear in
    * a filesystem path and the numbers are plain digits, so every
    * field boundary is unambiguous. */
  def signature(spark: SparkSession, inputDirs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    inputDirs.sorted.foreach { dir =>
      val p = new Path(dir)
      val fs = fsOf(spark, p)
      md.update(s"|$dir|".getBytes("UTF-8"))
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          entries += s"${st.getPath}\u0000${st.getLen}" +
            s"\u0000${st.getModificationTime}\u0000"
        }
        entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      } else md.update("absent".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** True when a serve for the inputs' current state would HIT —
    * exposed so callers (and specs) can distinguish the hit path
    * without serving. A materialization for the current signature
    * suffices (the dir name commits to it); `_sig` is not consulted,
    * matching [[serve]]. */
  def isCurrent(spark: SparkSession, cacheRoot: String, name: String,
                inputDirs: Seq[String], version: String = ""): Boolean = {
    val sig = signature(spark, inputDirs) + ":" + version
    val d = new Path(dataDir(cacheRoot, name, sig))
    fsOf(spark, d).exists(d)
  }

  /** Drop the cached result (the next serve recomputes). */
  def invalidate(spark: SparkSession, cacheRoot: String,
                 name: String): Unit = {
    val root = new Path(s"$cacheRoot/$name")
    val fs = fsOf(spark, root)
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** Serve `name`: the cached result when the inputs' signature AND
    * the caller's `version` token match the last materialization (a
    * bare scan — `compute` is not even constructed into a plan), a
    * recompute-and-materialize otherwise. Either way the returned
    * frame reads from the cache directory, so repeated consumption
    * never re-runs the query.
    *
    * `version` is the QUERY's identity, owned by the caller: the
    * listing signature watches the inputs, but nothing here can see
    * that the query's own definition changed (the cache outlives the
    * JVM, and plan-derived fingerprints are not stable across JVMs —
    * [[graft.PlanFingerprint]]'s scrubbing exists because of that).
    * Bump it with the query (a literal `"v2"`, a config hash) or a
    * definition change silently serves the OLD query's result until
    * the next input change.
    *
    * `registerIn` names logged WAREHOUSE tables (typically ⊆ the
    * inputs) whose [[Consumers]] registries should list this cache as
    * a NON-BLOCKING OBSERVER: the collapse ignores it (a cache owes no
    * log span — any input change is caught by the signature), but
    * [[Forget.forgetUser]] / [[Retention.expireBefore]] DELETE the
    * entry when they purge the table, so a materialization that may
    * hold purged rows never outlives the purge on disk (without this,
    * the signature mismatch prevents a stale SERVE but the old bytes
    * persist until the next serve). Leave empty for inputs outside
    * the warehouse (read-only source data has no registry to write). */
  def serve(spark: SparkSession, cacheRoot: String, name: String,
            inputDirs: Seq[String], version: String = "",
            registerIn: Seq[String] = Seq.empty,
            keepSignatures: Int = 2)
           (compute: => DataFrame): DataFrame = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"cache name '$name' must be a [A-Za-z0-9_-]+ token (it names " +
        "a directory)")
    require(keepSignatures >= 1,
      "keepSignatures must retain at least the signature being served")
    val sig = signature(spark, inputDirs) + ":" + version
    val data = dataDir(cacheRoot, name, sig)
    val dataP = new Path(data)
    val fs = fsOf(spark, dataP)
    // Observer registration is refreshed on every serve (hit or miss):
    // position 0 is meaningless by design — observers never clamp, the
    // signature is the real position — but the refreshed-at stamp
    // keeps the listing honest about which caches are live.
    def registered(df: DataFrame): DataFrame = {
      registerIn.foreach(t => Consumers.register(spark, t,
        s"cache-$name", 0L, viewDir = Some(s"$cacheRoot/$name"),
        observer = true))
      df
    }
    // The served-at stamp inside the materialization dir is the
    // LRU clock for eviction (directory mtimes don't move on reads).
    // The epoch rides in the file BODY and ordering reads the content:
    // object stores without reliable mtimes (or coarse-granularity
    // filesystems where two serves land in one tick) would otherwise
    // order arbitrarily — safe (pure caches) but surprising. A torn
    // body falls back to the file's mtime.
    def stampServed(): Unit = Incremental.writeText(spark,
      new Path(dataP, "_served"), System.currentTimeMillis().toString)
    def writeSigFile(): Unit =
      Incremental.writeText(spark, sigPath(cacheRoot, name), sig)
    // HIT iff a materialization for THIS signature exists — the dir
    // name commits to (listing, version), so a torn `_sig` (crash
    // mid-publish) never forces a recompute the dirs can answer, and
    // oscillating inputs re-hit their retained old materialization.
    if (fs.exists(dataP)) {
      stampServed()
      writeSigFile()
      return registered(spark.read.parquet(data))
    }

    // Miss: retire the signature FIRST (a crash mid-swap must read as
    // a miss in `_sig` terms, never as "new sig + old data"), stage
    // the result, swap, commit the signature, then EVICT beyond
    // keepSignatures (LRU by served-at stamp; old materializations
    // are pure caches — deletion is always safe). Stale staging dirs
    // from crashed computes are swept here — invisible to reads
    // (dot-prefixed) but not free on disk.
    val entryRoot = new Path(s"$cacheRoot/$name")
    if (fs.exists(entryRoot))
      fs.listStatus(entryRoot)
        .filter(_.getPath.getName.startsWith(".data-staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    val sp = sigPath(cacheRoot, name)
    if (fs.exists(sp)) fs.delete(sp, false)
    val staging = new Path(
      s"$cacheRoot/$name/.data-staging-${java.util.UUID.randomUUID()}")
    compute.write.mode("overwrite").parquet(staging.toString)
    if (!fs.rename(staging, dataP))
      sys.error(s"result-cache publish failed: $staging -> $dataP")
    stampServed()
    writeSigFile()
    // Eviction sweep: every data-* dir except the one just served,
    // oldest served-at first, beyond keepSignatures − 1 retained; the
    // pre-round-16 single-slot `data` dir is legacy layout and evicts
    // unconditionally (pure cache — one recompute migrates it).
    val entries = fs.listStatus(entryRoot).filter(_.isDirectory)
    entries.filter(_.getPath.getName == "data")
      .foreach(st => fs.delete(st.getPath, true))
    val others = entries
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("data-") && n != dataP.getName
      }
      .map { st =>
        val served = new Path(st.getPath, "_served")
        val at =
          if (fs.exists(served)) servedAt(spark, served)
          else st.getModificationTime
        (at, st.getPath)
      }
      .sortBy(_._1)(Ordering[Long].reverse)
    others.drop(keepSignatures - 1)
      .foreach { case (_, p) => fs.delete(p, true) }
    registered(spark.read.parquet(data))
  }

  /** Registered face: TPC-H Q1 served THROUGH the cache. The first
    * serve materializes (or validates a previous run's entry against
    * the live listing), the second must HIT — its compute thunk fails
    * loud if ever forced — and the registered answer is the bare scan
    * of the cached result. The DuckDB oracle recomputes Q1 from
    * scratch, so a stale or torn serve (the failure modes the
    * signature discipline exists to prevent) would hash-mismatch. */
  def q1PricingCached(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sim.AnnIndex.dir(s, dir, "result_cache")
    val inputs = Seq(s"$dir/lineitem.parquet")
    val v = "q1-pricing-v1" // bump with any change to Q1's definition
    serve(s, root, "q1_pricing", inputs, v)(
      graft.tpch.CoreOps.q1PricingSummary(s, dir))
    serve(s, root, "q1_pricing", inputs, v)(
      sys.error("cache hit expected: inputs unchanged between serves"))
  }
}
