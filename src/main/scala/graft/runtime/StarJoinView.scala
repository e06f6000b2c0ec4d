package graft.runtime

import graft.ops.{CdcStarView, CdcView}
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED star join view maintained from the FACT's and EVERY
  * dimension's change log — the operational loop over
  * [[graft.ops.CdcStarView]], which carries the decomposition and its
  * telescoping proof. A two-table join view is the K = 1 star: one
  * [[DimSpec]]; a single-table group-by view is the K = 0 star: no
  * dims, its vector the fact position alone. A view must hold a
  * position in EACH log and commit them atomically with the data, or
  * a crash leaves state that double-applies one side's span.
  * Reference analogue: the one gold→gold dependency —
  * the webtoon job reading the episode gold
  * (`gold_webtoon_daily_metrics.py:74-77`), maintained in the loop by
  * [[graft.streaming.SilverLoop.refreshGoldJoinView]].
  *
  * Each refresh applies the signed decomposition with every span-start
  * state reconstructed by [[ChangeLog.snapshotAt]] at the view's
  * committed position and the fact probe SEMI-RESTRICTED to the moving
  * dim's join keys — so the refresh bill is O(spans × fan-out +
  * Δ-keyed slices + |view|), never a re-join. The base join runs
  * exactly once, at seed time.
  *
  * JOINT exactly-once without a transaction log: the position VECTOR
  * (fact + one per dim) rides the view rows as constant
  * `_as_of_f` / `_as_of_d0` / … / `_as_of_d<k-1>` columns through the
  * single-hive-partition staged swap, so data and ALL K+1 positions
  * commit in ONE rename — every crash window leaves either the old
  * vector (the spans re-apply once, correctly) or the new one (they
  * never re-apply); a torn vector is structurally unreachable. The
  * sibling `_pos` vector file (`p0,p1,…`; at K = 0 one number, the
  * text [[Incremental.saveWatermark]] writes) the single-slot form
  * also writes is not the commit — the data swap is — it is the
  * resolution target the pointer registrations read; it only ever
  * lags the data, which resolves conservatively.
  *
  * Every log gets a registered consumer (`sjview-f-*` /
  * `sjview-d<i>-*`, each carrying the view dir), so no log's
  * [[ChangeLog.checkpoint]] can fold entries the view still owes and
  * a purge of ANY of the K+1 logs ([[Forget]]/[[Retention]] →
  * [[Consumers.invalidateAll]]) invalidates the view into a re-seed.
  * The K+1 registrations are POINTERS ([[Consumers.registerPointer]])
  * at the view's vector file, one component each — static entries
  * written before the seed, so the registries can never disagree:
  * advancing the vector file advances all K+1 registrations in ONE
  * rename, and a missing or lagging file resolves conservatively at
  * −1 until the next refresh heals it.
  *
  * The view's CONFIG SIGNATURE ([[Loop.cfg]]) commits as a `_cfg`
  * sibling at seed time and is compared on every later refresh:
  * maintained state is only valid under the EXACT definition that
  * seeded it, so any mismatch — including a missing file — drops the
  * state and re-seeds: one loud O(base join) bill instead of a silent
  * wrong answer or a mixed-layout discovery error.
  *
  * Upgrade path, not a migration: state written by an earlier loop
  * never matches a signature here (single-table views stamped
  * `_as_of`, kept no `_cfg` and registered `mview-*` entries holding
  * their position directly; pair views committed a pair-shaped
  * `_cfg` under `jview-*` pointers), so its first refresh here takes
  * that drop-and-re-seed path. The drop also retires every
  * registration on the input logs that carries the view dir under a
  * name this definition does not register — the old
  * `mview-*`/`jview-*` entries included.
  *
  * Ordering hazard, stated: every head is read BEFORE its table —
  * under the single-writer-per-table discipline every maintenance op
  * here assumes, no batch lands between the two reads; a violated
  * discipline surfaces as a netted-out double-count on the next
  * refresh's span. A side with no change log is legal-static (head
  * −1, no term of its own, and its span-start state in OTHER sides'
  * terms is its current state, read directly — never via snapshotAt,
  * which needs a log) — enable CDC on it later and its history starts
  * there. */
object StarJoinView {

  /** One dimension of the star: its table directory, row key, and the
    * fact-side equi-join columns (present on fact and dim images).
    * `cols`, when set, restricts what the side CONTRIBUTES to the
    * joined frame beyond keys/joinKeys — every read of the side
    * (seed, current, span-start, log images) projects down first,
    * honoring the non-key-collision contract mechanically (two sides
    * sharing generic column names — the reference golds all do — are
    * pruned apart instead of colliding) and pruning the IVM path's
    * shuffles to the referenced columns. `fCols` is the fact's twin.
    * None = everything. */
  final case class DimSpec(dir: String, keys: Seq[String],
                           joinKeys: Seq[String],
                           cols: Option[Seq[String]] = None)

  /** Column restriction for a plain side frame. */
  private def projectPlain(df: DataFrame, keys: Seq[String],
                           joinKeys: Seq[String],
                           cols: Option[Seq[String]]): DataFrame =
    cols match {
      case None => df
      case Some(cs) =>
        val want = (keys ++ joinKeys ++ cs).distinct
        df.select(want.map(col): _*)
    }

  /** [[projectPlain]] over a net-diff frame (`o_`/`n_` image pairs). */
  private def projectNet(net: DataFrame, keys: Seq[String],
                         joinKeys: Seq[String],
                         cols: Option[Seq[String]]): DataFrame =
    cols match {
      case None => net
      case Some(cs) =>
        val vals = (joinKeys ++ cs).distinct.filterNot(keys.contains)
        val want = keys ++ vals.flatMap(c => Seq(s"o_$c", s"n_$c")) :+
          "diff_status"
        net.select(want.map(col): _*)
    }

  /** Star-shape guard: every dim must equi-join the FACT on FACT
    * columns. The ordered decomposition ([[CdcStarView]]) relies on
    * each dim's term probing the fact side directly; a dim whose
    * joinKeys live on ANOTHER dim (a snowflake dim-on-dim chain)
    * silently doesn't fit it — the chained join would resolve the key
    * only after the earlier dim attached, and the per-dim span terms
    * would probe the wrong side. Fail loud with the workaround
    * instead of an opaque unresolved-column error mid-join. Checked
    * when a seed commits the config signature, which pins the join
    * keys from then on — the steady path pays no schema read for it,
    * and a star with no dims none at all. */
  private def requireStarShape(spark: SparkSession, factDir: String,
                               dims: Seq[DimSpec]): Unit = {
    lazy val factCols = spark.read.option("mergeSchema", "true")
      .parquet(factDir).schema.fieldNames.toSet
    dims.zipWithIndex.foreach { case (d, i) =>
      val missing = d.joinKeys.filterNot(factCols.contains)
      require(missing.isEmpty,
        s"dim #$i (${d.dir}) joins on " +
          s"${missing.mkString("[", ", ", "]")}, which are not FACT " +
          "columns: this loop maintains a STAR (every dim equi-joins " +
          "the fact directly), not a snowflake dim-on-dim chain. " +
          "Pre-join the snowflake arm into ONE dim table (and log " +
          "that table) so it joins the fact on fact columns, or " +
          "restructure the view")
    }
  }

  private val AsOfFCol = "_as_of_f"
  private def asOfDCol(i: Int) = s"_as_of_d$i"
  private val PartCol = "gv_pt" // same convention as MaterializedView

  def consumerName(viewDir: String, side: String): String =
    s"sjview-$side-" +
      MaterializedView.consumerName(viewDir).stripPrefix("mview-")

  /** The committed position vector (fact +: dims), if state exists. */
  def positions(spark: SparkSession, viewDir: String,
                nDims: Int): Option[Seq[Long]] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && MergeUpsert.sweepAndHasData(fs, p)) {
      val cols = AsOfFCol +: (0 until nDims).map(asOfDCol)
      val r = spark.read.parquet(viewDir)
        .agg(max(col(cols.head)), cols.tail.map(c => max(col(c))): _*)
        .head()
      Some(cols.indices.map(r.getLong))
    } else None
  }

  /** One view definition bound for a refresh — the commit skeleton
    * both layouts share: the invalidation/config drop, the heads, the
    * pointer registrations, the seed, the stamping, the span delta and
    * the sibling files (`_pos` vector, `_swapping` marker, `_cfg`). */
  private final class Loop(spark: SparkSession, factDir: String,
                           dims: Seq[DimSpec], viewDir: String,
                           fKeys: Seq[String], viewDims: Seq[String],
                           measures: Seq[(String, Column)],
                           joinType: String,
                           fCols: Option[Seq[String]], layout: String) {
    require(joinType == "inner" || joinType == "left",
      s"joinType '$joinType' — this loop maintains inner and chained " +
        "left outer star views")

    val names: Seq[String] = measures.map(_._1)
    val asOfCols: Seq[String] = AsOfFCol +: dims.indices.map(asOfDCol)
    private val allJoinKeys = dims.flatMap(_.joinKeys).distinct
    val viewPath = new Path(viewDir)
    val fs = viewPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def sibling(suffix: String) = viewDir.stripSuffix("/") + suffix
    private val posPath = sibling("_pos")
    val marker = new Path(sibling("_swapping"))
    private val cfgPath = new Path(sibling("_cfg"))

    /** (log's table, registry name) per input, in vector order. */
    private val inputs: Seq[(String, String)] =
      (factDir -> consumerName(viewDir, "f")) +:
        dims.zipWithIndex.map { case (d, i) =>
          d.dir -> consumerName(viewDir, s"d$i")
        }

    /** The CONFIG SIGNATURE — a canonical rendering of every knob that
      * determines what the persisted state MEANS: physical layout
      * (single-slot vs hive-partitioned and on which dim), join type,
      * the fact's row key and column restriction, every dim's row
      * key, join keys and column restriction, the view dims and the
      * measure name:expression pairs. */
    val cfg: String = (Seq(
      s"layout=$layout",
      s"joinType=$joinType",
      s"fKeys=${fKeys.mkString(",")}",
      s"fCols=${fCols.fold("*")(_.mkString(","))}") ++
      dims.zipWithIndex.map { case (d, i) =>
        s"d$i=${d.keys.mkString(",")}|${d.joinKeys.mkString(",")}|" +
          d.cols.fold("*")(_.mkString(","))
      } ++ Seq(
      s"viewDims=${viewDims.mkString(",")}",
      s"measures=${measures
        .map { case (n, e) => s"$n:${e.toString}" }.mkString(";")}"))
      .mkString("\n")

    def hasState: Boolean =
      fs.exists(viewPath) && MergeUpsert.sweepAndHasData(fs, viewPath)

    /** Honor a pending invalidation, drop state seeded under a different
      * definition, and read the heads. Returns the heads. */
    def open(): Seq[Long] = {
      if (MaterializedView.isInvalid(spark, viewDir)) dropState()
      else if (hasState) {
        val stored = Incremental.readText(spark, cfgPath)
        if (!stored.contains(cfg)) {
          System.err.println(
            s"WARN [graft.StarJoinView] view $viewDir was seeded under " +
              "a different definition (" +
              stored.fold("no committed config")(_ => "config mismatch") +
              "); dropping its state to re-seed under the current one " +
              "— maintained state is only valid under the definition " +
              "that seeded it")
          dropState()
          unregisterForeign()
        }
      }
      inputs.map { case (dir, _) =>
        Incremental.highWatermark(spark, ChangeLog.logDir(dir))
          .getOrElse(-1L)
      }
    }

    private def dropState(): Unit = {
      fs.delete(viewPath, true)
      fs.delete(new Path(posPath), false)
      fs.delete(marker, false)
      fs.delete(cfgPath, false)
    }

    /** After a re-definition drop: retire every registration on the
      * current input logs that carries this view dir under a name this
      * definition does not register (an old layout's or an old dim
      * count's) — left in place it would pin the collapse forever. */
    private def unregisterForeign(): Unit = {
      val ours = inputs.toSet
      inputs.map(_._1).distinct.foreach { dir =>
        Consumers.list(spark, dir)
          .filter(r => r.viewDir.contains(viewDir) &&
            !ours.contains(dir -> r.name))
          .foreach(r => Consumers.unregister(spark, dir, r.name))
      }
    }

    /** Pointer registrations: static entries resolving positions from
      * the vector file — all K+1 registries advance in its ONE rename;
      * these calls only (re)write the pointer + liveness stamp. */
    def registered(pos: Seq[Long]): Seq[Long] = {
      inputs.zipWithIndex.foreach { case ((dir, name), i) =>
        Consumers.registerPointer(spark, dir, name, posPath, i,
          viewDir = Some(viewDir))
      }
      pos
    }

    def stamp(v: DataFrame, pos: Seq[Long]): DataFrame =
      asOfCols.zip(pos).foldLeft(v) { case (acc, (c, p)) =>
        acc.withColumn(c, lit(p))
      }

    private def read(dir: String): DataFrame =
      ChangeLog.readByFooters(spark, dir)

    /** Seed: the one full star join, stamped at every head and written
      * by `write`, then the vector file and the config signature. The
      * left seed folds measure NULLs to 0 (sum(coalesce)) so it agrees
      * cell-for-cell with the delta path's contract. Both shape checks
      * read only schemas and run first, so a refused definition
      * registers nothing; every pointer is then registered before any
      * data work — a fold arriving mid-seed already sees all K+1
      * sides, resolved conservatively at −1 until the vector file
      * commits. */
    def seed(heads: Seq[Long])(write: DataFrame => Unit): Seq[Long] = {
      requireStarShape(spark, factDir, dims)
      val joined = dims.foldLeft(
        projectPlain(read(factDir), fKeys, allJoinKeys, fCols)) {
        (acc, d) => acc.join(
          projectPlain(read(d.dir), d.keys, d.joinKeys, d.cols),
          d.joinKeys, joinType)
      }
      val seed = joined.groupBy(viewDims.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          measures.map { case (n, e) =>
            (if (joinType == "left") sum(coalesce(e, lit(0L)))
             else sum(e)).as(n)
          }: _*)
        .select(viewDims.map(col) ++ names.map(col) :+
          col("n_rows"): _*)
      CdcView.requireExactMeasures(seed.schema, names)
      registered(heads)
      write(stamp(seed, heads))
      saveVec(heads)
      Incremental.writeText(spark, cfgPath, cfg)
      registered(heads)
    }

    /** The signed view delta from position vector `pos` to `heads` —
      * the star decomposition assembled from every log's span. It
      * telescopes from ANY starting vector (each term's identity holds
      * per side independently), which is what lets
      * [[refreshPartitioned]] top up straggler partitions from their
      * OWN vectors. ChangeLog.span fails loud when a position predates its
      * log's collapse boundary — unreachable while the view is
      * registered. */
    def delta(pos: Seq[Long], heads: Seq[Long]): DataFrame = {
      // Each moving log is listed ONCE: its span up to the head read
      // at open() feeds both the side's net and its span-start state.
      // A side that did not move — including an UNLOGGED side (head
      // −1 from open()'s listing) — is at its current state, read
      // directly (the thunks are lazy, so a side whose start state no
      // term needs never pays a read either).
      val spans = inputs.zipWithIndex.map { case ((dir, _), i) =>
        Option.when(pos(i) < heads(i))(
          ChangeLog.span(spark, dir, pos(i), heads(i)))
      }
      def startState(dir: String, keys: Seq[String], i: Int): DataFrame =
        spans(i).fold(read(dir))(ChangeLog.snapshotAt(spark, dir, keys, _))
      def net(keys: Seq[String], i: Int): Option[DataFrame] =
        spans(i).map(ChangeLog.net(_, keys))
      val fNet = net(fKeys, 0)
        .map(projectNet(_, fKeys, allJoinKeys, fCols))
      val sides = dims.zipWithIndex.map { case (d, i) =>
        CdcStarView.Side(d.keys, d.joinKeys,
          projectPlain(read(d.dir), d.keys, d.joinKeys, d.cols),
          net = net(d.keys, i + 1)
            .map(projectNet(_, d.keys, d.joinKeys, d.cols)),
          atStart = () => projectPlain(
            startState(d.dir, d.keys, i + 1), d.keys, d.joinKeys,
            d.cols))
      }
      def fStart(): DataFrame = projectPlain(
        startState(factDir, fKeys, 0), fKeys, allJoinKeys, fCols)
      if (joinType == "left")
        CdcStarView.leftStarGroupDelta(fNet, fKeys,
          fAtStart = fStart _, sides, viewDims, measures)
      else
        CdcStarView.starGroupDelta(fNet, fKeys,
          fAtStart = fStart _, sides, viewDims, measures)
    }

    /** The VECTOR-position file — one atomic file (the sidecar
      * protocol, [[Incremental.writeText]]) holding every position
      * (`p0,p1,…,pk`): separate watermark files could tear
      * between writes, the exact state the vector design exists to
      * make unrepresentable. Sibling of the view (never inside it —
      * the seed's initial overwrite clears the root). */
    def saveVec(pos: Seq[Long]): Unit =
      Incremental.writeText(spark, new Path(posPath), pos.mkString(","))

    def loadVec(): Option[Seq[Long]] =
      Incremental.readText(spark, new Path(posPath)).flatMap { text =>
        val longs = text.trim.split(",").toSeq.flatMap(_.toLongOption)
        if (longs.size == asOfCols.size) Some(longs) else None
      }
  }

  private def atHead(pos: Seq[Long], heads: Seq[Long]): Boolean =
    pos.indices.forall(i => pos(i) >= heads(i))

  /** Seed or incrementally refresh the star view. `joinType` is
    * `"inner"` or `"left"` (the CHAINED LEFT OUTER star — the
    * reference's actual gold shape; maintained by
    * [[graft.ops.CdcStarView.leftStarGroupDelta]]'s per-dim
    * count-augmented delta; measure NULLs read 0, mirror with
    * `COALESCE(SUM(e), 0)`). Returns the committed position vector
    * (fact +: dims). */
  def refresh(spark: SparkSession, factDir: String, dims: Seq[DimSpec],
              viewDir: String, fKeys: Seq[String],
              viewDims: Seq[String],
              measures: Seq[(String, Column)],
              joinType: String = "inner",
              fCols: Option[Seq[String]] = None): Seq[Long] =
    Interpreted.run(spark) {
      val loop = new Loop(spark, factDir, dims, viewDir, fKeys, viewDims,
        measures, joinType, fCols, layout = "single")
      val heads = loop.open()
      def persist(v: DataFrame): Unit =
        MergeUpsert.replaceAll(spark, viewDir,
          v.withColumn(PartCol, lit("all")), partitionCol = PartCol)
      positions(spark, viewDir, dims.size) match {
        case None => loop.seed(heads)(persist)
        case Some(pos) if atHead(pos, heads) =>
          // Nothing new — heal a vector file the last commit's crash
          // window left missing or lagging the data-committed vector.
          if (!loop.loadVec().contains(pos)) loop.saveVec(pos)
          loop.registered(pos)
        case Some(pos) =>
          val view = spark.read.parquet(viewDir)
            .drop(loop.asOfCols :+ PartCol: _*)
          persist(loop.stamp(CdcView.applyDelta(view,
            loop.delta(pos, heads), viewDims, loop.names), heads))
          loop.saveVec(heads)
          loop.registered(heads)
      }
    }

  /** Large-view refresh. The view is hive-partitioned on `partDim`
    * (one of its dims — every group in exactly one partition) and a
    * refresh rewrites ONLY the partitions the span delta touches:
    * O(spans + touched partitions), where [[refresh]] pays O(|view|)
    * per refresh. Exactly-once cannot ride one directory swap here
    * (the touched partitions swap one rename at a time), so the
    * commit is split into two durable pieces:
    *
    *  - every row carries the vector ITS partition has applied (all
    *    partitions staged by one refresh stamp the same target vector;
    *    a crash mid-swap leaves a mix);
    *  - the vector file (committed LAST) records the last
    *    fully-applied vector: every entry at or below it is applied to
    *    every partition.
    *
    * Recovery is per-partition local arithmetic from each straggler's
    * OWN vector ([[Loop.delta]] telescopes from any start), never a
    * re-seed: crashed seed (data with no file — recover the vector as
    * the per-column minima), mixed stragglers (per-vector top-ups),
    * all-swapped-file-not (every top-up span empty, the file
    * recommits). The file never runs AHEAD of the data, so every
    * registered position stays conservative. */
  def refreshPartitioned(spark: SparkSession, factDir: String,
                         dims: Seq[DimSpec], viewDir: String,
                         fKeys: Seq[String], viewDims: Seq[String],
                         measures: Seq[(String, Column)],
                         partDim: String,
                         joinType: String = "inner",
                         fCols: Option[Seq[String]] = None): Seq[Long] =
    Interpreted.run(spark) {
      refreshParts(spark, factDir, dims, viewDir, fKeys, viewDims,
        measures, partDim, joinType, fCols)
    }

  private def refreshParts(spark: SparkSession, factDir: String,
                           dims: Seq[DimSpec], viewDir: String,
                           fKeys: Seq[String], viewDims: Seq[String],
                           measures: Seq[(String, Column)],
                           partDim: String, joinType: String,
                           fCols: Option[Seq[String]]): Seq[Long] = {
    require(viewDims.contains(partDim),
      s"partDim '$partDim' must be one of the view dims " +
        s"${viewDims.mkString("[", ", ", "]")} — a group must live " +
        "in exactly one partition. Its values must be NON-NULL (a " +
        "null hive partition defeats value-scoped rewrites); for a " +
        "LEFT star pick a fact-side dim — dim-side dims are null for " +
        "unmatched groups")
    val loop = new Loop(spark, factDir, dims, viewDir, fKeys, viewDims,
      measures, joinType, fCols, layout = s"part:$partDim")
    val heads = loop.open()
    val asOfCols = loop.asOfCols
    val fs = loop.fs
    if (!loop.hasState)
      return loop.seed(heads)(v =>
        MergeUpsert.replaceAll(spark, viewDir, v, partitionCol = partDim))
    val pos = loop.loadVec().getOrElse {
      // Data without a vector file ⇔ a crashed seed (later refreshes
      // only ever advance an existing file): one vector on every row —
      // recover it as the per-column minima.
      val r = spark.read.parquet(viewDir)
        .agg(min(col(asOfCols.head)),
          asOfCols.tail.map(c => min(col(c))): _*).head()
      val rec = asOfCols.indices.map(r.getLong)
      loop.saveVec(rec)
      rec
    }
    if (atHead(pos, heads)) {
      // A marker here is a LEFTOVER: the file only advances after its
      // refresh's swaps, so stamps never exceed a committed at-the-head
      // vector. Clear it now, or every later data-bearing refresh pays
      // the full-view repair scan until one completes the full path.
      if (fs.exists(loop.marker)) fs.delete(loop.marker, false)
      return loop.registered(pos)
    }
    val delta = loop.delta(pos, heads).localCheckpoint()
    val deltaTouched = delta.select(col(partDim)).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    // Crash-window completion: a partition swapped by a CRASHED
    // refresh is stamped AHEAD of the committed vector — and if its
    // applied sub-span happens to NET AWAY over the full committed
    // span (a key added in the crashed span, removed after), the delta
    // names no row for it, yet it still owes the complement span. The
    // swap-intent marker (created before any partition swap, deleted
    // after the vector file commits) gates the repair scan, so the
    // steady state pays one fs.exists; when set, partitions with any
    // stamp component exceeding the committed vector join the
    // straggler top-ups.
    val ahead: IndexedSeq[Any] =
      if (!fs.exists(loop.marker)) IndexedSeq.empty
      else ChangeLog.readByFooters(spark, viewDir)
        .groupBy(col(partDim))
        .agg(max(col(asOfCols.head)).as("_p0"),
          asOfCols.tail.zipWithIndex.map { case (c, i) =>
            max(col(c)).as(s"_p${i + 1}")
          }: _*)
        .filter(asOfCols.indices
          .map(i => col(s"_p$i") > pos(i)).reduce(_ || _))
        .select(col(partDim)).collect().map(_.get(0)).toIndexedSeq
    val touched = (deltaTouched ++ ahead).distinct
    if (touched.isEmpty) {
      loop.saveVec(heads)
      fs.delete(loop.marker, false)
      return loop.registered(heads)
    }
    val viewCur = ChangeLog.readByFooters(spark, viewDir)
      .filter(col(partDim).isin(touched: _*))
    // Straggler detection: each partition's applied VECTOR, clamped
    // to the committed vector component-wise (the file invariant).
    val partPos: Map[Any, Seq[Long]] = viewCur
      .groupBy(col(partDim))
      .agg(max(col(asOfCols.head)).as("a0"),
        asOfCols.tail.zipWithIndex.map { case (c, i) =>
          max(col(c)).as(s"a${i + 1}")
        }: _*)
      .collect()
      .map(r => r.get(0) ->
        asOfCols.indices.map(i => math.max(r.getLong(i + 1), pos(i))))
      .toMap
    val groups = touched.groupBy(v => partPos.getOrElse(v, pos))
    val staged = groups.toSeq.flatMap { case (vec, parts) =>
      if (atHead(vec, heads)) None // at the head — skip, don't rewrite
      else {
        val deltaV =
          if (vec == pos) delta.filter(col(partDim).isin(parts: _*))
          else loop.delta(vec, heads).filter(col(partDim).isin(parts: _*))
        val viewPart = viewCur.filter(col(partDim).isin(parts: _*))
          .drop(asOfCols: _*)
        Some((parts, loop.stamp(
          CdcView.applyDelta(viewPart, deltaV, viewDims, loop.names),
          heads)))
      }
    }
    if (staged.nonEmpty) {
      // Marker BEFORE the first rename, deleted after the vector file
      // commits — a crash in between leaves it set for the repair scan.
      Incremental.touch(spark, loop.marker)
      val stage = staged.map(_._2).reduce(_.unionByName(_))
      MergeUpsert.replacePartitions(spark, viewDir, stage,
        staged.flatMap(_._1), partitionCol = partDim)
    }
    loop.saveVec(heads)
    fs.delete(loop.marker, false)
    loop.registered(heads)
  }
}
