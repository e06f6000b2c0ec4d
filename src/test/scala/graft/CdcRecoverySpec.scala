package graft

import graft.ops.TableDiff
import graft.runtime.{ChangeLog, Compaction, Incremental, Vacuum}
import graft.silver.MergeUpsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The change log's durability and lifecycle contracts, each against a
  * tiny keyed table so the failure injection is surgical:
  *
  *  - crash/retry protocol of [[ChangeLog.recordBatch]] (the pending
  *    entry the merge commits before its swap, the durable pre-image
  *    a retry rebuilds from it, the keep-on-republish rule, and the
  *    sweeps' handling of pending entries): a retry after a PARTIAL
  *    chain failure must not erase the published entry, and a crash
  *    between the table write and the log publish must still produce
  *    the REAL entry on retry — both were silent-data-loss windows of
  *    the localCheckpoint-era implementation;
  *  - additive schema evolution mid-history: netDiff == endpoint diff
  *    and replay == snapshot under the UNION schema;
  *  - [[ChangeLog.checkpoint]] retention collapse: replay-preserving,
  *    idempotent, loud for a consumer left behind the boundary;
  *  - [[ChangeLog.stream]]: a Structured Streaming tail accumulates
  *    exactly the batch `readSince` view. */
class CdcRecoverySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("grp", StringType)))

  private def df(rows: (Long, String, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 2), schema)

  private def sortedCells(d: DataFrame): Seq[Seq[String]] = {
    val cols = d.columns.sorted
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  private def assertSame(got: DataFrame, exp: DataFrame,
                         what: String): Unit =
    assert(sortedCells(got) === sortedCells(exp), s"$what diverged")

  test("a chain-level retry after a completed publish KEEPS the " +
      "entry (idempotent no-op write must not erase real changes)") {
    val dir = tmpDir("cdc-retry") + "/t"
    MergeUpsert.replaceAll(spark, dir,
      df((1L, "a", "g1"), (2L, "b", "g2")), partitionCol = "grp")
    val state1 = df((1L, "a2", "g1"), (2L, "b", "g2"), (3L, "c", "g2"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, state1, partitionCol = "grp"))
    def entry1 = ChangeLog.readLog(spark, dir).get
      .filter(col("batch_id") === 1L)
    assert(entry1.count() === 2L) // changed id1, added id3
    // The chain failed PAST this table; the retry re-runs the same
    // batch. The write is an idempotent no-op (before == after), so a
    // live-table diff is empty — the published entry must survive.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, state1, partitionCol = "grp"))
    assert(entry1.count() === 2L,
      "retry of a published batch erased its change entry")
    assert(entry1.filter(col("diff_status") === "added" &&
      col("id") === 3L).count() === 1L)
  }

  test("a batch-lineage table refuses a change log: it is already its " +
      "own per-batch log, and batch_id would collide with the entry's") {
    val dir = tmpDir("cdc-guard") + "/t"
    val e = intercept[IllegalArgumentException] {
      ChangeLog.recordBatch(spark, dir, Seq("batch_id", "id"), 1L)(())
    }
    assert(e.getMessage.contains("its own per-batch change log"))
  }

  test("runDaily refuses a blind full recompute over a LOGGED " +
      "warehouse (it would rewrite tables without publishing deltas)") {
    val wh = tmpDir("cdc-runDaily")
    val dir = s"$wh/silver_sessions"
    MergeUpsert.replaceAll(spark, dir, df((1L, "a", "g1")),
      partitionCol = "grp")
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, df((1L, "a2", "g1")),
        partitionCol = "grp"))
    val e = intercept[IllegalArgumentException] {
      graft.runtime.Pipeline.runDaily(spark, wh, wh)
    }
    assert(e.getMessage.contains("replay contract"))
  }

  test("a crash AFTER the table write but BEFORE the publish still " +
      "yields the real entry on retry (durable pre-image)") {
    val dir = tmpDir("cdc-crash") + "/t"
    MergeUpsert.replaceAll(spark, dir,
      df((1L, "a", "g1"), (2L, "b", "g2")), partitionCol = "grp")
    val state1 = df((2L, "b2", "g2"), (3L, "c", "g1"))
    // The write COMPLETES, then the job dies before the diff/publish.
    intercept[RuntimeException] {
      ChangeLog.recordBatch(spark, dir, Seq("id"), 1L) {
        MergeUpsert.replaceAll(spark, dir, state1, partitionCol = "grp")
        throw new RuntimeException("crash between write and publish")
      }
    }
    assert(ChangeLog.readLog(spark, dir).isEmpty,
      "crashed batch must not have published")
    // Retry: the live table is already post-batch — only the durable
    // pre-image knows the true before state. The entry must carry the
    // REMOVED id1, the change to id2 and the added id3.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, state1, partitionCol = "grp"))
    val e = ChangeLog.readLog(spark, dir).get
    assert(e.filter(col("diff_status") === "removed" &&
      col("id") === 1L).count() === 1L,
      "pre-image lost the removed row")
    assert(e.filter(col("diff_status") === "changed" &&
      col("id") === 2L).count() === 1L)
    assert(e.filter(col("diff_status") === "added" &&
      col("id") === 3L).count() === 1L)
    // And the pre-image retired with the publish: a SECOND retry is
    // the keep-on-republish path, not a stale-pre-image diff.
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, state1, partitionCol = "grp"))
    assert(e.count() === 3L)
    // Endpoint contract holds across the whole mess.
    assertSame(
      ChangeLog.replay(df((1L, "a", "g1"), (2L, "b", "g2")), e, Seq("id")),
      spark.read.parquet(dir), "replay after crash-retry")
  }

  private lazy val fs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sparkContext.hadoopConfiguration)

  private def pendingOf(dir: String, b: Long): Path =
    new Path(ChangeLog.logDir(dir), s"${ChangeLog.PendingPrefix}$b")

  private def committedPending(dir: String, b: Long): Boolean =
    fs.exists(new Path(pendingOf(dir, b), ChangeLog.PendingCommitMarker))

  private def entryOf(dir: String, b: Long): DataFrame =
    ChangeLog.readLog(spark, dir).get
      .filter(col("batch_id") === b).drop("batch_id")

  private def diffOf(before: DataFrame, after: DataFrame): DataFrame =
    TableDiff.diff(before, after, Seq("id"))
      .filter(col("diff_status") =!= "unchanged")

  /** Run `body`, which must crash just before the merge's `n`-th
    * partition swap (1-based) — the writer dying at that point of its
    * rename sequence. */
  private def crashBeforeSwap(n: Int)(body: => Unit): Unit = {
    var swaps = 0
    MergeUpsert.beforeSwap.set { part =>
      swaps += 1
      if (swaps == n)
        throw new IllegalStateException(s"crash before swapping $part")
    }
    try {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.startsWith("crash before swapping"))
    } finally MergeUpsert.beforeSwap.remove()
  }

  private def logged(dir: String, b: Long, state: DataFrame): Unit =
    ChangeLog.recordBatch(spark, dir, Seq("id"), b)(
      MergeUpsert.replaceAll(spark, dir, state, partitionCol = "grp"))

  private val state0 = Seq((1L, "a", "g1"), (2L, "b", "g2"), (3L, "c", "g3"))
  private val state1 = Seq((1L, "a1", "g1"), (2L, "b1", "g2"),
    (4L, "d", "g3"))
  private val state2 = Seq((1L, "a2", "g1"), (3L, "c", "g3"),
    (5L, "e", "g4"))

  test("folded protocol: a crash after the pending entry commits and " +
      "before the first rename leaves the table untouched, and a " +
      "retry with a different write publishes exactly its diff") {
    val dir = tmpDir("cdc-fold-first") + "/t"
    MergeUpsert.replaceAll(spark, dir, df(state0: _*), partitionCol = "grp")
    crashBeforeSwap(1)(logged(dir, 1L, df(state1: _*)))
    assertSame(spark.read.parquet(dir), df(state0: _*),
      "table after a crash before any rename")
    assert(ChangeLog.readLog(spark, dir).isEmpty,
      "a crashed batch must not have published")
    assert(committedPending(dir, 1L),
      "the entry must be committed before the first rename")
    logged(dir, 1L, df(state2: _*))
    assertSame(entryOf(dir, 1L), diffOf(df(state0: _*), df(state2: _*)),
      "entry of the retried batch")
    assert(!fs.exists(pendingOf(dir, 1L)))
    assertSame(spark.read.parquet(dir), df(state2: _*), "table")
  }

  test("folded protocol: a crash between two partition renames is " +
      "healed exactly by the retry — the pre-state comes from the live " +
      "table plus the committed entry") {
    val dir = tmpDir("cdc-fold-mid") + "/t"
    MergeUpsert.replaceAll(spark, dir, df(state0: _*), partitionCol = "grp")
    crashBeforeSwap(2)(logged(dir, 1L, df(state1: _*)))
    // One partition swapped, the others not: the live table is neither
    // the pre- nor the post-state.
    val mixed = spark.read.parquet(dir).localCheckpoint()
    assert(sortedCells(mixed) != sortedCells(df(state0: _*)) &&
      sortedCells(mixed) != sortedCells(df(state1: _*)))
    assert(committedPending(dir, 1L))
    logged(dir, 1L, df(state1: _*))
    assertSame(entryOf(dir, 1L), diffOf(df(state0: _*), df(state1: _*)),
      "entry after a between-renames crash")
    assertSame(spark.read.parquet(dir), df(state1: _*), "table")
    // The pre-image the retry rebuilt retired with the publish: a
    // further retry is the keep-on-republish path.
    logged(dir, 1L, df(state1: _*))
    assertSame(entryOf(dir, 1L), diffOf(df(state0: _*), df(state1: _*)),
      "entry after a second retry")
  }

  test("folded protocol: a retry whose write differs from the crashed " +
      "attempt's publishes exactly TableDiff(true pre-state, final " +
      "state)") {
    val dir = tmpDir("cdc-fold-differ") + "/t"
    MergeUpsert.replaceAll(spark, dir, df(state0: _*), partitionCol = "grp")
    crashBeforeSwap(2)(logged(dir, 1L, df(state1: _*)))
    logged(dir, 1L, df(state2: _*))
    val e = entryOf(dir, 1L)
    assertSame(e, diffOf(df(state0: _*), df(state2: _*)),
      "entry of a retry with a different write")
    assertSame(ChangeLog.replay(df(state0: _*),
        ChangeLog.readLog(spark, dir).get, Seq("id")),
      spark.read.parquet(dir), "replay after the retry")
  }

  test("folded protocol: the first publish into a table with no log " +
      "root yet — a first write that crashed mid-swap — retries to an " +
      "entry that adds every row") {
    val dir = tmpDir("cdc-fold-new") + "/t"
    crashBeforeSwap(2)(logged(dir, 1L, df(state1: _*)))
    val ld = new Path(ChangeLog.logDir(dir))
    assert(fs.listStatus(ld).map(_.getPath.getName).toSeq ===
      Seq(s"${ChangeLog.PendingPrefix}1"),
      "the log root holds the pending entry alone")
    logged(dir, 1L, df(state1: _*))
    assertSame(entryOf(dir, 1L), diffOf(df(), df(state1: _*)),
      "first entry after a crashed first write")
    // The next batch publishes beside it (no overwrite of the root).
    logged(dir, 2L, df(state2: _*))
    assert(Incremental.batches(spark, ChangeLog.logDir(dir)) ===
      Seq(1L, 2L))
    assertSame(entryOf(dir, 2L), diffOf(df(state1: _*), df(state2: _*)),
      "second entry")
  }

  test("folded protocol: Vacuum.sweep and Compaction keep a committed " +
      "pending entry and delete an uncommitted one") {
    val wh = tmpDir("cdc-fold-sweep")
    val dir = s"$wh/t"
    MergeUpsert.replaceAll(spark, dir, df(state0: _*), partitionCol = "grp")
    crashBeforeSwap(2)(logged(dir, 1L, df(state1: _*)))
    val ld = ChangeLog.logDir(dir)
    // A crash while writing an entry: files, no commit marker.
    def plantPartial(): Path = {
      val p = new Path(ld, s"${ChangeLog.PendingPrefix}9")
      fs.mkdirs(p)
      fs.create(new Path(p, "part-00000.parquet")).close()
      p
    }
    val partial = plantPartial()
    Vacuum.sweep(spark, wh)
    assert(committedPending(dir, 1L), "vacuum dropped a committed entry")
    assert(!fs.exists(partial), "vacuum kept an uncommitted entry")
    plantPartial()
    Compaction.compact(spark, ld)
    assert(committedPending(dir, 1L),
      "compaction dropped a committed entry")
    assert(!fs.exists(partial), "compaction kept an uncommitted entry")
    logged(dir, 1L, df(state1: _*))
    assertSame(entryOf(dir, 1L), diffOf(df(state0: _*), df(state1: _*)),
      "entry after the sweeps and the retry")
  }

  test("a logged write must merge into its table exactly once") {
    val dir = tmpDir("cdc-fold-merges") + "/t"
    MergeUpsert.replaceAll(spark, dir, df(state0: _*), partitionCol = "grp")
    val none = intercept[IllegalArgumentException] {
      ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(())
    }
    assert(none.getMessage.contains("performed no MergeUpsert merge"))
    val twice = intercept[IllegalArgumentException] {
      ChangeLog.recordBatch(spark, dir, Seq("id"), 1L) {
        MergeUpsert.replaceAll(spark, dir, df(state1: _*),
          partitionCol = "grp")
        MergeUpsert.replaceAll(spark, dir, df(state2: _*),
          partitionCol = "grp")
      }
    }
    assert(twice.getMessage.contains("more than once"))
    assert(ChangeLog.readLog(spark, dir).isEmpty,
      "neither write may publish an entry")
  }

  test("additive schema evolution mid-history: netDiff == endpoint " +
      "diff and replay == snapshot under the union schema") {
    val dir = tmpDir("cdc-evo") + "/t"
    val state0 = df((1L, "a", "g1"), (2L, "b", "g2"), (5L, "e", "g1"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "grp")
    // Batch 1, pre-evolution: keyed upsert (no deletions).
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.upsert(spark, dir,
        df((1L, "a2", "g1"), (3L, "c", "g2")), Seq("id"),
        partitionCol = "grp"))
    // Batch 2, EVOLUTION: the stage carries a new column `w`; only the
    // touched partitions rewrite, so g1 keeps pre-evolution footers —
    // every later snapshot/log read must merge schemas to see `w`.
    val evolved = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(2L, "b2", "g2", "x"), Row(4L, "d", "g3", "y")), 2),
      schema.add(StructField("w", StringType)))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
      MergeUpsert.upsert(spark, dir, evolved, Seq("id"),
        partitionCol = "grp", evolveSchema = true))
    val log = ChangeLog.readLog(spark, dir).get
    // The evolution batch logged the new column: id2's entry names it.
    val id2 = log.filter(col("batch_id") === 2L && col("id") === 2L).head()
    assert(id2.getSeq[String](id2.fieldIndex("changed_cols"))
      .contains("w"))
    assert(id2.getAs[String]("o_w") == null &&
      id2.getAs[String]("n_w") === "x")
    // Pre-evolution entries read as NULL for the evolved columns.
    val id1 = log.filter(col("batch_id") === 1L && col("id") === 1L).head()
    assert(id1.getAs[String]("o_w") == null &&
      id1.getAs[String]("n_w") == null)

    val t1 = spark.read.option("mergeSchema", "true").parquet(dir)
    // Endpoint diff under the union schema: state0 never had `w`, so
    // its image is the null-widened one — exactly what a mergeSchema
    // read of pre-evolution files returns.
    val t0 = state0.withColumn("w", lit(null).cast("string"))
    assertSame(ChangeLog.netDiff(log, Seq("id")),
      TableDiff.diff(t0, t1, Seq("id"))
        .filter(col("diff_status") =!= "unchanged"),
      "netDiff vs endpoint under evolution")
    // Replay from the PRE-evolution base reproduces the evolved
    // snapshot — untouched id5 comes out null-w via the union align.
    assertSame(ChangeLog.replay(state0, log, Seq("id")), t1,
      "replay across evolution")

    // And the retention collapse FOLDS ACROSS the evolution: the base
    // entry lands under the union schema (pre-evolution images
    // null-widened), so netDiff and replay survive the fold intact.
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 2L))
    val folded = ChangeLog.readLog(spark, dir).get
    assertSame(ChangeLog.netDiff(folded, Seq("id")),
      TableDiff.diff(t0, t1, Seq("id"))
        .filter(col("diff_status") =!= "unchanged"),
      "netDiff after an evolution-straddling collapse")
    assertSame(ChangeLog.replay(state0, folded, Seq("id")), t1,
      "replay after an evolution-straddling collapse")
  }

  /** Three-batch history used by the collapse and streaming tests:
    * state0 unlogged, then b1 add/change, b2 change-then-revert seed +
    * removal, b3 revert + add. */
  private def buildHistory(dir: String): (DataFrame, DataFrame) = {
    val state0 = df((1L, "a", "g1"), (2L, "b", "g2"), (5L, "e", "g1"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "grp")
    val s1 = df((1L, "a2", "g1"), (2L, "b", "g2"), (3L, "c", "g2"),
      (5L, "e", "g1"))
    val s2 = df((1L, "a2", "g1"), (3L, "c2", "g2"), (5L, "e2", "g1"))
    val s3 = df((1L, "a2", "g1"), (3L, "c2", "g2"), (5L, "e", "g1"),
      (6L, "f", "g3"))
    Seq(s1, s2, s3).zipWithIndex.foreach { case (st, i) =>
      ChangeLog.recordBatch(spark, dir, Seq("id"), i + 1L)(
        MergeUpsert.replaceAll(spark, dir, st, partitionCol = "grp"))
    }
    (state0, s3)
  }

  test("checkpoint folds the consumed prefix into one net base entry: " +
      "replay-preserving, idempotent, loud behind the boundary") {
    val dir = tmpDir("cdc-ckpt") + "/t"
    val (state0, _) = buildHistory(dir)
    val fullNet = ChangeLog.netDiff(
      ChangeLog.readLog(spark, dir).get, Seq("id")).localCheckpoint()
    val endpoint = spark.read.parquet(dir).localCheckpoint()

    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 2L))
    val ld = ChangeLog.logDir(dir)
    assert(Incremental.batches(spark, ld) === Seq(2L, 3L),
      "batch 1 must fold into the base entry at 2")
    assert(ChangeLog.collapseBoundary(spark, dir).contains(2L))

    val collapsed = ChangeLog.readLog(spark, dir).get
    assertSame(ChangeLog.netDiff(collapsed, Seq("id")), fullNet,
      "netDiff after collapse")
    assertSame(ChangeLog.replay(state0, collapsed, Seq("id")), endpoint,
      "replay after collapse")

    // Consumer contracts: behind the boundary is LOUD, at/past it
    // filters as before, origin replay stays valid.
    intercept[IllegalArgumentException] {
      ChangeLog.readSince(spark, dir, Some(1L)).get.count()
    }
    assert(ChangeLog.readSince(spark, dir, Some(2L)).get
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
    assertSame(ChangeLog.readSince(spark, dir, None).get, collapsed,
      "readSince(None)")

    // Idempotent: re-collapsing at the boundary folds nothing and the
    // log is unchanged (the net of a net is itself).
    val before = sortedCells(collapsed.localCheckpoint())
    assert(!ChangeLog.checkpoint(spark, dir, Seq("id"), 2L))
    assert(sortedCells(ChangeLog.readLog(spark, dir).get) === before)

    // A watermark PAST the high watermark clamps to the last committed
    // entry (empty batches publish as absence) — never fabricates one.
    assert(ChangeLog.checkpoint(spark, dir, Seq("id"), 10L))
    assert(Incremental.batches(spark, ld) === Seq(3L))
    assert(ChangeLog.collapseBoundary(spark, dir).contains(3L))
    assertSame(
      ChangeLog.replay(state0, ChangeLog.readLog(spark, dir).get,
        Seq("id")),
      endpoint, "replay after full collapse")
  }

  test("a streaming tail of the log accumulates exactly the batch " +
      "readSince view, across publishes incl. a redelivered no-op") {
    val dir = tmpDir("cdc-stream") + "/t"
    val state0 = df((1L, "a", "g1"), (2L, "b", "g2"))
    MergeUpsert.replaceAll(spark, dir, state0, partitionCol = "grp")
    val s1 = df((1L, "a2", "g1"), (2L, "b", "g2"), (3L, "c", "g2"))
    ChangeLog.recordBatch(spark, dir, Seq("id"), 1L)(
      MergeUpsert.replaceAll(spark, dir, s1, partitionCol = "grp"))

    val q = ChangeLog.stream(spark, dir).get
      .writeStream.format("memory").queryName("cdc_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_tail").count() === 2L) // changed 1, added 3

      // A later publish lands a NEW partition; the tail picks it up.
      val s2 = df((1L, "a2", "g1"), (3L, "c2", "g2"))
      ChangeLog.recordBatch(spark, dir, Seq("id"), 2L)(
        MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp"))
      q.processAllAvailable()

      // A REDELIVERY publishes an empty entry (absence): no new files,
      // nothing streamed.
      ChangeLog.recordBatch(spark, dir, Seq("id"), 3L)(
        MergeUpsert.replaceAll(spark, dir, s2, partitionCol = "grp"))
      q.processAllAvailable()

      assertSame(spark.table("cdc_tail"),
        ChangeLog.readSince(spark, dir, None).get,
        "streamed accumulation vs batch readSince")
    } finally {
      q.stop()
      spark.catalog.dropTempView("cdc_tail")
    }
  }
}
