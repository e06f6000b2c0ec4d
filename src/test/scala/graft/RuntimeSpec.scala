package graft

import graft.runtime.Incremental
import graft.silver.MergeUpsert
import org.apache.spark.sql.functions._

/** Merge-upsert semantics (S9 rewrite) and the incremental runtime
  * (C1–C4): update-vs-insert, idempotency, untouched-partition safety,
  * watermark lineage fallback, completeness gate. */
class RuntimeSpec extends SparkSpec {
  import spark.implicits._

  private def sessionsDf(rows: Seq[(String, String, Double)]) =
    rows.toDF("session_id", "datetime_s", "max_value")
      .withColumn("datetime", to_date(col("datetime_s"))).drop("datetime_s")

  test("upsert updates matched keys, inserts new, leaves other partitions") {
    val dir = tmpDir("merge")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("s1", "2024-01-01", 1.0),
      ("s2", "2024-01-01", 2.0),
      ("s3", "2024-01-02", 3.0))), Seq("session_id", "datetime"))
    // s2 updated, s4 inserted; 01-02 partition untouched
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("s2", "2024-01-01", 20.0),
      ("s4", "2024-01-01", 4.0))), Seq("session_id", "datetime"))
    val out = spark.read.parquet(dir)
      .select("session_id", "max_value").as[(String, Double)]
      .collect().toMap
    assert(out == Map("s1" -> 1.0, "s2" -> 20.0, "s3" -> 3.0, "s4" -> 4.0))
  }

  test("upsert is idempotent") {
    val dir = tmpDir("merge2")
    val stage = sessionsDf(Seq(("a", "2024-01-01", 1.0),
      ("b", "2024-01-02", 2.0)))
    MergeUpsert.upsert(spark, dir, stage, Seq("session_id", "datetime"))
    MergeUpsert.upsert(spark, dir, stage, Seq("session_id", "datetime"))
    val out = spark.read.parquet(dir)
    assert(out.count() == 2)
  }

  test("upsert merges partitions whose values Spark path-escapes") {
    // ':' is escaped (%3A) in partition directory names; the swap must
    // follow the STAGED directory names, not reconstruct them from raw
    // values, or these partitions' merges silently vanish.
    val dir = tmpDir("merge-esc")
    def df(rows: Seq[(String, String, Double)]) =
      rows.toDF("session_id", "stamp", "max_value")
    MergeUpsert.upsert(spark, dir, df(Seq(
      ("s1", "2024-01-01 10:00:00", 1.0),
      ("s2", "2024-01-01 10:00:00", 2.0))),
      Seq("session_id", "stamp"), partitionCol = "stamp")
    MergeUpsert.upsert(spark, dir, df(Seq(
      ("s2", "2024-01-01 10:00:00", 20.0),
      ("s3", "2024-01-02 11:30:00", 3.0))),
      Seq("session_id", "stamp"), partitionCol = "stamp")
    val out = spark.read.parquet(dir)
      .select("session_id", "max_value").as[(String, Double)]
      .collect().toMap
    assert(out == Map("s1" -> 1.0, "s2" -> 20.0, "s3" -> 3.0))
  }

  test("upsert write failure leaves the target fully readable (staged swap)") {
    val dir = tmpDir("merge3")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("s1", "2024-01-01", 1.0),
      ("s2", "2024-01-02", 2.0))), Seq("session_id", "datetime"))
    // Poisoned stage: evaluation throws mid-job, i.e. the rewrite dies
    // while WRITING. With the staged swap the failure happens inside the
    // .staging dir; the live partitions are never touched.
    val poisoned = sessionsDf(Seq(("s1", "2024-01-01", 99.0)))
      .withColumn("max_value", col("max_value") +
        expr("raise_error('simulated mid-write failure')").cast("double"))
    intercept[Exception] {
      MergeUpsert.upsert(spark, dir, poisoned,
        Seq("session_id", "datetime"))
    }
    val out = spark.read.parquet(dir)
      .select("session_id", "max_value").as[(String, Double)]
      .collect().toMap
    assert(out == Map("s1" -> 1.0, "s2" -> 2.0),
      "pre-update contents must survive a mid-write failure")
    // no staging/backup debris left behind under the target root
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
      .filter(n => n.startsWith(".staging-") || n.startsWith(".backup-"))
    assert(debris.isEmpty, s"leftover swap debris: ${debris.mkString(",")}")
    // ...and a subsequent good upsert still lands
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("s1", "2024-01-01", 10.0))), Seq("session_id", "datetime"))
    val after = spark.read.parquet(dir)
      .select("session_id", "max_value").as[(String, Double)]
      .collect().toMap
    assert(after == Map("s1" -> 10.0, "s2" -> 2.0))
  }

  test("upsert schema evolution: additive columns widen with nulls " +
      "only when asked; strict by default") {
    val dir = tmpDir("evolve")
    Seq((1, "2024-01-01", "a"), (2, "2024-01-01", "b"))
      .toDF("id", "datetime", "v")
      .write.partitionBy("datetime").mode("overwrite").parquet(dir)
    val staged = Seq((2, "2024-01-01", "b2", 9L), (3, "2024-01-01", "c", 7L))
      .toDF("id", "datetime", "v", "w")
    // Default: a column-set mismatch must fail loud (a typo'd producer
    // schema must not silently null-fill a 100 TB table).
    intercept[org.apache.spark.sql.AnalysisException] {
      MergeUpsert.upsert(spark, dir, staged, Seq("id"))
    }
    // Opt-in evolution: old rows widen with NULL w, staged rows carry it.
    MergeUpsert.upsert(spark, dir, staged, Seq("id"), evolveSchema = true)
    def read() = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("id", "v", "w").collect()
      .map(r => r.getInt(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(read() == Map(1 -> (("a", None)), 2 -> (("b2", Some(9L))),
      3 -> (("c", Some(7L)))), read().toString)
    // A LATER upsert of the evolved table must see the union schema
    // (mergeSchema read) — not whichever footer Spark samples — or the
    // rewrite would silently null out on-disk w values for untouched
    // keys in the affected partition.
    val staged2 = Seq((1, "2024-01-01", "a2", 5L))
      .toDF("id", "datetime", "v", "w")
    MergeUpsert.upsert(spark, dir, staged2, Seq("id"))
    assert(read() == Map(1 -> (("a2", Some(5L))), 2 -> (("b2", Some(9L))),
      3 -> (("c", Some(7L)))), read().toString)
  }

  test("upsert heals a previous writer's between-renames crash before " +
      "planning") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("heal")
    Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b"))
      .toDF("id", "datetime", "v")
      .write.partitionBy("datetime").mode("overwrite").parquet(dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate death between the two swap renames: the 01-01 partition
    // is gone, its complete data parked under the shared backup naming.
    val part = "datetime=2024-01-01"
    assert(fs.rename(new Path(root, part),
      new Path(root, s".backup-dead--$part")))
    fs.mkdirs(new Path(root, ".staging-dead"))
    // The next upsert (touching a DIFFERENT partition) must restore it.
    MergeUpsert.upsert(spark, dir,
      Seq((3, "2024-01-02", "b2")).toDF("id", "datetime", "v"), Seq("id"))
    val out = spark.read.parquet(dir).select("id", "v").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "a", 2 -> "b", 3 -> "b2"), out.toString)
    val leftovers = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(".backup-") || n.startsWith(".staging-"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }

  test("upsertScoped converges the scope to the stage, deletions " +
      "included, and drops partitions that come out empty") {
    val dir = tmpDir("merge-scoped")
    def df(rows: Seq[(String, String, Double)]) =
      rows.toDF("user_id", "datetime_s", "max_value")
        .withColumn("datetime", to_date(col("datetime_s")))
        .drop("datetime_s")
    // Target: u1 is 01-01's ONLY user, shares 01-02 with u2; u2 alone
    // on 01-03.
    MergeUpsert.upsert(spark, dir, df(Seq(
      ("u1", "2024-01-01", 1.0),
      ("u1", "2024-01-02", 2.0), ("u2", "2024-01-02", 3.0),
      ("u2", "2024-01-03", 4.0))), Seq("user_id", "datetime"))
    // Delta recompute of scope {u1}: u1 now exists ONLY on 01-04 — its
    // 01-01 and 01-02 rows vanished from the recompute. A keyed upsert
    // would keep them; the scoped merge must delete them, and 01-01
    // (left empty) must lose its partition directory.
    MergeUpsert.upsertScoped(spark, dir,
      df(Seq(("u1", "2024-01-04", 9.0))),
      Seq("user_id"), df(Seq(("u1", "2024-01-04", 9.0)))
        .select(col("user_id")))
    val out = spark.read.parquet(dir)
      .select(col("user_id"), col("datetime").cast("string"),
        col("max_value")).as[(String, String, Double)].collect().toSet
    assert(out == Set(
      ("u1", "2024-01-04", 9.0),
      ("u2", "2024-01-02", 3.0),
      ("u2", "2024-01-03", 4.0)))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(dir, "datetime=2024-01-01")),
      "emptied partition directory must be deleted")
    // Idempotent replay.
    MergeUpsert.upsertScoped(spark, dir,
      df(Seq(("u1", "2024-01-04", 9.0))),
      Seq("user_id"), df(Seq(("u1", "2024-01-04", 9.0)))
        .select(col("user_id")))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("replacePartitions replaces listed dates wholesale and deletes " +
      "dates whose recompute is empty; others untouched") {
    val dir = tmpDir("merge-replace")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("a", "2024-01-01", 1.0), ("b", "2024-01-01", 2.0),
      ("c", "2024-01-02", 3.0),
      ("d", "2024-01-03", 4.0))), Seq("session_id", "datetime"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // Recompute of [01-01, 01-02]: 01-01 now holds only a (b's grain
    // vanished), 01-02 came out EMPTY (all grains vanished).
    MergeUpsert.replacePartitions(spark, dir,
      sessionsDf(Seq(("a", "2024-01-01", 10.0))), Seq(d1, d2))
    val out = spark.read.parquet(dir)
      .select(col("session_id"), col("max_value"))
      .as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 10.0, "d" -> 4.0))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(dir, "datetime=2024-01-02")))
  }

  test("replacePartitions evaluates its stage exactly once: the swap " +
      "and the drop set come from the one staging write") {
    val dir = tmpDir("merge-replace-once")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0),
      ("c", "2024-01-03", 3.0))), Seq("session_id", "datetime"))
    val src = tmpDir("merge-replace-once-src")
    // 01-01 is rewritten, 01-02 is listed but stages nothing (dropped),
    // 01-04 is staged but not listed (swapped in), 01-03 is untouched.
    sessionsDf(Seq(("a", "2024-01-01", 10.0), ("d", "2024-01-04", 4.0)))
      .write.mode("overwrite").parquet(src)
    val evals = spark.sparkContext.longAccumulator("stage-evaluations")
    val counted = udf { (_: String) => evals.add(1); true }
      .asNondeterministic()
    val stage = spark.read.parquet(src).filter(counted(col("session_id")))
    MergeUpsert.replacePartitions(spark, dir, stage, Seq(
      java.sql.Date.valueOf("2024-01-01"),
      java.sql.Date.valueOf("2024-01-02")))
    assert(evals.value == 2L, s"stage rows evaluated ${evals.value} times")
    val out = spark.read.parquet(dir)
      .select(col("session_id"), col("max_value"))
      .as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 10.0, "c" -> 3.0, "d" -> 4.0))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(dir, "datetime=2024-01-02")))
  }

  test("scoped merge handles a NULL partition value end-to-end - " +
      "rewrite, deletion, and the hive default-partition directory") {
    val dir = tmpDir("merge-scoped-null")
    def df(rows: Seq[(String, String, Double)]) =
      rows.toDF("user_id", "datetime_s", "max_value")
        .withColumn("datetime",
          when(col("datetime_s") === "NULL", lit(null).cast("date"))
            .otherwise(to_date(col("datetime_s"))))
        .drop("datetime_s")
    // u1's only row sits in the NULL partition; u2 shares it.
    MergeUpsert.upsert(spark, dir, df(Seq(
      ("u1", "NULL", 1.0), ("u2", "NULL", 2.0),
      ("u2", "2024-01-01", 3.0))), Seq("user_id", "datetime"))
    // Scoped recompute of {u2}: u2 vanished from the NULL partition
    // (kept only its dated row). isin() never matches NULL, so the
    // NULL partition needs its own predicate on BOTH the affected
    // filter and the delete side.
    MergeUpsert.upsertScoped(spark, dir,
      df(Seq(("u2", "2024-01-01", 30.0))),
      Seq("user_id"), Seq("u2").toDF("user_id"))
    val out = spark.read.parquet(dir)
      .select(col("user_id"), col("datetime").cast("string"),
        col("max_value")).as[(String, String, Double)].collect().toSet
    assert(out == Set(("u1", null, 1.0), ("u2", "2024-01-01", 30.0)))
    // Now empty the NULL partition entirely: u1's recompute has no
    // rows at all — the __HIVE_DEFAULT_PARTITION__ directory must go.
    MergeUpsert.upsertScoped(spark, dir,
      df(Seq.empty), Seq("user_id"), Seq("u1").toDF("user_id"))
    assert(spark.read.parquet(dir)
      .select(col("user_id")).as[String].collect().toSeq == Seq("u2"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "datetime=__HIVE_DEFAULT_PARTITION__")),
      "emptied NULL partition directory must be deleted")
  }

  test("replaceAll converges the whole table to the stage - vanished " +
      "partitions deleted by DIRECTORY listing, no value encoding") {
    val dir = tmpDir("merge-replaceall")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0),
      ("c", "2024-01-03", 3.0))), Seq("session_id", "datetime"))
    // Full recompute no longer produces 01-02 at all and changes 01-01.
    val stage = sessionsDf(Seq(
      ("a", "2024-01-01", 10.0), ("c", "2024-01-03", 3.0)))
    MergeUpsert.replaceAll(spark, dir, stage)
    val out = spark.read.parquet(dir)
      .select("session_id", "max_value").as[(String, Double)]
      .collect().toMap
    assert(out == Map("a" -> 10.0, "c" -> 3.0))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(dir, "datetime=2024-01-02")))
    // Idempotent replay.
    MergeUpsert.replaceAll(spark, dir, stage)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("recovery sweep completes a crashed partition delete instead of " +
      "restoring it (.trash-* is dead data, .backup-* is live)") {
    val dir = tmpDir("merge-trash")
    MergeUpsert.upsert(spark, dir, sessionsDf(Seq(
      ("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0))),
      Seq("session_id", "datetime"))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate a delete that crashed between rename-out and delete.
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(dir, "datetime=2024-01-02"),
      new org.apache.hadoop.fs.Path(dir, ".trash-crashed-1")))
    graft.runtime.Compaction.recoverySweep(fs, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      ".trash-crashed-1")), "trash must be deleted, not restored")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "datetime=2024-01-02")), "trashed partition must stay deleted")
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("incremental: watermark advance, pruned reads, lineage fallback") {
    val dir = tmpDir("incr")
    Incremental.appendBatch(spark, dir, Seq((1, "a")).toDF("id", "v"), 1L)
    Incremental.appendBatch(spark, dir, Seq((2, "b")).toDF("id", "v"), 2L)
    assert(Incremental.highWatermark(spark, dir).contains(2L))
    assert(Incremental.readSince(spark, dir, Some(1L))
      .select("id").as[Int].collect().toSeq == Seq(2))
    // full read when no watermark
    assert(Incremental.readSince(spark, dir, None).count() == 2)
    // broken lineage (unknown watermark) → full recompute path
    assert(!Incremental.lineageValid(spark, dir, 99L))
    assert(Incremental.readSince(spark, dir, Some(99L)).count() == 2)
  }

  test("as-of read reproduces the table state before a later append") {
    val dir = tmpDir("asof")
    Incremental.appendBatch(spark, dir, Seq((1, "a")).toDF("id", "v"), 1L)
    Incremental.appendBatch(spark, dir, Seq((2, "b")).toDF("id", "v"), 2L)
    val before = Incremental.readSince(spark, dir, None)
      .select("id", "v").as[(Int, String)].collect().toSet
    Incremental.appendBatch(spark, dir, Seq((3, "c")).toDF("id", "v"), 3L)
    // Time travel to watermark 2 == the pre-append snapshot, exactly.
    assert(Incremental.readAsOf(spark, dir, 2L)
      .select("id", "v").as[(Int, String)].collect().toSet == before)
    // The live table has moved on.
    assert(Incremental.readSince(spark, dir, None).count() == 3)
    // A batch outside committed history fails loud, never a silent
    // different snapshot.
    val e = intercept[IllegalArgumentException] {
      Incremental.readAsOf(spark, dir, 99L)
    }
    assert(e.getMessage.contains("99"))
  }

  test("watermark persists atomically and round-trips") {
    val path = s"${tmpDir("wm")}/bronze_watermark"
    assert(Incremental.loadWatermark(spark, path).isEmpty)
    Incremental.saveWatermark(spark, path, 7L)
    assert(Incremental.loadWatermark(spark, path).contains(7L))
    Incremental.saveWatermark(spark, path, 8L) // overwrite
    assert(Incremental.loadWatermark(spark, path).contains(8L))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    assert(!fs.exists(tmp), "a save must leave no temp file behind")
    // A writer that crashed before its rename leaves its temp file: the
    // committed value is still the one read.
    val out = fs.create(tmp, true)
    try out.write("3".getBytes("UTF-8")) finally out.close()
    assert(Incremental.loadWatermark(spark, path).contains(8L))
    Incremental.saveWatermark(spark, path, 9L)
    assert(Incremental.loadWatermark(spark, path).contains(9L))
    assert(!fs.exists(tmp), "the next save consumes the leftover temp")
  }

  test("completeness gate counts parquet files") {
    val dir = tmpDir("gate")
    Seq((1, "x")).toDF("id", "v").repartition(3)
      .write.mode("overwrite").parquet(dir)
    assert(Incremental.completenessGate(spark, dir, 1))
    assert(!Incremental.completenessGate(spark, dir, 50))
    assert(!Incremental.completenessGate(spark, s"$dir/missing", 1))
  }
}
