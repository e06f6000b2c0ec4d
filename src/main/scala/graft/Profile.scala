package graft

/** Stage-level profiling main (diagnostics, not part of the harness
  * contract): times labeled sub-plans of the expensive queries so a round
  * can see WHERE the seconds go before optimizing. Usage:
  *   graft.Profile [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSpark.session(32)
    import org.apache.spark.sql.DataFrame

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def force(df: DataFrame): Long = df.write.format("noop")
      .mode("overwrite").save().asInstanceOf[Any] match { case _ => 0L }

    // Scan parallelism of the single-file inputs.
    val ev = graft.ingest.Events.raw(spark, sfDir)
    println(s"[profile] events scan partitions = ${ev.rdd.getNumPartitions}, rows = ${ev.count()}")

    time("json_props_agg")(force(graft.ops.EventOps.jsonPropsAgg(spark, sfDir)))

    // The REGISTERED clusters() path, stage-timed as its jobs actually
    // run (AutoArm decision → one arm → confirm → components).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_MINHASH")) {
      import graft.text.MinHashDedup._
      val d2 = spark.read.parquet(s"$sfDir/documents.parquet")
      val s2 = time("mh sigs cache+stats") {
        val s = signatures(d2).cache(); s.count(); s
      }
      val arm = time("mh selectArm estimate")(selectArm(s2, 0.6, 5000L))
      println(s"[profile]   arm = $arm")
      val cands = time("mh lsh candidateEdges cnt") {
        val c = candidateEdges(s2)
        println(s"  cands = ${c.count()}"); c
      }
      val surv = time("mh agreement survivors cnt") {
        val t = confirmedEdges(s2, cands, 0.6)
        println(s"  confirmed = ${t.count()}"); t
      }
      time("mh components+assign")(
        force(components(d2.select("doc_id"), surv)))
      time("mh clusters() e2e")(force(clusters(spark, sfDir)))
      time("mh clusters() e2e again")(force(clusters(spark, sfDir)))
      spark.catalog.clearCache()
    }

    // Incremental dedup volumes (round-9; r18: checkDelta stage split).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_INCDEDUP")) {
      val idx = s"/tmp/graft-incdedup/${new java.io.File(sfDir).getName}"
      time("incdedup buildIndex")(
        graft.text.IncrementalDedup.buildIndex(spark, sfDir, idx))
      val out = time("incdedup checkDelta") {
        val o = graft.text.IncrementalDedup.checkDelta(spark, sfDir, idx)
          .persist()
        println(s"  matches = ${o.count()}"); o
      }
      out.unpersist()
      // Stage split: signatures, postings join, agreement, confirm.
      val delta = graft.text.IncrementalDedup.deltaDocs(spark, sfDir)
      val dsigs = time("incdedup delta sigs") {
        val x = graft.text.MinHashDedup.signatures(delta).persist()
        println(s"  delta docs = ${x.count()}"); x
      }
      val postings = spark.table(
        graft.text.IncrementalDedup.bandsTable(idx))
      val cands = graft.text.MinHashDedup.banded(dsigs)
        .withColumnRenamed("doc_id", "delta_id")
        .join(postings.withColumnRenamed("doc_id", "corpus_id"),
          Seq("band_idx", "band_key"))
        .select("delta_id", "corpus_id")
      time("incdedup postings join")(
        println(s"  collision rows = ${cands.count()}"))
      time("incdedup postings join+distinct")(
        println(s"  distinct cands = ${cands.distinct().count()}"))
      time("incdedup checkDelta again")(
        force(graft.text.IncrementalDedup.checkDelta(spark, sfDir, idx)))
      dsigs.unpersist()
    }

    // Exchange-reuse audit of the confirm plan (round-9).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_MH_PLAN")) {
      import graft.text.MinHashDedup._
      val dd = spark.read.parquet(s"$sfDir/documents.parquet")
      val ss = signatures(dd).cache(); ss.count()
      val q = confirmedEdges(ss, candidateEdges(ss), 0.6)
      q.write.format("noop").mode("overwrite").save()
      val plan = q.queryExecution.executedPlan.toString
      val stages = "BroadcastQueryStage (\\d+)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSeq
      println(s"[profile] confirm plan BroadcastExchange=" +
        s"${"BroadcastExchange".r.findAllIn(plan).size} ReusedExchange=" +
        s"${"ReusedExchange".r.findAllIn(plan).size} ShuffleExchange=" +
        s"${"ShuffleExchange".r.findAllIn(plan).size} bcastStages=" +
        s"${stages.size} distinctBcastStages=${stages.distinct.size}")
      spark.catalog.clearCache()
    }

    // Estimator calibration: old sampled-window vs new histogram volume
    // estimates per corpus (round-9 AutoArm rework).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_MH_EST")) {
      import graft.text.MinHashDedup._
      import org.apache.spark.sql.functions._
      for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
          "/root/testdata/sf0.1")) {
        val sg = signatures(spark.read.parquet(s"$d/documents.parquet")).cache()
        val n = sg.count()
        val h = time(s"hist est $d")(histogramVolumeEstimate(sg, 0.6))
        println(s"[profile] est $d nDocs=$n hist=$h (${h / n}/doc)")
        sg.unpersist()
      }
      // DedupSpec's 400-doc template family
      val base = "the quick brown fox jumps over the lazy dog " * 5
      val template = base +
        "completely different content about spark shuffles and joins " * 3 +
        "another unrelated document mentioning parquet and kafka " * 3
      import spark.implicits._
      val family = (0L until 400L).map(i => (i, template + s" tail$i"))
        .toDF("doc_id", "text")
      val fs = signatures(family).cache(); fs.count()
      val fh = histogramVolumeEstimate(fs, 0.6)
      println(s"[profile] est family nDocs=400 hist=$fh (${fh / 400}/doc)")
      fs.unpersist()
    }

    // candidateEdges internals (round-9: where do its seconds go).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_MH_CANDS")) {
      import graft.text.MinHashDedup._
      import org.apache.spark.sql.functions._
      val d3 = spark.read.parquet(s"$sfDir/documents.parquet")
      val s3 = signatures(d3).cache(); s3.count()
      val banded = s3
        .select(col("doc_id"), posexplode_outer(expr(
          s"transform(sequence(0, ${Bands - 1}), b -> " +
            s"xxhash64(slice(minhash, b * $RowsPerBand + 1, $RowsPerBand)))"))
          .as(Seq("band_idx", "band_key")))
        .filter(col("band_idx").isNotNull)
      time("banded count")(println(s"  banded = ${banded.count()}"))
      val counts = banded.groupBy(col("band_idx"), col("band_key"))
        .agg(count(lit(1)).as("bucket_n"))
      time("bucket counts")(println(s"  buckets = ${counts.count()}"))
      val sized = banded.join(counts, Seq("band_idx", "band_key"))
      val smallLists = sized.filter(col("bucket_n") <= AllPairsMaxBucket)
        .groupBy(col("band_idx"), col("band_key"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("ids")).distinct()
      time("smallLists distinct")(println(s"  lists = ${smallLists.count()}"))
      val smallPairs = smallLists
        .select(explode_outer(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), " +
            "y -> struct(x AS doc_a, y AS doc_b))))")).as("p"))
        .filter(col("p").isNotNull)
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      time("smallPairs count")(println(s"  smallPairs = ${smallPairs.count()}"))
      time("full candidateEdges")(
        println(s"  cands = ${candidateEdges(s3).count()}"))
      spark.catalog.clearCache()
    }

    // Interval-overlap stages (round-17): where do its 4 s go.
    if (sys.env.contains("SPARK_GRAFT_PROFILE_INTERVAL")) {
      import org.apache.spark.sql.functions._
      val sess = time("iv sess ckpt") {
        graft.silver.Sessionize
          .sessions(graft.ingest.Events.cleansed(spark, sfDir))
          .groupBy(col("session_id"))
          .agg(min(col("start_us")).as("s"), max(col("end_us")).as("e"))
          .localCheckpoint()
      }
      val buckets = time("iv buckets ckpt") {
        sess.select(col("session_id"), col("s"), col("e"),
          explode_outer(expr(
            s"sequence(s div ${graft.ops.IntervalJoin.BucketUs}L, " +
              s"e div ${graft.ops.IntervalJoin.BucketUs}L)")).as("bkt"))
          .filter(col("bkt").isNotNull)
          .localCheckpoint()
      }
      println(s"[profile]   buckets rows = ${buckets.count()}")
      val mx = time("iv arm aggregate") {
        buckets.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
          .agg(coalesce(max(col("m")), lit(0L))).head().getLong(0)
      }
      println(s"[profile]   max bucket = $mx")
      val raw0 = graft.ops.IntervalJoin.pairsOf(buckets, salted = false,
        cap = graft.ops.IntervalJoin.HotBucketCap)
      time("iv pairs pre-distinct cnt")(
        println(s"  pre-distinct pairs = ${raw0.count()}"))
      time("iv pairs post-distinct cnt")(
        println(s"  post-distinct pairs = ${raw0.distinct().count()}"))
      time("iv full query")(
        force(graft.ops.IntervalJoin.concurrentSessions(spark, sfDir)))
      time("iv full query again")(
        force(graft.ops.IntervalJoin.concurrentSessions(spark, sfDir)))
    }

    // Containment stages (round-18 shape: aggregate-built prefix,
    // broadcast candidate join, post-confirm dedup).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_CONTAIN")) {
      import org.apache.spark.sql.functions._
      val base = time("ct trigrams persist") {
        val b = graft.text.TextOps.hashedTrigrams(spark, sfDir).persist()
        b.count(); b
      }
      time("ct stats agg") {
        val tp = 0.7 - 1e-4
        val r = base.agg(count(lit(1)),
          coalesce(sum(size(col("tg"))), lit(0L)),
          coalesce(sum(when(size(col("tg")) > 0,
            size(col("tg")).cast("long")
              - ceil(lit(tp) * size(col("tg"))).cast("long") + lit(1L))
            .otherwise(lit(0L))), lit(0L))).head()
        println(s"  nDocs=${r.getLong(0)} totTokens=${r.getLong(1)} " +
          s"prefixSlots=${r.getLong(2)}")
      }
      val (confirmed, persists) =
        graft.text.ContainmentDedup.confirmedFrame(spark, sfDir)
      time("ct confirmed (cands+confirm+dedup)") {
        println(s"  confirmed pairs = ${confirmed.count()}")
      }
      persists.foreach(_.unpersist()); base.unpersist()
      time("ct full query")(
        force(graft.text.ContainmentDedup.pairs(spark, sfDir)))
      time("ct full query again")(
        force(graft.text.ContainmentDedup.pairs(spark, sfDir)))
    }

    // MinHash stages, separately materialized.
    import graft.text.MinHashDedup._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = time("signatures+cache") {
      val s = signatures(docs).cache(); s.count(); s
    }
    val lshEdges = time("lsh candidateEdges") {
      val e = candidateEdges(sigs).cache(); println(s"  lsh cands = ${e.count()}"); e
    }
    val pre = time("prefixCandidates") {
      val p = prefixCandidates(sigs, 0.6).cache(); println(s"  prefix cands = ${p.count()}"); p
    }
    val conf = time("confirm (union)") {
      val c = confirmedEdges(sigs, lshEdges.unionByName(pre), 0.6).cache()
      println(s"  confirmed = ${c.count()}"); c
    }
    time("components")(force(components(sigs.select("doc_id"), conf)))

    // IVF-PQ covering-nprobe scan (round-8): smallest nprobe whose
    // composed result equals plain PQ, per SF dir.
    if (sys.env.contains("SPARK_GRAFT_PROFILE_IVFPQ")) {
      val idx = s"/tmp/graft-ivfpq-scan/${new java.io.File(sfDir).getName}"
      graft.sim.IvfPq.buildIndex(spark, sfDir, idx, nlist = 16)
      val plain = graft.sim.ProductQuantizer.topK(spark, sfDir)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
      for (np <- 1 to 16) {
        val got = graft.sim.IvfPq.topKIndexed(spark, sfDir, idx,
            nQueries = 10, nprobe = np, k = 5)
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        println(s"[profile] ivfpq nprobe=$np covering=${got == plain} " +
          s"missing=${(plain -- got).size}")
      }
    }

    // Gold country/webtoon branch timings (round-8 Expand-removal work).
    if (sys.env.contains("SPARK_GRAFT_PROFILE_GOLD")) {
      import org.apache.spark.sql.functions._
      val sess = time("silver materialize") {
        val x = graft.silver.Sessionize
          .sessions(graft.ingest.Events.cleansed(spark, sfDir)).persist()
        x.count(); x
      }
      time("country perPair+sums") {
        force(sess.groupBy(col("datetime"), col("country"), col("user_id"),
            col("webtoon_id"), col("episode_id"))
          .agg(count(lit(1)).as("p_rows"))
          .groupBy(col("datetime"), col("country"))
          .agg(count(lit(1)).as("pairs"), sum(col("p_rows")).as("n")))
      }
      time("country perUserS cascade") {
        force(sess.select(col("datetime"), col("country"), col("user_id"),
            col("session_id")).distinct()
          .groupBy(col("datetime"), col("country"), col("user_id"))
          .agg(count(lit(1)).as("u_sessions")))
      }
      time("country full") {
        force(graft.gold.CountryDaily.build(sess))
      }
      time("webtoon full") {
        force(graft.gold.WebtoonDaily.build(sess,
          graft.gold.EpisodeDaily.build(sess)))
      }
      sess.unpersist()
    }
    spark.stop()
  }
}
