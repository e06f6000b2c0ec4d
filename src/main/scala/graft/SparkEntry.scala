package graft

import graft.gold._
import graft.ingest.Events
import graft.ops.{AsOfJoin, Binning, EventOps, Features, IntervalJoin, PageRank, TimeWindows}
import graft.oracle.{OpsOracles, Oracles}
import graft.silver.{Dedup, Sessionize}
import graft.multimodal.MultimodalOps
import graft.sim.{IvfCosine, KMeans, KnnEval, LshCosine, ProductQuantizer, SemDedup, Similarity}
import graft.text.{ContainmentDedup, CorpusOps, IncrementalDedup, MinHashDedup, SimHashDedup, TextOps}
import graft.tpch.{AggExtOps, CoreOps, JoinOps, SubqueryOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a 1:1 DuckDB oracle in `oracleSql`
  * (graft.oracle.Oracles) unless the operation is not SQL-expressible.
  */
object SparkEntry {

  /** Silver table: cleanse → dedup → sessionize (SURVEY.md §3.2). */
  private def silver(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(Dedup.keepLatest(Events.cleansed(s, dir)))

  /** Gold jobs read the (already deduped) silver sessions. The production
    * path materializes silver once on disk (runtime/Pipeline, like the
    * reference's silver table); here each query persists the shared
    * sessions input so its side-aggregate branches reuse one computation
    * instead of re-running the sessionize subtree per branch. The
    * silver-side dedup is exercised in `silver_sessions`.
    *
    * DATA CONTRACT for the gold builders downstream: session_id is
    * user-scoped ("<user_id>_<seq>" — Sessionize.sessions guarantees it).
    * WebtoonDaily and CountryDaily pre-reduce at a per-user grain and SUM
    * per-user distinct-session counts, which is exact only under this
    * contract; do NOT wire them to a sessionsFromProvided silver whose
    * producer session ids can span users. WebtoonDaily's total_users also
    * counts a NULL-user group (count(*) over per-user rows) that a plain
    * countDistinct(user_id) would exclude — harness events are non-null. */
  private def sessions(s: SparkSession, dir: String): DataFrame =
    // localCheckpoint, not persist: the KnnEval convention. A bare
    // persist() here has no matching unpersist (the query builder
    // returns a LAZY frame, so there is no after-the-action hook), and
    // a long-lived serving session would accumulate one cached frame
    // per gold query invocation. The checkpoint materializes the shared
    // sessionize once, serves every side-aggregate branch, and its
    // blocks free with the RDD's garbage collection.
    //
    // Durability tradeoff (applies to every localCheckpoint in this
    // codebase — TimeWindows, IntervalJoin, the incremental runtime):
    // lineage is TRUNCATED and blocks live only on executors, so
    // losing an executor mid-query fails the job instead of
    // recomputing. Right for this harness (single JVM) and for
    // interactive serving (retry the query); a long-lived production
    // deployment on preemptible executors should either enable
    // spark.decommission/block replication or switch these sites to
    // reliable checkpoint(), paying the DFS write.
    Sessionize.sessions(Events.cleansed(s, dir)).localCheckpoint()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    UserDaily.build(sessions(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "silver_sessions" -> ((s, dir) => silver(s, dir)),
    "gold_user_daily" -> ((s, dir) => UserDaily.build(sessions(s, dir))),
    "gold_episode_daily" -> ((s, dir) =>
      EpisodeDaily.build(sessions(s, dir))),
    "gold_webtoon_daily" -> ((s, dir) => {
      val sess = sessions(s, dir)
      // The gold→gold dependency (C5): the deepest-episode argmax reads
      // the episode gold, as the reference reads the MATERIALIZED episode
      // table (gold_webtoon_daily_metrics.py:74-77). NOT persisted here:
      // it has exactly one consumer, and leaving it lazy lets Catalyst
      // prune the episode aggregate down to the one column the argmax
      // needs (a persist would force materializing every episode metric —
      // measured +1.1 s at sf0.1 for zero reuse).
      WebtoonDaily.build(sess, EpisodeDaily.build(sess))
    }),
    "gold_country_daily" -> ((s, dir) => CountryDaily.build(sessions(s, dir))),
    // The zero-Exchange layout path: the SAME user gold re-planned over a
    // bucketBy(user_id) silver table, so the groupBys, lag window and
    // side-aggregate joins all run with ZERO ShuffleExchangeExec
    // (PlanSpec asserts it). Same rows as gold_user_daily, same oracle —
    // what changes is only where the one silver shuffle happens: once at
    // the layout write instead of once per gold job (runtime/Bucketed).
    // The bucketed layout is written once per JVM (the AnnIndex.ensure
    // convention every serving split uses): the layout is the nightly
    // batch artifact, the query is what repeats — so bench rep 1 pays
    // the write and later reps measure the zero-raw-shuffle gold read.
    "gold_user_daily_bucketed" -> ((s, dir) => {
      graft.sim.AnnIndex.ensure(s"bucketed-silver-q@$dir")(
        graft.runtime.Bucketed.writeSilver(s, "silver_bucketed_q",
          Sessionize.sessions(Events.cleansed(s, dir))))
      graft.runtime.Bucketed.userDaily(s, "silver_bucketed_q")
    }),
    // The worst-shuffle gold re-planned on the bucketed layout: raw
    // silver rows never cross an Exchange (every raw-row agg keys on a
    // superset of user_id), only day/country-grain pre-reductions do.
    "gold_country_daily_bucketed" -> ((s, dir) => {
      graft.sim.AnnIndex.ensure(s"bucketed-silver-qc@$dir")(
        graft.runtime.Bucketed.writeSilver(s, "silver_bucketed_qc",
          Sessionize.sessions(Events.cleansed(s, dir))))
      graft.runtime.Bucketed.countryDaily(s, "silver_bucketed_qc")
    }),
    "gold_platform_device_daily" -> ((s, dir) =>
      PlatformDeviceDaily.build(sessions(s, dir))),
    "q1_pricing_summary" -> CoreOps.q1PricingSummary _,
    "q3_revenue_topk" -> CoreOps.q3RevenueTopK _,
    "join_broadcast_dims" -> CoreOps.joinBroadcastDims _,
    "join_semi_anti" -> CoreOps.semiAntiJoin _,
    "window_top_order_per_customer" -> CoreOps.topOrderPerCustomer _,
    "orders_daily_distinct" -> CoreOps.ordersDailyDistinct _,
    "agg_salted_skew" -> CoreOps.saltedSkewAgg _,
    // Skewed JOIN under the measured salt arm: ~50% of lineitem on one
    // derived key; the hot key splits across salts, never one task.
    "join_skew_hot" -> CoreOps.skewJoinHotKey _,
    // RFM customer segmentation (recency/frequency/monetary + fixed-
    // threshold labels) — the feature-store staple over orders.
    "rfm_segments" -> CoreOps.rfmSegments _,
    "set_ops_customers" -> CoreOps.setOpsCustomers _,
    "q5_local_supplier_volume" -> CoreOps.q5LocalSupplierVolume _,
    "q18_large_orders" -> ((s, dir) => CoreOps.q18LargeOrders(s, dir)),
    "q19_disjunctive_revenue" -> CoreOps.q19DisjunctiveRevenue _,
    // Correlated-subquery battery (SubqueryOps): EXISTS / NOT EXISTS /
    // correlated scalar — exercised as SQL text so Catalyst's
    // decorrelation (semi/anti-join rewrite) is on the tested path.
    "q4_order_priority" -> SubqueryOps.q4OrderPriority _,
    "q21_suppliers_waiting" -> SubqueryOps.q21SuppliersWaiting _,
    "q17_small_quantity_revenue" -> SubqueryOps.q17SmallQuantityRevenue _,
    // Q22/Q15: the two scalar-subquery shapes q4/q21/q17 leave out —
    // an UNCORRELATED scalar aggregate in the filter (one-row broadcast
    // join after decorrelation) and a scalar MAX over a derived
    // aggregate referenced twice.
    "q22_idle_customers" -> SubqueryOps.q22IdleCustomers _,
    "q16_idle_customers_not_in" -> SubqueryOps.q16IdleCustomersNotIn _,
    "q2_min_cost_supplier" -> SubqueryOps.q2MinCostSupplier _,
    "q15_top_supplier" -> SubqueryOps.q15TopSupplier _,
    // Q11/Q20: the two remaining decorrelation depths — a scalar
    // aggregate subquery in HAVING (filter on aggregated output), and
    // the nested IN-with-correlated-HAVING (decorrelated inside-out).
    "q11_important_parts" -> SubqueryOps.q11ImportantParts _,
    "q20_dominant_shippers" -> SubqueryOps.q20DominantShippers _,
    // LATERAL correlated top-k: the per-row ORDER BY + LIMIT subquery
    // DecorrelateInnerQuery must rewrite into one window pass.
    "join_lateral_top_orders" -> SubqueryOps.lateralTopOrders _,
    // The COUNT-bug: correlated scalar COUNT(*) in SELECT, zero-match
    // rows must read 0 (the decorrelation correctness trap).
    "q_scalar_count_bug" -> SubqueryOps.scalarCountBug _,
    // Dataset-version diff (CDC shape): one full-outer join classifies
    // every key added/removed/changed/unchanged with null-safe cells.
    "table_diff_orders" -> graft.ops.TableDiff.ordersQuarterDiff _,
    // Result cache (runtime/ResultCache): Q1 served through the
    // listing-signature cache — the second serve must HIT (its thunk
    // fails loud if forced) and the answer is a bare scan of the
    // materialized result; the oracle recomputes Q1 from scratch.
    "cache_q1_pricing" -> graft.runtime.ResultCache.q1PricingCached _,
    // Q7/Q9/Q10/Q14: bilateral-pair disjunction, signed profit over a
    // LIKE-filtered dimension, returned-revenue top-k, and the
    // one-pass conditional-ratio month slice.
    // Q6/Q12: the sweep closers — with these every one of the 22
    // public TPC-H query shapes has a harness-schema form in the
    // battery. Q6 is the pure scan→aggregate whose cost IS predicate
    // pushdown; Q12's date-lag predicate is the battery's one
    // cross-table residual no scan can absorb.
    "q6_forecast_revenue" -> CoreOps.q6ForecastRevenue _,
    "q12_late_priority" -> JoinOps.q12LatePriority _,
    "q7_nation_volume" -> JoinOps.q7NationVolume _,
    "q9_product_profit" -> JoinOps.q9ProductProfit _,
    "q10_returned_revenue" -> JoinOps.q10ReturnedRevenue _,
    "q14_promo_share" -> JoinOps.q14PromoShare _,
    // Aggregate-surface extensions: ordered LISTAGG, UNPIVOT reshape,
    // and exact-integer correlation/regression (order-independent
    // sufficient statistics; built-in corr() floats are not).
    "agg_listagg_nations" -> AggExtOps.listAggNations _,
    "reshape_unpivot_pricing" -> AggExtOps.unpivotPricing _,
    "agg_corr_regression" -> AggExtOps.corrRegression _,
    // Q13/Q8: join-topology shapes — predicate-carrying LEFT OUTER +
    // count-of-counts histogram; 7-relation market share with the
    // ratio from ONE conditional-sum aggregate.
    "q13_order_distribution" -> JoinOps.q13OrderDistribution _,
    "q8_market_share" -> JoinOps.q8MarketShare _,
    "window_running_spend" -> CoreOps.runningCustomerSpend _,
    "rollup_pricing" -> CoreOps.rollupPricing _,
    "cube_pricing" -> CoreOps.cubePricing _,
    "pivot_order_status" -> CoreOps.pivotOrderStatus _,
    "join_band_orders" -> CoreOps.bandJoinOrders _,
    "join_asof_attribution" -> AsOfJoin.attribution _,
    "window_tumbling_hourly" -> TimeWindows.tumblingHourly _,
    // Time-series regularization: dense hourly grid, zero-fill + LOCF.
    "timeseries_gapfill" -> TimeWindows.gapfillHourly _,
    "window_sliding_hourly" -> TimeWindows.slidingHourly _,
    "window_range_7d_spend" -> EventOps.rolling7dSpend _,
    "json_props_agg" -> EventOps.jsonPropsAgg _,
    "percentile_spend" -> CoreOps.percentileSpend _,
    "text_stats" -> TextOps.textStats _,
    "text_quality_filter" -> TextOps.qualityFilter _,
    "text_langid" -> TextOps.langId _,
    "text_fingerprint" -> TextOps.fingerprint _,
    // BPE tokenizer: corpus-trained merges (driver-side loop over the
    // bounded histogram), native-expression encode in the scan
    // projection; the oracle replays the encode off the stashed table.
    "text_bpe_encode" -> ((s, dir) => graft.text.Bpe.encodeStats(s, dir)),
    // Physical-layout accounting (metadata-scale driver listing);
    // oracle re-sizes the same files via DuckDB read_blob.
    "table_file_stats" ->
      ((s, dir) => graft.runtime.TableStats.tableFileStats(s, dir)),
    // Warehouse-wide crash-leftover sweep (runtime/Vacuum) as an
    // operational health face: four planted crash shapes (partition
    // backup with live absent → RESTORE; staging orphan; recluster
    // backup beside live; recluster staging) swept with restore-or-
    // drop semantics identical to the writers' own, plus a second
    // sweep proving idempotence; the oracle recomputes the restored
    // partition's rows from source. Pipeline.runDaily runs this sweep
    // as its first stage, so a scheduled daily heals cold tables too.
    "vacuum_sweep_health" ->
      ((s, dir) => graft.runtime.Vacuum.sweepHealthFace(s, dir)),
    // File-level data skipping (runtime/DataSkipping): orders is laid
    // out ONCE per JVM range-clustered by o_orderdate with a per-file
    // min/max zone-map sidecar; the registered query plans its file
    // set FROM the sidecar (only envelopes intersecting the year
    // survive; boundary files rerank through the residual predicate)
    // and aggregates the pruned scan. The oracle is the same range
    // filter over the FULL table — a hash match proves file pruning
    // loses and duplicates nothing.
    "skipscan_orders_date" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lay = graft.sim.AnnIndex.dir(s, dir, "skip_orders")
      graft.sim.AnnIndex.ensure(lay)(
        graft.runtime.DataSkipping.cluster(s,
          s.read.parquet(s"$dir/orders.parquet"), lay,
          Seq("o_orderdate"), numFiles = 16))
      graft.runtime.DataSkipping.scan(s, lay, "o_orderdate",
          lit("1996-07-01").cast("timestamp"),
          lit("1997-06-30").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
            .as("sum_price_cents"))
    }),
    // The Z-ORDER composition: layout_zorder proves the Morton key
    // derivation; this clusters events BY a WIDTH-MATCHED Morton key
    // (user's 8 significant bits × day-of-span's 6 — EventOps
    // .mortonExpr explains why equal 16+16 widths would degenerate to
    // a time sort) and indexes the raw dimensions in the zone map, so
    // a range on user_id ALONE prunes files — the multi-dimensional
    // skipping a 1-D sort cannot give. The oracle answers the same
    // user range from the raw table.
    "skipscan_events_zorder" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lay = graft.sim.AnnIndex.dir(s, dir, "skip_events_z")
      graft.sim.AnnIndex.ensure(lay) {
        val withZ = graft.ingest.Events.raw(s, dir)
          .transform(graft.ingest.Events.withTsUs)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"),
            expr("ts_us div 86400000000").as("day_idx"))
          .withColumn("u8", expr("user_id % 256"))
          .withColumn("d6", expr("day_idx % 64"))
          .withColumn("z_value",
            expr(EventOps.mortonExpr(Seq(("u8", 8), ("d6", 6)))))
          .drop("u8", "d6")
        graft.runtime.DataSkipping.cluster(s, withZ, lay,
          Seq("z_value"), numFiles = 32,
          statsCols = Seq("user_id", "day_idx"))
      }
      graft.runtime.DataSkipping.scan(s, lay, "user_id",
          lit(3L), lit(7L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("cast(round(value * 100, 0) as bigint)"))
            .as("sum_value_cents"))
    }),
    // The PARTITIONED warehouse form of data skipping
    // (DataSkipping.enablePartitioned/maintain/scanPartitioned):
    // orders laid out ONCE per JVM as a hive-partitioned table
    // (o_year leaves, in-leaf files range-clustered on o_custkey),
    // skipping PINNED at the root — then one year is REWRITTEN
    // through the warehouse writer (MergeUpsert.replacePartitions),
    // whose swap reconciles the touched leaf's zone map itself. The
    // query scans a narrow custkey range: partition pruning cuts
    // directories, each leaf's map cuts files within, and the oracle
    // recomputes the same range from the raw table — a hash match
    // proves writer-maintained per-leaf pruning loses and duplicates
    // nothing. At 100 TB this is the Silver-read shape: datetime
    // partitions × within-partition file skipping on the query key.
    "skipscan_orders_partitioned" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lay = graft.sim.AnnIndex.dir(s, dir, "skip_part_orders")
      graft.sim.AnnIndex.ensure(lay) {
        val stage = s.read.parquet(s"$dir/orders.parquet")
          .withColumn("o_year", year(col("o_orderdate")))
        def shaped(df: org.apache.spark.sql.DataFrame) = df
          .repartitionByRange(32, col("o_year"), col("o_custkey"))
          .sortWithinPartitions(col("o_year"), col("o_custkey"))
        graft.silver.MergeUpsert.replaceAll(s, lay, shaped(stage),
          partitionCol = "o_year")
        graft.runtime.DataSkipping.enablePartitioned(s, lay,
          Seq("o_custkey"))
        graft.silver.MergeUpsert.replacePartitions(s, lay,
          shaped(stage.filter(col("o_year") === 1996)), Seq(1996),
          partitionCol = "o_year")
      }
      graft.runtime.DataSkipping.scanPartitioned(s, lay, "o_custkey",
          lit(1L), lit(150L))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
            .as("sum_cents"))
    }),
    // Key→batch secondary index (runtime/KeyIndex): a bronze-shaped
    // daily-batched copy of events is laid down and indexed ONCE per
    // JVM (md5-bucketed user → batch map); the query probes three
    // users through the index — each probe is a ONE-bucket
    // partition-pruned scan of the index, the events table is never
    // touched — and the oracle recomputes the same footprint from the
    // raw table. This is the lookup structure forgetUserIndexed scopes
    // compliance erasure with at 100 TB.
    "keyindex_user_batches" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val base = graft.sim.AnnIndex.dir(s, dir, "keyindex_events")
      val idx = graft.runtime.KeyIndex.dirFor(base)
      graft.sim.AnnIndex.ensure(base) {
        // Fresh-process rebuild (the AnnIndex contract): wipe any prior
        // process's table AND its index, then one daily-batched write
        // and one delta-scoped index build.
        val conf = s.sparkContext.hadoopConfiguration
        Seq(base, idx).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) fs.delete(p, true)
        }
        s.read.parquet(s"$dir/events.parquet")
          .withColumn("batch_id",
            expr("cast(date_format(ts, 'yyyyMMdd') as bigint)"))
          .write.partitionBy("batch_id").mode("overwrite").parquet(base)
        graft.runtime.KeyIndex.ensure(s, base, idx, "user_id",
          buckets = 16)
      }
      Seq(1L, 2L, 3L)
        .map(k => graft.runtime.KeyIndex.lookup(s, idx, k, buckets = 16))
        .reduce(_.union(_))
        // The hive partition dir `batch_id=YYYYMMDD` infers as int;
        // the contract (and the oracle) speak BIGINT batch ids.
        .select(col("key").as("user_id"),
          col("batch_id").cast("long").as("batch_id"))
    }),
    "text_token_topk" -> ((s, dir) => TextOps.tokenTopK(s, dir)),
    // Count-Min sketch next to exact counts — a fixed-width mergeable
    // sketch built from plain aggregates, replayed exactly by the
    // oracle (md5 buckets).
    "sketch_count_min" -> ((s, dir) => TextOps.countMinTopTokens(s, dir)),
    "text_hash_split" -> TextOps.hashSplit _,
    "text_tfidf_topk" -> ((s, dir) => TextOps.tfIdfTopTerms(s, dir)),
    // Sparse lexical retrieval: integer tf-idf dot products over a
    // stopword-pruned inverted-index join (the no-embeddings ANN).
    "retrieve_tfidf_topk" -> ((s, dir) => TextOps.tfIdfRetrieve(s, dir)),
    "text_regex_tokens" -> TextOps.regexTokens _,
    "dedup_exact" -> TextOps.dedupExact _,
    "dedup_ngram_jaccard" -> TextOps.ngramJaccard _,
    "sim_cosine_topk" -> ((s, dir) => Similarity.cosineTopK(s, dir)),
    "dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.cosineNearDup(s, dir)),
    // The sub-quadratic LSH regime (τ=0.85 → 9 bits × 53 tables,
    // selectivity ≈ 0.10) over the corpus + its doubled planted copies —
    // the τ=0.4 row above exercises the regime FLOOR, this one the
    // regime the bucketed design exists for.
    "dedup_embedding_cosine_t85" -> ((s, dir) =>
      Similarity.cosineNearDupT85(s, dir)),
    // LSH candidates + exact-Jaccard confirm + connected components:
    // output is the doc -> canonical cluster map, which the DuckDB oracle
    // recomputes from the exact all-pairs graph (OpsOracles).
    "dedup_minhash_lsh" -> ((s, dir) =>
      MinHashDedup.clusters(s, dir, threshold = 0.6)),
    // All pairs within Hamming 7 of the md5-derived simhash: the 8x8-bit
    // chunk blocking is pigeonhole-complete at this bound, so the DuckDB
    // all-pairs oracle must match cell-for-cell.
    "dedup_simhash" -> ((s, dir) => SimHashDedup.nearDuplicates(
      s.read.parquet(s"$dir/documents.parquet"))),
    // IVF with the recall dial at nprobe=12/16 on this (weakly clustered)
    // corpus: probed lists cover the exact top-5 for every query, and the
    // final scoring is the same quantized cosine as the brute force — so
    // the output is cell-identical to the cosineTopK oracle. Lower-nprobe
    // recall behavior is covered by SimIvfSpec on clustered data.
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      IvfCosine.topK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", nlist = 16, nprobe = 12, k = 5)
    }),
    // The SERVING shape of IVF: train + encode ONCE into a persisted
    // cluster-partitioned postings layout (first call per JVM), then the
    // registered query is index scan + probe join only — no Lloyd, no
    // assignment in the query plan (AnnIndexSpec pins the plan). Same
    // covering-nprobe contract, so the same brute-force oracle.
    "sim_ivf_indexed" -> ((s, dir) => {
      val idx = graft.sim.AnnIndex.dir(s, dir, "ivf")
      graft.sim.AnnIndex.ensure(idx)(
        IvfCosine.buildIndex(s, dir, idx, nlist = 16, iters = 3))
      IvfCosine.topKIndexed(s, dir, idx, nQueries = 10, nprobe = 12, k = 5)
    }),
    // The GROWING-corpus serving shape: the index is built on 80% of
    // the corpus, the newest 20% lands through appendDelta (frozen
    // centroids, scoped postings merge — no retrain, cost scales with
    // the delta). Covering nprobe ⇒ the answer equals brute force
    // regardless of which corpus the codebook saw, so the same oracle.
    "sim_ivf_delta_indexed" -> ((s, dir) => {
      val idx = graft.sim.AnnIndex.dir(s, dir, "ivf_delta")
      graft.sim.AnnIndex.ensure(idx) {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        IvfCosine.buildIndexVectors(s,
          emb.filter(col("vec_id") % 5 =!= 4), idx, nlist = 16, iters = 3)
        IvfCosine.appendDelta(s, idx, emb.filter(col("vec_id") % 5 === 4))
      }
      IvfCosine.topKIndexed(s, dir, idx, nQueries = 10, nprobe = 16, k = 5)
    }),
    // Hyperplane-LSH ANN: the contract is top-k BY EXACT COSINE among
    // LSH-bucket candidates — deterministic (integer buckets from fixed
    // ±1 hyperplanes), so the oracle recomputes the identical index.
    "sim_lsh_topk" -> ((s, dir) => LshCosine.topK(s, dir)),
    // Leave-one-out 1-NN label accuracy per label — the embedding-
    // quality eval, over the blocked exactly-once pair generator.
    "eval_knn_labels" -> ((s, dir) => KnnEval.labelAccuracy(s, dir)),
    // Deterministic JL sign-matrix projection 64 -> 16 dims: the md5-
    // derived matrix folds into the plan as literals; zero shuffles.
    "embed_project" -> ((s, dir) =>
      graft.sim.RandomProjection.project(s, dir)),
    "multimodal_features" -> ((s, dir) => MultimodalOps.featureStats(
      MultimodalOps.decodeFeatures(s, MultimodalOps.mediaTable(s, dir)))),
    "sessionize_gap" -> EventOps.sessionizeGap _,
    // Session-scoped event-transition matrix (which step follows which,
    // for how many users, how fast) — the funnel lens over the same
    // gap-session window pass as sessionize_gap.
    "funnel_transitions" -> EventOps.funnelTransitions _,
    // Strict ordered-step conversion funnel (view > click > purchase
    // in time order within one session).
    "funnel_steps" -> EventOps.funnelSteps _,
    // Day-N cohort retention matrix (first-day cohorts; the general
    // form of the gold tables' 1-day retention self-joins).
    "cohort_retention" -> EventOps.cohortRetention _,
    // DAU/WAU via the contribute-to-target-days plan (no per-day
    // 7-day rescans).
    "metric_dau_wau" -> EventOps.dauWau _,
    // Z-order layout key (user x hour) — one codegen'd expression per
    // row, zero shuffles; the lakehouse multi-dim clustering key.
    "layout_zorder" -> EventOps.zorderKey _,
    // SCD Type-2 device history (gaps-and-islands on attribute change,
    // validity intervals with a NULL-open current version).
    "scd2_user_device" -> EventOps.scd2UserDevice _,
    // Dense hourly resample with explicit zero-filled gaps.
    "resample_hourly_filled" -> EventOps.resampleHourlyFilled _,
    // Market-basket webtoon co-occurrence at the (user, day) basket
    // grain with exact rational lift.
    "cooccurrence_webtoons" -> EventOps.cooccurrenceWebtoons _,
    // Trailing-24-bucket z-scores per (event_type, hour) — the
    // monitoring lens over the tumbling-hourly aggregate.
    "anomaly_hourly" -> EventOps.anomalyHourly _,
    // Per-table constraint report (violation counts, fixed-width) —
    // the promote-gate validation pass.
    "dq_expectations" -> EventOps.dqExpectations _,
    // Whole-trajectory session paths, top-20 — the path-funnel
    // complement of the pairwise transition matrix.
    "path_top_sequences" -> ((s, dir) =>
      EventOps.pathTopSequences(s, dir)),
    "window_rank_deciles" -> CoreOps.rankSpendDeciles _,
    "join_full_outer_churn" -> CoreOps.fullOuterChurn _,
    "grouping_sets_pricing" -> CoreOps.groupingSetsPricing _,
    "sample_stratified" -> TextOps.sampleStratified _,
    "embed_centroids" -> Similarity.embedCentroids _,
    // HLL sketch next to the exact count; the raw estimate is replaced
    // by its 5%-error contract column so the row IS oracle-checkable
    // (OpsOracles.approxDistinctUsers expects within_pct = TRUE).
    "agg_approx_distinct" -> EventOps.approxDistinctUsers _,
    // Rolling distinct from STORED mergeable sketch state (SketchGold):
    // WAU as a union of per-day HLL rows, never a window rescan.
    "sketch_hll_wau" -> EventOps.sketchHllWau _,
    // The stored-state serving twin: 30-day MAU read from the
    // MATERIALIZED sketch gold (built once per JVM, the AnnIndex.ensure
    // convention) — the estimate plan reads sketch ROWS, not events.
    "sketch_mau_stored" -> EventOps.sketchMauStored _,
    "text_repetition" -> ((s, dir) => CorpusOps.repetitionStats(s, dir)),
    // Cross-document duplicated-span stats (the exact-substring dedup
    // lens): word-8-grams shared by >= 2 docs, counted per document.
    "text_dup_spans" -> ((s, dir) => CorpusOps.dupSpans(s, dir)),
    // Hashed linear classifier scoring (fasttext-stage plumbing with
    // deterministically stubbed weights — the multimodal-stub move).
    "text_classifier_score" -> ((s, dir) =>
      CorpusOps.classifierScore(s, dir)),
    "text_decontaminate" -> ((s, dir) => CorpusOps.decontaminate(s, dir)),
    // Bloom-pruned decontamination: map-side gram pruning through a
    // benchmark-built Bloom filter before the explode/shuffle; exact
    // confirm join keeps the output identical (shared oracle).
    "text_decontaminate_bloom" -> ((s, dir) =>
      CorpusOps.decontaminateBloom(s, dir)),
    // SpaceSaving frequent-items contract: exact heavy tokens next to
    // the k-entry sketch's order-independent guarantee booleans (the
    // agg_approx_distinct pattern; completes HLL/GK/Count-Min).
    "sketch_heavy_tokens" -> ((s, dir) => CorpusOps.heavyTokens(s, dir)),
    // Interval-overlap join (range-join class): per-session concurrency
    // via time-bucket equi-join — never a cartesian; the oracle runs
    // the naive quadratic overlap join the engine avoids.
    "join_interval_overlap" -> ((s, dir) =>
      IntervalJoin.concurrentSessions(s, dir)),
    "text_pii_mask" -> ((s, dir) => CorpusOps.piiMask(s, dir)),
    "sample_weighted_sources" -> ((s, dir) =>
      CorpusOps.weightedSourceSample(s, dir)),
    // Deterministic round-robin mixing order across sources, ranks
    // stitched from range partitions — no global or per-source window.
    "mix_interleave" -> ((s, dir) => CorpusOps.mixInterleave(s, dir)),
    "pipeline_corpus_clean" -> CorpusOps.corpusClean _,
    // Deterministic spherical k-means (seeded at vec_id < 8, one Lloyd
    // refinement): every intermediate is integer or a correctly-rounded
    // IEEE op, so the DuckDB oracle replays the iteration exactly.
    "embed_kmeans" -> ((s, dir) => KMeans.fit(s, dir)),
    // SemDeDup (Abbas et al. 2023): the k-means partition bounds the
    // near-dup pair search (third candidate geometry next to sign-LSH
    // buckets and IVF lists); keep-the-outlier representative per
    // duplicate relation. Deterministic end-to-end, so the oracle
    // replays assignment + pairing + dominance cell-for-cell.
    "dedup_semantic" -> ((s, dir) => SemDedup.dedup(s, dir)),
    // Point-in-time-correct feature assembly (the feature-store op):
    // daily snapshots servable from the next midnight, attached to
    // purchase labels via the union+window as-of plan.
    "features_user_pit" -> Features.userPitFeatures _,
    // Asymmetric containment (|a∩b|/|a|): the quote/boilerplate lens
    // Jaccard misses on unequal sizes. Candidates from the asymmetric
    // prefix filter (complete at the measured local scales, so the
    // all-pairs oracle matches exactly); dense corpora auto-switch to
    // capped probe buckets — never a blocked all-pairs self-join.
    "dedup_containment" -> ((s, dir) => ContainmentDedup.pairs(s, dir)),
    // Incremental dedup serving split: a persisted corpus prefix-postings
    // index (built once — AnnIndex.ensure) checked by each new-ingest
    // delta. Complete under the frozen corpus token order + exact
    // confirm, so the oracle replays the exhaustive delta x corpus
    // cross join. The 100 TB shape: dedup cost per ingest scales with
    // the DELTA, not the corpus.
    "dedup_incremental" -> ((s, dir) => IncrementalDedup.query(s, dir)),
    // Product-quantization ANN (codebooks + ADC, integer squared-L2
    // end-to-end) — the 32x-compressed index contract, deterministic
    // like sim_lsh_topk's bucket contract.
    "sim_pq_topk" -> ((s, dir) => ProductQuantizer.topK(s, dir)),
    // PQ serving split: codebooks + 32x-compressed code table persisted
    // once; the query builds ADC tables from the stored books and scores
    // the stored codes — zero training in the query plan.
    "sim_pq_indexed" -> ((s, dir) => {
      val idx = graft.sim.AnnIndex.dir(s, dir, "pq")
      graft.sim.AnnIndex.ensure(idx)(
        ProductQuantizer.buildIndex(s, dir, idx))
      ProductQuantizer.topKIndexed(s, dir, idx)
    }),
    // Composed IVF-PQ: PQ codes partitioned by the integer-L2 coarse
    // list id, so the probe join prunes the codes SCAN (partition
    // pruning) while ADC keeps each scanned row at M codes — the
    // 100 TB ANN layout. The contract is the deterministic INDEX's
    // output at nprobe=4 (the sim_lsh_topk / sim_pq_topk pattern —
    // integer-exact end-to-end, so the oracle replays coarse training,
    // probing and ADC cell-for-cell); recall vs exhaustive ADC is the
    // measured property, pinned at nprobe=16 == plain PQ (AnnIndexSpec).
    "sim_ivfpq_indexed" -> ((s, dir) => {
      val idx = graft.sim.AnnIndex.dir(s, dir, "ivfpq")
      graft.sim.AnnIndex.ensure(idx)(
        graft.sim.IvfPq.buildIndex(s, dir, idx, nlist = 16))
      graft.sim.IvfPq.topKIndexed(s, dir, idx, nQueries = 10,
        nprobe = 4, k = 5)
    }),
    // GK quantile sketch next to the exact percentiles, emitting the
    // rank-error contract columns (the agg_approx_distinct pattern).
    "percentile_approx_contract" -> EventOps.approxPercentileSpend _,
    // Sequence assembly: pack curated docs into fixed-token-budget
    // training sequences (shard-parallel greedy-by-start — never a
    // global window) and chunk long docs into overlapping context
    // windows (pure projection + generator, zero shuffle).
    "pack_sequences" -> ((s, dir) => graft.text.Packing.packSequences(s, dir)),
    "chunk_documents" -> ((s, dir) =>
      graft.text.Packing.chunkDocuments(s, dir)),
    // The manifest a tokenizer consumes (per-seq membership, token +
    // truncation accounting, ordered span list) and the chunk → pack
    // composition (long docs chunked, chunks packed under one budget).
    "pack_manifest" -> ((s, dir) => graft.text.Packing.packManifest(s, dir)),
    "pack_chunks" -> ((s, dir) => graft.text.Packing.packChunks(s, dir)),
    // Exact equi-depth feature binning via a two-level distributed
    // prefix-sum rank — the global-sort-free exact ntile (a
    // partition-less ntile window is the anti-pattern PlanSpec bans).
    "feature_equidepth_bins" -> ((s, dir) =>
      Binning.equiDepthBins(s, dir)),
    // Weighted PageRank over episode transitions, fixed-point integer
    // arithmetic so the 5 damping rounds replay exactly in the oracle.
    "graph_pagerank_episodes" -> ((s, dir) =>
      PageRank.episodePageRank(s, dir)),
    // Declarative graph compute: WITH RECURSIVE bounded-hop walk count
    // (Spark UnionLoop) — the SQL-first sibling of the iterative
    // PageRank driver loop.
    "graph_reachability" -> ((s, dir) =>
      graft.ops.Reachability.episodeReachability(s, dir)),
  ) ++ graft.runtime.CdcFaces.queries // the 23 cdc_* faces

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "silver_sessions" -> Oracles.silverSessions,
    "gold_user_daily" -> Oracles.goldUserDaily,
    "gold_episode_daily" -> Oracles.goldEpisodeDaily,
    "gold_webtoon_daily" -> Oracles.goldWebtoonDaily,
    "gold_country_daily" -> Oracles.goldCountryDaily,
    "gold_user_daily_bucketed" -> Oracles.goldUserDaily,
    "gold_country_daily_bucketed" -> Oracles.goldCountryDaily,
    "gold_platform_device_daily" -> Oracles.goldPlatformDeviceDaily,
    "q1_pricing_summary" -> OpsOracles.q1PricingSummary,
    "q3_revenue_topk" -> OpsOracles.q3RevenueTopK,
    "join_broadcast_dims" -> OpsOracles.joinBroadcastDims,
    "join_semi_anti" -> OpsOracles.semiAntiJoin,
    "window_top_order_per_customer" -> OpsOracles.topOrderPerCustomer,
    "orders_daily_distinct" -> OpsOracles.ordersDailyDistinct,
    "agg_salted_skew" -> OpsOracles.saltedSkewAgg,
    "join_skew_hot" -> OpsOracles.skewJoinHotKey,
    "rfm_segments" -> OpsOracles.rfmSegments,
    "set_ops_customers" -> OpsOracles.setOpsCustomers,
    "q5_local_supplier_volume" -> OpsOracles.q5LocalSupplierVolume,
    "q18_large_orders" -> OpsOracles.q18LargeOrders,
    "q19_disjunctive_revenue" -> OpsOracles.q19DisjunctiveRevenue,
    "q4_order_priority" -> OpsOracles.q4OrderPriority,
    "q21_suppliers_waiting" -> OpsOracles.q21SuppliersWaiting,
    "q17_small_quantity_revenue" -> OpsOracles.q17SmallQuantityRevenue,
    "q22_idle_customers" -> OpsOracles.q22IdleCustomers,
    "q16_idle_customers_not_in" -> OpsOracles.q16IdleCustomersNotIn,
    "q2_min_cost_supplier" -> OpsOracles.q2MinCostSupplier,
    "q15_top_supplier" -> OpsOracles.q15TopSupplier,
    "q11_important_parts" -> OpsOracles.q11ImportantParts,
    "q20_dominant_shippers" -> OpsOracles.q20DominantShippers,
    "join_lateral_top_orders" -> OpsOracles.lateralTopOrders,
    "q_scalar_count_bug" -> OpsOracles.scalarCountBug,
    "table_diff_orders" -> OpsOracles.ordersQuarterDiff,
    "cdc_orders_net" -> OpsOracles.ordersChangeLogNet,
    "cdc_orders_replay" -> OpsOracles.ordersChangeLogReplay,
    "cdc_view_orders_priority" -> OpsOracles.ordersPriorityViewMaintained,
    "cdc_mview_orders_priority" -> OpsOracles.ordersPriorityViewMaintained,
    "cdc_minmax_orders_priority" -> OpsOracles.ordersPriorityMinMax,
    "cdc_view_sessions_country" -> OpsOracles.sessionsCountryView,
    "cdc_scd2_orders" -> OpsOracles.ordersScd2,
    "cache_q1_pricing" -> OpsOracles.q1PricingSummary,
    "cdc_scd2_asof" -> OpsOracles.ordersScd2AsOf,
    "cdc_scd2_asof_stored" -> OpsOracles.ordersScd2AsOf,
    "cdc_scd2_store_orders" -> OpsOracles.ordersScd2,
    "cdc_scd2_archive_orders" -> OpsOracles.ordersScd2,
    "cdc_snapshot_at_orders" -> OpsOracles.ordersSnapshotAt1,
    "cdc_changes_between_orders" -> OpsOracles.ordersChangesBetween1And2,
    "cdc_joinview_orders_mkt" -> OpsOracles.ordersJoinViewMaintained,
    "cdc_joinview_persisted" -> OpsOracles.ordersJoinViewPersisted,
    "cdc_joinview_partitioned" -> OpsOracles.ordersJoinViewPersisted,
    "cdc_leftjoinview_persisted" -> OpsOracles.ordersLeftJoinViewPersisted,
    "cdc_leftjoinview_partitioned" -> OpsOracles.ordersLeftJoinViewPersisted,
    "cdc_distinct_view_orders" -> OpsOracles.ordersPriorityDistinct,
    "cdc_starview_persisted" -> OpsOracles.ordersStarViewPersisted,
    "cdc_starview_partitioned" -> OpsOracles.ordersStarViewPersisted,
    "cdc_leftstarview_persisted" -> OpsOracles.ordersLeftStarViewPersisted,
    "cdc_leftstarview_partitioned" ->
      OpsOracles.ordersLeftStarViewPartitioned,
    "q6_forecast_revenue" -> OpsOracles.q6ForecastRevenue,
    "q12_late_priority" -> OpsOracles.q12LatePriority,
    "q7_nation_volume" -> OpsOracles.q7NationVolume,
    "q9_product_profit" -> OpsOracles.q9ProductProfit,
    "q10_returned_revenue" -> OpsOracles.q10ReturnedRevenue,
    "q14_promo_share" -> OpsOracles.q14PromoShare,
    "agg_listagg_nations" -> OpsOracles.listAggNations,
    "reshape_unpivot_pricing" -> OpsOracles.unpivotPricing,
    "agg_corr_regression" -> OpsOracles.corrRegression,
    "q13_order_distribution" -> OpsOracles.q13OrderDistribution,
    "q8_market_share" -> OpsOracles.q8MarketShare,
    "window_running_spend" -> OpsOracles.runningCustomerSpend,
    "rollup_pricing" -> OpsOracles.rollupPricing,
    "cube_pricing" -> OpsOracles.cubePricing,
    "pivot_order_status" -> OpsOracles.pivotOrderStatus,
    "join_band_orders" -> OpsOracles.bandJoinOrders,
    "join_asof_attribution" -> OpsOracles.asOfAttribution,
    "window_tumbling_hourly" -> OpsOracles.tumblingHourly,
    "timeseries_gapfill" -> OpsOracles.gapfillHourly,
    "window_sliding_hourly" -> OpsOracles.slidingHourly,
    "window_range_7d_spend" -> OpsOracles.rolling7dSpend,
    "json_props_agg" -> OpsOracles.jsonPropsAgg,
    "percentile_spend" -> OpsOracles.percentileSpend,
    "text_stats" -> OpsOracles.textStats,
    "text_quality_filter" -> OpsOracles.qualityFilter,
    "text_langid" -> OpsOracles.langId,
    "text_fingerprint" -> OpsOracles.fingerprint,
    "text_bpe_encode" ->
      OpsOracles.bpeEncode(graft.text.Bpe.lastLearned.toSeq),
    "table_file_stats" ->
      OpsOracles.tableFileStats(graft.runtime.TableStats.lastDir),
    "vacuum_sweep_health" -> OpsOracles.vacuumSweepHealth,
    "skipscan_orders_date" -> OpsOracles.skipscanOrdersDate,
    "skipscan_events_zorder" -> OpsOracles.skipscanEventsZorder,
    "skipscan_orders_partitioned" -> OpsOracles.skipscanOrdersPartitioned,
    "keyindex_user_batches" -> OpsOracles.keyindexUserBatches,
    "text_token_topk" -> OpsOracles.tokenTopK,
    "sketch_count_min" -> OpsOracles.countMinTopTokens,
    "text_hash_split" -> OpsOracles.hashSplit,
    "text_tfidf_topk" -> OpsOracles.tfIdfTopTerms,
    "retrieve_tfidf_topk" -> OpsOracles.tfIdfRetrieve,
    "text_regex_tokens" -> OpsOracles.regexTokens,
    "dedup_exact" -> OpsOracles.dedupExact,
    "dedup_ngram_jaccard" -> OpsOracles.ngramJaccard,
    "dedup_minhash_lsh" -> OpsOracles.minhashClusters,
    "dedup_simhash" -> OpsOracles.simhashPairs,
    "sim_ivf_topk" -> OpsOracles.cosineTopK,
    "sim_ivf_indexed" -> OpsOracles.cosineTopK,
    "sim_ivf_delta_indexed" -> OpsOracles.cosineTopK,
    "sim_cosine_topk" -> OpsOracles.cosineTopK,
    "sim_lsh_topk" -> OpsOracles.lshCosineTopK,
    "eval_knn_labels" -> OpsOracles.knnLabelAccuracy,
    "embed_project" -> OpsOracles.randomProjection,
    "dedup_embedding_cosine" -> OpsOracles.cosineNearDup,
    "dedup_embedding_cosine_t85" -> OpsOracles.cosineNearDupT85,
    "multimodal_features" -> OpsOracles.multimodalFeatures,
    "sessionize_gap" -> OpsOracles.sessionizeGap,
    "funnel_transitions" -> OpsOracles.funnelTransitions,
    "funnel_steps" -> OpsOracles.funnelSteps,
    "cohort_retention" -> OpsOracles.cohortRetention,
    "metric_dau_wau" -> OpsOracles.dauWau,
    "layout_zorder" -> OpsOracles.zorderKey,
    "scd2_user_device" -> OpsOracles.scd2UserDevice,
    "resample_hourly_filled" -> OpsOracles.resampleHourlyFilled,
    "cooccurrence_webtoons" -> OpsOracles.cooccurrenceWebtoons,
    "anomaly_hourly" -> OpsOracles.anomalyHourly,
    "dq_expectations" -> OpsOracles.dqExpectations,
    "path_top_sequences" -> OpsOracles.pathTopSequences,
    "window_rank_deciles" -> OpsOracles.rankSpendDeciles,
    "join_full_outer_churn" -> OpsOracles.fullOuterChurn,
    "grouping_sets_pricing" -> OpsOracles.groupingSetsPricing,
    "sample_stratified" -> OpsOracles.sampleStratified,
    "embed_centroids" -> OpsOracles.embedCentroids,
    "agg_approx_distinct" -> OpsOracles.approxDistinctUsers,
    "sketch_hll_wau" -> OpsOracles.sketchHllWau,
    "sketch_mau_stored" -> OpsOracles.sketchMauStored,
    "text_repetition" -> OpsOracles.textRepetition,
    "text_dup_spans" -> OpsOracles.dupSpanStats,
    "text_classifier_score" -> OpsOracles.classifierScore,
    "text_decontaminate" -> OpsOracles.textDecontaminate,
    "text_decontaminate_bloom" -> OpsOracles.textDecontaminate,
    "sketch_heavy_tokens" -> OpsOracles.heavyTokens,
    "join_interval_overlap" -> OpsOracles.concurrentSessions,
    "text_pii_mask" -> OpsOracles.piiMask,
    "sample_weighted_sources" -> OpsOracles.sampleWeightedSources,
    "mix_interleave" -> OpsOracles.mixInterleave,
    "pipeline_corpus_clean" -> OpsOracles.pipelineCorpusClean,
    "embed_kmeans" -> OpsOracles.embedKmeans,
    "dedup_semantic" -> OpsOracles.semDedup,
    "features_user_pit" -> OpsOracles.featuresUserPit,
    "dedup_containment" -> OpsOracles.containment,
    "dedup_incremental" -> OpsOracles.incrementalDedup,
    "sim_pq_topk" -> OpsOracles.pqTopK,
    "sim_pq_indexed" -> OpsOracles.pqTopK,
    "sim_ivfpq_indexed" -> OpsOracles.ivfPqTopK,
    "percentile_approx_contract" -> OpsOracles.approxPercentileSpend,
    "pack_sequences" -> OpsOracles.packSequences,
    "chunk_documents" -> OpsOracles.chunkDocuments,
    "pack_manifest" -> OpsOracles.packManifest,
    "pack_chunks" -> OpsOracles.packChunks,
    "feature_equidepth_bins" -> OpsOracles.equiDepthBins,
    "graph_pagerank_episodes" -> OpsOracles.episodePageRank,
    "graph_reachability" -> OpsOracles.episodeReachability,
  )
}
