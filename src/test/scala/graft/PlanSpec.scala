package graft

import org.apache.spark.sql.execution.SimpleMode

/** Locks in the physical-plan properties the scale story depends on
  * (ARCHITECTURE.md §plans): filter pushdown into the parquet scan, column
  * pruning, broadcast dimension joins, and no accidental cartesian
  * products in the relational pipelines. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(SimpleMode)

  test("every registered query has an oracle, and every CDC face is " +
      "registered") {
    // tools/check.py iterates the oracles only, so a query registered
    // without one would go unchecked.
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 158)
    graft.runtime.CdcFaces.queries.keys.foreach { n =>
      assert(SparkEntry.queries.contains(n) &&
        SparkEntry.oracleSql.contains(n), n)
    }
  }

  test("q1: shipdate filter pushed into the parquet scan, schema pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate,"))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned")
  }

  test("dimension joins broadcast the small side") {
    val p = plan("join_broadcast_dims")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q3: selective filters reach all three scans") {
    val p = plan("q3_revenue_topk")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("GreaterThan(l_shipdate,"))
    assert(p.contains("LessThan(o_orderdate,"))
  }

  test("gold pipelines contain no cartesian products") {
    for (q <- Seq("gold_user_daily", "gold_webtoon_daily",
        "gold_country_daily", "silver_sessions")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("as-of join: one shuffle on the key, no range explosion") {
    val p = plan("join_asof_attribution")
    // union + single partitioned window pass: exactly one exchange
    // hash-partitioned on the bare key feeds the Window (the second
    // user_id+ts exchange belongs to the view dedup pre-aggregate), and
    // there is no join operator at all — the naive range-join encoding
    // would show one.
    assert(
      "Exchange hashpartitioning\\(user_id#\\d+L, \\d+\\)".r
        .findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(p.contains("Window"))
  }

  test("band join stays an equi join with the band as a post-filter") {
    val p = plan("join_band_orders")
    // joined on o_custkey equality; the +/-7-day band must NOT force a
    // cartesian or broadcast-nested-loop plan
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_embedding_cosine: bucket equi-join, no nested-loop plan") {
    for (q <- Seq("dedup_embedding_cosine", "dedup_embedding_cosine_t85")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("interval-overlap join: bucket equi-join, no nested-loop plan") {
    // The range-join trap is a cartesian/BNLJ with an inequality
    // filter; the bucketed plan must meet on bucket EQUALITY.
    val p = plan("join_interval_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no partition-less WindowExec in any registered query") {
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE off so executedPlan is a plain tree collect() can walk.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, fn) <- SparkEntry.queries) {
        val p = fn(spark, dir).queryExecution.executedPlan
        val bad = p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(bad.isEmpty,
          s"$name funnels rows through a global (partition-less) window")
        spark.catalog.clearCache()
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no gold query plans an Expand over raw session rows") {
    // The per-user pre-reduce cascades replaced every multi-distinct
    // aggregate in the gold layer; RewriteDistinctAggregates' Expand
    // multiplies each raw row by (distincts + 1) through the shuffle
    // AND discards the child's partitioning — the flagged
    // blow-up-at-100× shape. Expand stays legitimate in the explicit
    // cube/rollup/grouping-sets queries; the golds must never re-grow
    // one.
    import org.apache.spark.sql.execution.ExpandExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("gold_user_daily", "gold_episode_daily",
        "gold_webtoon_daily", "gold_country_daily",
        "gold_platform_device_daily")) {
        val p = SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan
        assert(p.collect { case e: ExpandExec => e }.isEmpty,
          s"$name re-grew an Expand over raw session rows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("gold_user_daily_bucketed plans with zero shuffle exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("gold_user_daily_bucketed")(spark, dir)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val n = p.collect { case s: ShuffleExchangeExec => s }.size
    assert(n == 0,
      s"bucketed gold must not exchange — the layout IS the shuffle:\n$p")
  }

  test("embed_project is scan + fold + generate - no keyed shuffle, " +
      "no join") {
    // the sign matrix is plan literals: nothing to join or broadcast;
    // Layout.spread's round-robin fan-out of the single-file harness
    // scan is allowed (the chunk_documents precedent)
    val p = plan("embed_project")
    assert(!p.contains("hashpartitioning") &&
      !p.contains("rangepartitioning") && !p.contains("Join"), p)
  }

  test("mix_interleave: range + window exchanges only, offsets " +
      "broadcast, no global window") {
    val p = plan("mix_interleave")
    // corpus exchanges: the (source, doc_id) range layout (the cached
    // base subtree may print it twice) and the window's
    // ENSURE_REQUIREMENTS hash on (pid, source) — narrow rows both
    // times; the offset table joins as a broadcast, and the window is
    // (pid, source)-partitioned, never source-alone (a whole source
    // through one task) or global
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("hashpartitioning(pid"), p)
    assert(!p.contains("windowspecdefinition(source"),
      "window must not partition by source alone")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("retrieve_tfidf_topk: token join is hash, only scalar " +
      "nested-loop sides") {
    val p = plan("retrieve_tfidf_topk")
    // candidates come from the postings equi-join; the only nested-loop
    // joins are the deliberate 1-row n_docs scalar broadcasts (the
    // tfIdfTopTerms convention)
    assert(p.contains("BroadcastHashJoin [token"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("new analytics queries stay equi-join shaped") {
    for (q <- Seq("funnel_transitions", "cohort_retention",
        "anomaly_hourly", "dq_expectations", "path_top_sequences",
        "eval_knn_labels", "text_dup_spans",
        "text_classifier_score")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("correlated subqueries decorrelate to semi/anti/aggregate " +
      "joins - never per-row re-execution") {
    // RewritePredicateSubquery must turn EXISTS into LeftSemi and NOT
    // EXISTS into LeftAnti hash joins; the correlated scalar pair in
    // q17 must become partkey-grain aggregates joined back. No plan may
    // keep a subquery expression, a nested-loop join, or a cartesian.
    val q4 = plan("q4_order_priority")
    assert(q4.contains("LeftSemi"), q4)
    val q21 = plan("q21_suppliers_waiting")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    val q17 = plan("q17_small_quantity_revenue")
    assert(q17.contains("HashAggregate"), q17)
    for ((n, p) <- Seq(("q4", q4), ("q21", q21), ("q17", q17))) {
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n: $p")
      assert(!p.contains("Subquery"),
        s"$n: subquery survived decorrelation")
    }
  }

  test("scalar-subquery shapes (q22/q15) and join topologies (q13/q8) " +
      "plan as hash joins - scalars one-shot, never per-row") {
    // q22's NOT EXISTS must decorrelate to a LeftAnti; its two
    // uncorrelated scalar aggregates legitimately remain Subquery
    // nodes (executed ONCE, broadcast into the filter) — per-row
    // re-execution would show as a nested-loop join instead.
    val q22 = plan("q22_idle_customers")
    assert(q22.contains("LeftAnti"), q22)
    // q15's scalar MAX over the derived revenue aggregate: aggregate
    // joined back by hash, nothing nested-loop.
    val q15 = plan("q15_top_supplier")
    assert(q15.contains("HashAggregate"), q15)
    // q13 keeps the LEFT OUTER with its ON-condition (the zero-order
    // customers survive); q8's 7-relation tree broadcasts the
    // metadata-scale dims.
    val q13 = plan("q13_order_distribution")
    assert(q13.contains("LeftOuter"), q13)
    val q8 = plan("q8_market_share")
    assert(q8.contains("BroadcastHashJoin"), q8)
    for ((n, p) <- Seq(("q22", q22), ("q15", q15), ("q13", q13),
        ("q8", q8))) {
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n: $p")
    }
  }

  test("eval_knn large arm routes candidates through IVF lists - " +
      "no corpus x corpus generator") {
    // Past BruteBudget the AutoArm switches to IVF candidates; that
    // arm's plan must contain no all-pairs generator (the brute arm's
    // triangular block fan-out binds vec_a/vec_b; IVF never does), no
    // nested-loop or cartesian join, and its candidate join must key on
    // the inverted-list id.
    val p = SparkEntry.queries("eval_knn_labels")(spark, dir) // small: brute
      .queryExecution.explainString(SimpleMode)
    assert(p.contains("vec_a"), "AutoArm at gate scale must stay brute")
    val big = graft.sim.KnnEval.labelAccuracy(spark, dir,
        graft.sim.KnnEval.IvfArm, nprobe = 4, nlist = 8)
      .queryExecution.explainString(SimpleMode)
    assert(!big.contains("vec_a") && !big.contains("vec_b"),
      "large arm must not plan the all-pairs generator")
    assert(!big.contains("CartesianProduct"), big)
    // The only admissible nested-loop joins are the nlist-row centroid
    // broadcasts (IdentityBroadcastMode over a driver-built
    // LocalTableScan — the IvfCosine.assign convention, like
    // retrieve_tfidf's scalar sides); candidate generation itself must
    // be the cluster_id equi-join.
    assert("BroadcastNestedLoopJoin".r.findAllIn(big).size ==
      "BroadcastExchange IdentityBroadcastMode".r.findAllIn(big).size, big)
    assert(big.contains("cluster_id"),
      "candidates must flow through the inverted-list equi-join")
  }

  test("q16 NOT IN plans ONE broadcast null-aware anti join - never a " +
      "per-row probe; q2's nested correlated MIN decorrelates to " +
      "aggregate-then-join") {
    // The null-aware rewrite (x = y OR isnull(x = y)) cannot key a
    // plain hash join; optimizeNullAwareAntiJoin must recover it as a
    // single BroadcastHashJoin with isNullAwareAntiJoin=true. AQE off
    // so executedPlan is a walkable tree.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pe = SparkEntry.queries("q16_idle_customers_not_in")(spark, dir)
        .queryExecution.executedPlan
      val naaj = pe.collect {
        case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
      }
      assert(naaj.size == 1,
        s"expected exactly one null-aware anti join:\n$pe")
      assert(pe.collect {
        case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"NOT IN fell back to a per-row nested-loop probe:\n$pe")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // q2: the correlated scalar MIN over the 4-table regional join must
    // hoist into one partkey-grain aggregate joined back by hash.
    val q2 = plan("q2_min_cost_supplier")
    assert(q2.contains("HashAggregate"), q2)
    assert(!q2.contains("CartesianProduct") &&
      !q2.contains("BroadcastNestedLoopJoin"), q2)
  }

  test("q19 disjunctive join: equi hash join on partkey with the OR as " +
      "residual, one-sided OR implications pushed into BOTH scans") {
    val p = plan("q19_disjunctive_revenue")
    // The equi key must survive as a hash join, never a nested loop
    // evaluating the OR per pair.
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // Each side's implication of the OR reaches its parquet scan: the
    // brand/size union on part, the quantity-range union on lineitem.
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#1)") ||
      p.contains("Or(Or(And(EqualTo(p_brand,Brand#1)"),
      s"part scan missing the pushed brand/size Or:\n$p")
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined,
      s"lineitem scan missing the pushed quantity Or:\n$p")
  }

  test("timeseries_gapfill: grid joins are hash, only the 1-row " +
      "bounds side is nested-loop") {
    val p = plan("timeseries_gapfill")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the 1-row global-bounds broadcast
    // feeding the sequence explode (the scalar-side convention)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    // the fill join meets the base aggregate on the (platform, hour)
    // key as a hash join, never a corpus-scale nested loop
    assert(p.contains("Join") && p.contains("hour_us"), p)
  }

  test("pii mask is a pure projection - no shuffle, no join") {
    val p = plan("text_pii_mask")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("chunk_documents is projection + generator - no keyed shuffle, " +
      "no join") {
    val p = plan("chunk_documents")
    // Layout.spread's round-robin fan-out of the single-file harness
    // scan is allowed (a no-op at real file counts); keyed shuffles and
    // joins are not.
    assert(!p.contains("hashpartitioning") &&
      !p.contains("rangepartitioning") && !p.contains("Join"), p)
  }

  test("no registered query re-derives arrays under a Generate filter") {
    // InferFiltersFromGenerate plants size/isnotnull filters whose
    // pushdown inlines the array-builder into per-element lambdas (the
    // 25x text_repetition regression). Outer explodes infer nothing, so
    // no optimized plan may contain a Filter over a size(<non-attribute
    // subtree>) feeding a Generate.
    for (q <- Seq("text_repetition", "text_decontaminate",
        "dedup_simhash", "embed_centroids", "embed_kmeans",
        "dedup_minhash_lsh")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("size(transform(") &&
        !p.contains("size(filter(split("),
        s"$q re-derives a built array inside an inferred filter")
      spark.catalog.clearCache()
    }
  }

  test("containment candidates join on token buckets, never the " +
      "(lang, source) block alone") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (capped <- Seq(false, true)) {
        val p = graft.text.ContainmentDedup
          .candidateFrame(spark, dir, capped = capped)
          .queryExecution.executedPlan
        val joins = p.collect { case j: BaseJoinExec => j }
        assert(joins.nonEmpty, "candidate generation must be a join plan")
        for (j <- joins) {
          assert(j.leftKeys.nonEmpty,
            s"nested-loop/cartesian join in containment candidates: $j")
          assert(j.leftKeys.exists { k =>
            val ks = k.toString
            !ks.contains("lang") && !ks.contains("source")
          }, s"join keyed on the block alone: ${j.leftKeys}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pre-reduced gold bases plan no Expand (no distinct-agg fanout)") {
    // The round-7/8 rewrites replaced multi-distinct base aggregates
    // (Expand ×4 of every session row through the shuffle) with a
    // per-user pre-reduction; regressing to countDistinct would bring
    // the Expand back.
    for (q <- Seq("gold_webtoon_daily", "gold_country_daily")) {
      val p = plan(q)
      assert(!p.contains("Expand"), s"$q plans an Expand:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("gold aggregation state is bounded: no collect_list anywhere, " +
      "collect_set only at a per-user grain") {
    // collect_list buffers every input row before any dedup runs — at a
    // hot-key day that buffer scales with users × items and OOMs the
    // executor. collect_set is bounded ONLY when the group key pins a
    // single user (one user's day of sessions/episodes).
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    for (q <- Seq("gold_user_daily", "gold_episode_daily",
        "gold_webtoon_daily", "gold_country_daily",
        "gold_platform_device_daily", "silver_sessions")) {
      val lp = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan
      lp.foreach {
        case a: Aggregate =>
          assert(!a.aggregateExpressions.exists(_.exists {
            case _: CollectList => true; case _ => false
          }), s"$q aggregates with collect_list (unbounded buffer)")
          val collectsSet = a.aggregateExpressions.exists(_.exists {
            case _: CollectSet => true; case _ => false
          })
          if (collectsSet) assert(
            a.groupingExpressions.exists(_.exists {
              case att: Attribute => att.name == "user_id"
              case _ => false
            }),
            s"$q collect_set at a non-user grain — state scales with users")
        case _ =>
      }
      spark.catalog.clearCache()
    }
  }

  test("pivot reads the table once, not one pass per column") {
    val p = plan("pivot_order_status")
    assert("FileScan".r.findAllIn(p).size == 1, p)
    // count agg + pivotfirst agg, each partial+final — never more
    assert("HashAggregate".r.findAllIn(p).size <= 4, p)
  }

  test("q11 HAVING scalar evaluates one-shot; q20's nested IN + " +
      "correlated HAVING decorrelates to semi joins and an aggregate " +
      "- never a per-row probe") {
    // q11: the scalar total is its own aggregate branch executed ONCE
    // and fed into the post-aggregation filter — the plan is two
    // aggregate trees, no join-shaped re-execution of the group side.
    val q11 = plan("q11_important_parts")
    assert(q11.contains("HashAggregate"), q11)
    // q20: the outer suppkey IN and the part IN must both become
    // LeftSemi hash joins; the correlated HAVING scalar must hoist to
    // a partkey-grain aggregate joined back (no Subquery survives).
    val q20 = plan("q20_dominant_shippers")
    assert("LeftSemi".r.findAllIn(q20).size >= 2, q20)
    assert(!q20.contains("Subquery"),
      s"q20: correlated HAVING scalar survived decorrelation: $q20")
    for ((n, p) <- Seq(("q11", q11), ("q20", q20)))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n: $p")
  }

  test("q7/q9/q10/q14: superset and string filters reach the scans; " +
      "the top-k is a bounded TakeOrdered, never a full sort") {
    // q7: the bilateral pair disjunction itself cannot push, but its
    // two-nation SUPERSET must reach both nation scans.
    val q7 = plan("q7_nation_volume")
    assert(q7.contains("In(n_name, [NATION_3,NATION_7])"), q7)
    // q9/q10: the contains-LIKE and the returnflag slice push down.
    val q9 = plan("q9_product_profit")
    assert(q9.contains("StringContains(p_name,widget)"), q9)
    val q10 = plan("q10_returned_revenue")
    assert(q10.contains("EqualTo(l_returnflag,R)"), q10)
    assert(q10.contains("TakeOrderedAndProject"), q10)
    val q14 = plan("q14_promo_share")
    for ((n, p) <- Seq(("q7", q7), ("q9", q9), ("q10", q10),
        ("q14", q14)))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n: $p")
  }

  test("q6: all three range conjuncts push into the one parquet scan; " +
      "q12's cross-table lag stays a residual on an equi hash join") {
    // q6 is scan→aggregate: the plan must contain no join at all, and
    // every conjunct family must appear in PushedFilters (row-group
    // pruning at scale depends on it). The scan's metadata string is
    // truncated at 100 chars by default, which would cut the filter
    // list mid-name — widen it for this assertion.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val q6 = try plan("q6_forecast_revenue")
    finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert(!q6.contains("Join"), s"q6 must be join-free: $q6")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(q6.contains(f), s"q6 scan missing pushed conjunct $f:\n$q6")
    // q12: the orderkey equi join must survive as a hash join (the
    // lag predicate references both sides, so it can only be a
    // residual/post-join filter — never the join strategy).
    val q12 = plan("q12_late_priority")
    assert(q12.contains("BroadcastHashJoin") ||
      q12.contains("SortMergeJoin"), q12)
    assert(!q12.contains("CartesianProduct") &&
      !q12.contains("BroadcastNestedLoopJoin"), q12)
    // The ship-year window still pushes to the lineitem scan even
    // though the lag conjunct cannot.
    assert(q12.contains("GreaterThanOrEqual(l_shipdate,"), q12)
  }

  test("sketch_hll_wau: no Expand (sketch and exact branches stay " +
      "separate), day-grain joins broadcast; table_diff is ONE " +
      "full-outer join with both snapshot filters pushed") {
    // The approxDistinctUsers lesson, enforced on the sketch twin:
    // fusing the HLL buffer with a countDistinct would plan one Expand
    // whose first-phase groups are (day, user) — a sketch buffer per
    // distinct user. The pre-distinct + separate branches keep the
    // plan Expand-free.
    val sk = plan("sketch_hll_wau")
    assert(!sk.contains("Expand"), s"sketch query fused into Expand: $sk")
    assert(!sk.contains("CartesianProduct") &&
      !sk.contains("BroadcastNestedLoopJoin"), sk)
    // All joins are at the per-day grain (metadata-scale) — broadcast.
    assert(sk.contains("BroadcastHashJoin"), sk)
    assert(!sk.contains("SortMergeJoin"), sk)
    // table_diff: the CDC classification is one full-outer equi-join;
    // each snapshot's derivation filter reaches its own parquet scan
    // (including the NOT(...) De-Morgan'd removal predicate).
    val td = plan("table_diff_orders")
    assert(td.contains("FullOuter"), td)
    assert(!td.contains("CartesianProduct") &&
      !td.contains("BroadcastNestedLoopJoin"), td)
    assert(td.contains("LessThan(o_orderdate,1997-10-01"), td)
    assert(td.contains("LessThan(o_orderdate,1998-01-01"), td)
  }

  test("COUNT-bug scalar: ONE custkey-grain aggregate LEFT OUTER " +
      "joined back - the empty-input 0 patched, never per-row") {
    val p = plan("q_scalar_count_bug")
    assert(p.contains("LeftOuter"),
      s"zero-match customers need the outer join: $p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lateral top-k decorrelates to ONE window pass joined back - " +
      "never a per-customer subquery re-execution") {
    val p = plan("join_lateral_top_orders")
    // The correlated ORDER BY + LIMIT must become a row_number window
    // partitioned by the correlation key.
    assert(p.contains("row_number()"), p)
    assert(p.contains("windowspecdefinition(o_custkey"), p)
    // Joined back as a hash join; a nested-loop here would mean the
    // lateral survived as per-row re-execution.
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("CDC replay scans the base ONCE (anti-join + union, no " +
      "per-batch re-execution); the persisted view serves as a scan") {
    // replay: exactly one parquet scan of the orders source (the
    // state0 re-derivation, date filter pushed); the log-scale net
    // frame arrives as checkpointed RDD scans feeding a LeftAnti +
    // Union — re-executing history would show one scan per batch.
    val rp = plan("cdc_orders_replay")
    assert("Scan parquet".r.findAllIn(rp).size == 1, rp)
    assert(rp.contains("LeftAnti") && rp.contains("Union"), rp)
    assert(rp.contains("LessThan(o_orderdate,1997-07-01"), rp)
    assert(!rp.contains("CartesianProduct"), rp)
    // persisted view: the SERVED frame is a bare scan of the tiny
    // view table — zero joins, zero aggregates; the refresh happened
    // before the frame was built (and is a position-guarded no-op on
    // every later call).
    val mv = plan("cdc_mview_orders_priority")
    assert("Scan parquet".r.findAllIn(mv).size == 1, mv)
    // The one scan reads the VIEW's schema (explain truncates the
    // location path, so pin the distinctive columns instead).
    assert(mv.contains("cents:bigint") && mv.contains("n_rows:bigint"),
      mv)
    assert(!mv.contains("Join") && !mv.contains("HashAggregate"), mv)
    // Same serving shape for the gold-grain view over the REAL silver
    // log: once caught up, the registered query is a bare scan of the
    // tiny per-country view — the base silver is never re-read.
    val sv = plan("cdc_view_sessions_country")
    assert("Scan parquet".r.findAllIn(sv).size == 1, sv)
    assert(sv.contains("sum_value_cents:bigint") &&
      sv.contains("n_rows:bigint"), sv)
    assert(!sv.contains("Join") && !sv.contains("HashAggregate"), sv)
    // The non-distributive (min/max) twin serves the same way: its
    // touched-group recompute happened at refresh time — the
    // registered query is a bare scan of the persisted view.
    val mm = plan("cdc_minmax_orders_priority")
    assert("Scan parquet".r.findAllIn(mm).size == 1, mm)
    assert(mm.contains("min_cents:bigint") &&
      mm.contains("max_cents:bigint"), mm)
    assert(!mm.contains("Join") && !mm.contains("HashAggregate"), mm)
  }

  test("skipscan plans only the zone-map surviving files; keyindex " +
      "lookups prune to their md5 bucket partitions and never touch " +
      "the base table") {
    // The file cut happens at PLANNING time (the sidecar picks the
    // paths before Catalyst sees them), so the honest pin is the
    // scan's actual file set: a one-year range over the 16-file
    // clustered layout must read a strict subset, and the residual
    // range must still push into those files' row groups.
    val df = SparkEntry.queries("skipscan_orders_date")(spark, dir)
    assert(df.inputFiles.nonEmpty && df.inputFiles.length < 16,
      s"expected a pruned file set, got ${df.inputFiles.length}")
    // (explain truncates the PushedFilters list, so pin the DataFilters
    // residual — the same conjuncts Catalyst pushed.)
    val sp = df.queryExecution.explainString(SimpleMode)
    assert(sp.contains("GreaterThanOrEqual(o_orderdate,") &&
      sp.contains("(o_orderdate#") && sp.contains(" <= 1997-06-30"), sp)

    // The Z-clustered layout prunes on user_id ALONE (the second
    // interleaved dimension) — what a 1-D o_orderdate-style sort
    // cannot give: a 5-user range must read a strict subset of files.
    val zdf = SparkEntry.queries("skipscan_events_zorder")(spark, dir)
    val (zSurv, zTotal) = graft.runtime.DataSkipping.pruneFiles(spark,
      graft.sim.AnnIndex.dir(spark, dir, "skip_events_z"), "user_id",
      Some(org.apache.spark.sql.functions.lit(3L)),
      Some(org.apache.spark.sql.functions.lit(7L)))
    assert(zSurv.nonEmpty && zSurv.size < zTotal,
      s"z-layout must prune a narrow user range: ${zSurv.size}/$zTotal")
    assert(zdf.inputFiles.length === zSurv.size)

    // Each of the three probes is a partition-pruned index scan
    // (bucket = the key's md5 route); the events base table appears
    // NOWHERE in the plan — the index answers alone.
    val kp = plan("keyindex_user_batches")
    assert("PartitionFilters: \\[[^\\]]*bucket#\\d+ = \\d+".r
      .findAllIn(kp).size == 3, kp)
    assert(!kp.contains("events.parquet"), kp)
    assert(!kp.contains("Join"), kp)
  }

  test("SCD2 builds in ONE window pass (never a range join), the " +
      "as-of consumption is one more window, and the cached result " +
      "serves as a bare scan") {
    // The dimension build: exactly one Window (the lead interval
    // close), one log scan + one base scan (the baseline anti-join
    // side) + one more log scan for the untouched-keys key set — and
    // no join shape that could blow up per key.
    val sp = plan("cdc_scd2_orders")
    assert("Window".r.findAllIn(sp).size == 1, sp)
    assert(sp.contains("LeftAnti"), sp)
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoopJoin"), sp)

    // Consumption: the fact probe rides AsOfJoin's union + ONE more
    // window — a valid_from <= pos AND pos < valid_to range join
    // would appear as a nested-loop/cartesian here.
    val ap = plan("cdc_scd2_asof")
    assert("Window".r.findAllIn(ap).size == 2, ap) // intervals + as-of
    assert(!ap.contains("CartesianProduct") &&
      !ap.contains("BroadcastNestedLoopJoin"), ap)

    // The incremental store serves as a filtered scan of the bucketed
    // table — its refresh happened before the frame was built; no
    // window, no join, no base-table re-read in the served plan.
    val stp = plan("cdc_scd2_store_orders")
    assert("Scan parquet".r.findAllIn(stp).size == 1, stp)
    assert(!stp.contains("Window") && !stp.contains("Join"), stp)

    // Result cache hit: ONE scan, zero joins, zero pre-aggregation —
    // the q1 aggregates were materialized at serve time; only the
    // registered summary's own GROUP BY remains... which for this
    // face is none: the cached frame IS the answer.
    val cp = plan("cache_q1_pricing")
    assert("Scan parquet".r.findAllIn(cp).size == 1, cp)
    assert(cp.contains("sum_qty") && !cp.contains("lineitem"), cp)
    assert(!cp.contains("Join") && !cp.contains("HashAggregate"), cp)
  }

  test("the persisted join/star views serve as bare scans of the view " +
      "table; the archived SCD2 history serves as live ∪ archive " +
      "with no re-windowing") {
    // All three loops refreshed BEFORE the served frame was built —
    // the registered plan is one scan of the tiny view, zero joins,
    // zero aggregates: the 100 TB serving argument in one line each.
    Seq("cdc_joinview_persisted", "cdc_joinview_partitioned",
        "cdc_starview_persisted", "cdc_starview_partitioned",
        "cdc_leftjoinview_persisted", "cdc_leftjoinview_partitioned",
        "cdc_leftstarview_persisted", "cdc_leftstarview_partitioned"
    ).foreach { n =>
      val p = plan(n)
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$n:\n$p")
      assert(p.contains("sum_cents:bigint") &&
        p.contains("n_rows:bigint"), s"$n:\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$n:\n$p")
    }
    // The split store's full-history read: exactly TWO parquet scans
    // (live buckets + archive), a dedup aggregate and the face's own
    // summary — but NO window (the intervals were computed at refresh
    // time, never re-derived at read time) and NO join or log scan.
    val ah = plan("cdc_scd2_archive_orders")
    assert("Scan parquet".r.findAllIn(ah).size == 2, ah)
    assert(!ah.contains("Window") && !ah.contains("Join"), ah)
    assert(!ah.contains("_changelog"), ah)
  }
}
