package graft

/** Physical-plan regression guards (SURVEY.md §4): the scale claims in
  * SCALE.md are structural plan properties — signature passes are
  * shuffle-free, filters reach the parquet scan, candidate generation
  * never degenerates to a nested loop. Asserting them here means a plan
  * regression fails the suite instead of surfacing as a 100×-scale
  * incident. Plans are built against the sf0.001 fixture (never executed —
  * only inspected), so the spec is cheap.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("registry contract: every query has an oracle (or is deliberately " +
       "rows-only), and the sf1 heavy tier names only registered queries") {
    // BenchSf1 silently filters unknown names (so a deleted query can't
    // crash the bench main); this pin makes a rename/removal FAIL the
    // suite instead of silently shrinking the committed sf1 artifact
    val missing = BenchSf1.HeavyTier.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"HeavyTier names not in the registry: $missing")
    // every oracle key must have a query (a dangling oracle is dead SQL
    // the driver would never exercise)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("per-row signature/scan queries are completely narrow: zero exchanges") {
    val narrow = Seq(
      "minhash_signatures", "simhash", "token_count", "lang_id",
      "quality_score", "doc_fingerprint", "multimodal_meta", "sample_10pct",
      "filter_project", "stg_cast", "lit_columns", "normalize_strings",
      "json_flatten", "case_when_indicator", "text_chunks")
    for (q <- narrow) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be shuffle- and broadcast-free:\n$p")
    }
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderstatus,O)"),
      s"status filter must push to the scan:\n$p")
    // column pruning: the scan must not read the unused o_comment-style width
    assert(p.contains("ReadSchema"))
    assert(!p.contains("o_orderpriority"), "projection should prune unused columns")
  }

  test("candidate generation and range joins never plan a nested loop") {
    val bucketed = Seq(
      "minhash_lsh_pairs", "jaccard_pairs", "jaccard_pairs_prefix",
      "simhash_dup_pairs", "embedding_dup_pairs_lsh", "range_join",
      "events_attribution", "asof_join", "asof_join_banded")
    for (q <- bucketed) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      // the deliberate broadcast cross-scores (tiny centroid/query sides)
      // are BroadcastNestedLoopJoin; none of these queries should need one
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop:\n$p")
    }
  }

  test("aggregates plan partial -> final (map-side combine present)") {
    for (q <- Seq("mart_yearly_avg", "q1_pricing_summary", "term_frequencies")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q should hash-aggregate:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q should have partial+final aggregation:\n$p")
    }
  }

  test("q5 snowflake: dims broadcast, region filter pushes to its scan") {
    val p = plan("q5_revenue")
    assert(p.contains("BroadcastHashJoin"), s"nation/region must broadcast:\n$p")
    // r6 advice: the old `|| p.contains("r_name")` fallback was vacuous
    // (the scan schema always mentions r_name). Assert the pushed-filter
    // marker itself — parquet datasource renders it EqualTo(r_name,ASIA).
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter should be pushed to the region scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q5 must stay equi-join only:\n$p")
  }

  test("r9 queries keep their scale shapes: q10 broadcasts nation + pushes " +
       "the returnflag filter; rfm buckets via broadcast bounds (no global " +
       "window); zipf/length_corr reduce without wide exchanges") {
    val q10 = plan("q10_returned")
    assert(q10.contains("BroadcastHashJoin"), s"nation must broadcast:\n$q10")
    assert(q10.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter should reach the lineitem scan:\n$q10")
    assert(!q10.contains("CartesianProduct") && !q10.contains("BroadcastNestedLoopJoin"),
      s"q10 must stay equi-join only:\n$q10")
    val rfm = plan("rfm_segments")
    assert(!rfm.contains("Window"), s"rfm must not plan a global ntile window:\n$rfm")
    assert(rfm.contains("BroadcastNestedLoopJoin") || rfm.contains("BroadcastExchange"),
      s"quartile bounds ride a broadcast (1-row anchor):\n$rfm")
    // regressions over bounded frames: corpus-scale work is the tf
    // aggregate / moment aggregate, never a corpus-wide sort
    val zipf = plan("zipf_slope")
    assert(zipf.contains("TakeOrderedAndProject"),
      s"top-R terms must be TakeOrdered, not a global sort:\n$zipf")
    val lc = plan("length_corr")
    assert("HashAggregate".r.findAllIn(lc).size >= 2,
      s"moment aggregate must plan partial+final:\n$lc")
    assert(!lc.contains("Window") && !lc.contains("CartesianProduct"))
  }

  test("graph_triangles / hybrid_rrf / mv_incremental keep their scale " +
       "shapes: triangles equi-only, RRF anchors are 1-row broadcasts, MV " +
       "merge is partial+final aggregation") {
    val tri = plan("graph_triangles")
    assert(!tri.contains("CartesianProduct") && !tri.contains("BroadcastNestedLoopJoin"),
      s"triangle wedge/closure joins must stay equi-keyed:\n$tri")
    val rrf = plan("hybrid_rrf")
    // the only non-equi joins allowed are the two 1-row broadcast anchors
    // (bm25's corpus stats, the cosine query vector) — both BuildRight of
    // a broadcast, never a shuffle-side cartesian
    assert(!rrf.contains("CartesianProduct"),
      s"RRF must never plan a shuffled cartesian:\n$rrf")
    assert("BroadcastNestedLoopJoin".r.findAllIn(rrf).size <= 4,
      s"only the 1-row anchors may nested-loop:\n$rrf")
    val mv = plan("mv_incremental")
    assert("HashAggregate".r.findAllIn(mv).size >= 2,
      s"MV merge must plan partial+final aggregation:\n$mv")
    assert(!mv.contains("CartesianProduct") && !mv.contains("Window"),
      s"MV path is pure keyed aggregation:\n$mv")
  }

  test("bpe/drift/cdc queries keep their scale shapes: aggregates plan " +
       "partial+final, no cartesians, cdc window keys on the join key") {
    for (q <- Seq("bpe_encode", "seq_packing_bpe", "source_drift", "cdc_apply")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
    val drift = plan("source_drift")
    assert("HashAggregate".r.findAllIn(drift).size >= 2,
      s"drift aggregates must be map-side combined:\n$drift")
    val cdc = plan("cdc_apply")
    assert(cdc.contains("Window"), s"cdc latest-change pick is a keyed window:\n$cdc")
  }

  test("pii_redact and seq_packing stay narrow/sharded") {
    // redaction is a pure projection — no exchange at all
    val pr = plan("pii_redact")
    assert(!pr.contains("Exchange"), s"pii_redact should be shuffle-free:\n$pr")
    // packing shuffles once on the shard key, never a global single-
    // partition sort (the non-sharded formulation would)
    val pk = plan("seq_packing")
    assert(!pk.contains("SinglePartition"),
      s"seq_packing must not serialize on one reducer:\n$pk")
  }

  test("substring_dedup: content-hash keyed joins only — no nested loop, " +
       "and the final top-level sort is absent (hash re-assembly, not global order)") {
    val p = plan("substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay equi-keyed:\n$p")
  }

  test("bm25/heavy-hitter retrieval: small sides broadcast, top-k is TakeOrdered") {
    val bm = plan("bm25_topk")
    assert(bm.contains("BroadcastHashJoin") || bm.contains("BroadcastExchange"),
      s"df/avgdl sides must broadcast:\n$bm")
    assert(bm.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort + limit:\n$bm")
    assert(!bm.contains("CartesianProduct"), s"bm25 must not cross-join the corpus:\n$bm")
    val hh = plan("heavy_hitters")
    assert(hh.contains("TakeOrderedAndProject"), s"heavy hitters top-k:\n$hh")
    assert("HashAggregate".r.findAllIn(hh).size >= 2,
      s"token counts need partial+final aggregation:\n$hh")
  }

  test("scd2/preference/decay/basket: equi-driven joins; nested loops only for 1-row anchors") {
    val s2 = plan("scd2_join")
    assert(!s2.contains("CartesianProduct") && !s2.contains("BroadcastNestedLoopJoin"),
      s"the validity residual must ride the key equi-join, never a nested loop:\n$s2")
    val pp = plan("preference_pairs")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      s"component/quality joins stay equi-keyed:\n$pp")
    // decayed/basket deliberately cross against a broadcast SINGLE-ROW
    // aggregate (anchor date / user count) — a plain cartesian would be
    // a data-scale cross and is still forbidden
    for (q <- Seq("decayed_user_value", "basket_lift"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
  }

  test("event analytics: funnel/cohort stay equi-keyed; band window partitions by type") {
    for (q <- Seq("cohort_retention", "funnel_conversion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: only the 1-row population combine may nest, never a data-scale cross:\n$p")
    }
    val rb = plan("rolling_band")
    // the frame runs over the (type, day) pre-aggregate — a per-type
    // window, never a single global partition
    assert(rb.contains("Window"), s"rolling_band should window:\n$rb")
    assert(!rb.contains("SinglePartition"),
      s"rolling_band must not serialize on one reducer:\n$rb")
  }

  test("TPC-H gauntlet shapes: q6 pushes every predicate and stays " +
       "join-free; q14/q17/q19 broadcast part; q18 is equi-only; q22's " +
       "only nested loop is the 1-row scalar anchor") {
    val q6 = plan("q6_forecast")
    assert(!q6.contains("Join"), s"q6 is single-table:\n$q6")
    // the PushedFilters render truncates mid-list, so assert the marker
    // plus the Filter-node predicates (which always print whole)
    assert(q6.contains("PushedFilters") && q6.contains("IsNotNull(l_quantity)"),
      s"quantity bound must reach the lineitem scan:\n$q6")
    assert(q6.contains("< 24.0") && q6.contains(">= 1997-01-01"),
      s"quantity/shipdate ranges must filter before the aggregate:\n$q6")
    for (q <- Seq("q14_promo", "q17_small_qty", "q19_disjunctive")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: part side must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n$p")
    }
    val q17 = plan("q17_small_qty")
    assert(q17.contains("EqualTo(p_brand,Brand#5)"),
      s"brand filter should reach the part scan:\n$q17")
    val q18 = plan("q18_large_orders")
    assert(!q18.contains("CartesianProduct") && !q18.contains("BroadcastNestedLoopJoin"),
      s"q18 stays equi-keyed:\n$q18")
    assert(q18.contains("TakeOrderedAndProject"),
      s"q18 top-100 must be TakeOrdered, not global sort:\n$q18")
    val q22 = plan("q22_idle_customers")
    assert(q22.contains("LeftAnti"), s"q22 plans an anti join:\n$q22")
    assert(q22.contains("GreaterThanOrEqual(o_orderdate"),
      s"recent-order cutoff should reach the orders scan:\n$q22")
    assert(!q22.contains("CartesianProduct"),
      s"only the broadcast 1-row scalar may nest:\n$q22")
  }

  test("pmi/span-corruption/stickiness/attribution keep their scale " +
       "shapes: span corruption is zero-exchange; the aggregates are " +
       "partial+final; attribution joins stay equi-keyed") {
    val sc = plan("span_corruption")
    assert(!sc.contains("Exchange"), s"span corruption is per-row only:\n$sc")
    val pmi = plan("pmi_collocations")
    assert("HashAggregate".r.findAllIn(pmi).size >= 2,
      s"bigram counts need map-side combine:\n$pmi")
    assert(pmi.contains("TakeOrderedAndProject"),
      s"pmi top-k must be TakeOrdered:\n$pmi")
    assert(!pmi.contains("CartesianProduct"), s"pmi must not cross-join:\n$pmi")
    for (q <- Seq("stickiness", "attribution_credit", "moments_profile")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
      assert(!p.contains("SinglePartition") || q == "moments_profile",
        s"$q must not serialize on one reducer:\n$p")
    }
  }

  test("TPC-H completion shapes: EXISTS/NOT-EXISTS plan as semi/anti " +
       "joins, dims broadcast, date filters push to the fact scan") {
    // Q4: the EXISTS must become a LEFT SEMI with the date-residual on
    // the orderkey equi-join — never a per-row subquery or a cartesian
    val q4 = plan("q4_late_orders")
    assert(q4.contains("LeftSemi"), s"q4 EXISTS must plan as semi join:\n$q4")
    assert(q4.contains("PushedFilters") &&
      q4.contains("GreaterThanOrEqual(o_orderdate,"),
      s"q4 date window must reach the orders scan:\n$q4")
    // Q21: semi (other supplier exists) + anti (no other late supplier),
    // both equi-keyed on orderkey with the <> as residual
    val q21 = plan("q21_waiting_supplier")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"q21 needs both a semi and an anti join:\n$q21")
    assert(!q21.contains("CartesianProduct"), s"q21 must stay equi-keyed:\n$q21")
    // Q2/Q9: part/supplier/nation dims all broadcast — the fact table
    // never shuffles for a dimension
    for (q <- Seq("q2_min_cost", "q9_profit_nation")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join only:\n$p")
    }
    // Q11/Q15/Q20: the scalar-subquery anchor is a broadcast 1-row frame;
    // the per-key aggregate keeps map-side combine
    for (q <- Seq("q11_top_value_parts", "q15_top_supplier", "q20_excess_suppliers")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q scalar anchor should broadcast:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregate must plan partial+final:\n$p")
    }
    // Q13: LEFT join + two-level aggregate, no nested loop
    val q13 = plan("q13_order_distribution")
    assert(q13.contains("LeftOuter"), s"q13 must keep the LEFT join:\n$q13")
    assert(!q13.contains("CartesianProduct"), s"q13 must stay equi-keyed:\n$q13")
  }

  test("scan_stats_pushdown: COUNT/MIN/MAX are answered from parquet " +
       "footer statistics — the aggregate is pushed INTO the scan") {
    val p = plan("scan_stats_pushdown")
    assert(p.contains("PushedAggregation") &&
      p.contains("COUNT(*)") && p.contains("MIN(o_orderkey)"),
      s"aggregate must push to the parquet scan (DSv2 + aggregatePushdown):\n$p")
  }

  test("r9d sketch/stats/ER tiers keep their scale shapes: KMV aggregates " +
       "plan partial+final (bounded buffers merge map-side); chi-square " +
       "grid and histogram bounds are broadcast 1-row anchors; fuzzy ER " +
       "and LPA stay equi-keyed") {
    for (q <- Seq("kmv_distinct", "kmv_rolling_distinct")) {
      val p = plan(q)
      assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
        s"$q sketch aggregate must plan partial+final:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n$p")
    }
    for (q <- Seq("price_histogram", "chi_square_status_priority", "kmv_join_estimate")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q bounds/grid/sketch anchors must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must never shuffle-join its bounded anchors:\n$p")
    }
    for (q <- Seq("fuzzy_name_match", "fuzzy_canonicalize", "doc_communities")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must stay equi-keyed:\n$p")
    }
  }

  test("r10 shapes: snapshot diff is ONE keyed join; drift/normalize/ACF " +
       "anchors broadcast; graph/as-of/readability tiers stay equi-keyed " +
       "with no cartesian fan-out") {
    // snapshot_diff: exactly one join (the full-outer on the key), no
    // second pass over either snapshot
    val sd = plan("snapshot_diff")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(sd).size == 1,
      s"snapshot_diff must be one keyed join:\n$sd")
    assert(!sd.contains("CartesianProduct"), sd)
    // the 1-row totals frames (grand count, denominators) must broadcast,
    // never shuffle-join
    for (q <- Seq("ks_source_drift", "quantile_normalize", "revenue_acf",
                  "weekday_seasonality")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q 1-row anchors must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // iterative/graph/join tiers: equi-keyed only
    for (q <- Seq("hierarchy_paths", "asof_join_tolerance", "theil_sen_trend",
                  "index_staleness", "epoch_shuffle", "leakage_safe_folds")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
    // readability is a pure per-row projection: zero exchanges
    val rd = plan("readability")
    assert(!rd.contains("Exchange"), s"readability must be narrow:\n$rd")
    // table_profile: the multi-distinct plans partial+final via Expand
    val tp = plan("table_profile")
    assert(tp.contains("Expand"), s"table_profile should plan Expand:\n$tp")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(tp).size >= 2,
      s"table_profile aggregate must be partial+final:\n$tp")
  }

  test("r11 shapes: skyline/ER/bootstrap/filtered-search keep their scale " +
       "plans — constant frames broadcast, candidates stay equi-keyed, " +
       "nothing degenerates to a cartesian") {
    // pareto_frontier: per-x agg + sharded scan + join back — the join on
    // x must be equi-keyed, never a nested loop over the point cloud
    val pf = plan("pareto_frontier")
    assert(!pf.contains("CartesianProduct"), s"pareto_frontier:\n$pf")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(pf).nonEmpty,
      s"pareto_frontier joins back on x equi-keyed:\n$pf")
    // bootstrap_ci: the 32-replicate frame and the CI/total single-row
    // frames ride broadcasts; the replicate aggregate plans partial+final
    val bc = plan("bootstrap_ci")
    assert(bc.contains("BroadcastExchange"), s"bootstrap reps must broadcast:\n$bc")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(bc).size >= 2,
      s"bootstrap replicate agg partial+final:\n$bc")
    // cosine_topk_filtered: queries broadcast; the label predicate lives
    // in the join, so the plan is a BroadcastHashJoin (an equi-keyed
    // probe), NOT the BroadcastNestedLoopJoin the unfiltered brute pays
    val cf = plan("cosine_topk_filtered")
    assert(cf.contains("BroadcastHashJoin"),
      s"label filter must turn the probe equi-keyed:\n$cf")
    assert(!cf.contains("CartesianProduct"), s"cosine_topk_filtered:\n$cf")
    // ER tiers: candidate generation is equi-keyed (block / rank key)
    for (q <- Seq("jw_name_pairs", "er_sorted_neighborhood")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
        s"$q candidates must join equi-keyed:\n$p")
    }
    // single-pass audits: one partial+final aggregate, no joins at all
    for (q <- Seq("hash_partition_balance", "zorder_span_audit")) {
      val p = plan(q)
      assert(!"SortMergeJoin|ShuffledHashJoin|CartesianProduct".r.findAllIn(p).hasNext,
        s"$q must not join:\n$p")
      assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregate partial+final:\n$p")
    }
    // ewma: the K-row kernel is a broadcast, the scatter-gather is one
    // partial-agg shuffle; interarrival/streaks stay keyed-window only
    val ew = plan("ewma_revenue")
    assert(ew.contains("BroadcastExchange"), s"ewma kernel must broadcast:\n$ew")
    for (q <- Seq("interarrival_profile", "order_streaks",
                  "seasonal_residual_outliers", "l_diversity_audit",
                  "source_ablation", "mutual_info_status_priority",
                  "transition_entropy", "bigram_entropy_rate"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
  }

  test("r11 continuation tier: corpus stages stay equi-keyed, windows stay " +
       "partitioned, stat rollups never cross-join the fact table") {
    // boilerplate purge: md5-keyed DF join, no nested loop, no window
    val bp = plan("boilerplate_purge")
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoopJoin"),
      s"boilerplate_purge candidates must stay equi-keyed:\n$bp")
    assert(!bp.contains("Window"), s"boilerplate_purge needs no window:\n$bp")
    // classifier AUC: the only window runs over the (source, score) grid,
    // partitioned by source — never an unpartitioned corpus window
    val auc = plan("classifier_auc")
    assert(auc.contains("Window"), s"classifier_auc expects the grid window:\n$auc")
    assert(!auc.contains("CartesianProduct"), s"classifier_auc:\n$auc")
    // KN cross-entropy: bigram-keyed equi-join between the per-source
    // counts and the model table; the only nested loop is the 1-row
    // n_types anchor broadcast (accepted 1-row-anchor pattern)
    val kn = plan("kn_cross_entropy")
    assert(!kn.contains("CartesianProduct"), s"kn_cross_entropy:\n$kn")
    assert(kn.contains("BroadcastHashJoin"),
      s"kn_cross_entropy model join must be bigram-equi-keyed:\n$kn")
    assert(!kn.contains("Window"), s"kn_cross_entropy needs no window:\n$kn")
    // K-M / interp / ljung-box / markov: corpus work is windows KEYED by
    // user/status or plain aggregates; iteration frames are bounded
    for (q <- Seq("km_conversion", "interp_fill_daily", "ljung_box",
                  "markov_attribution", "classifier_reliability",
                  "clf_keep_parity", "anova_priority_spend",
                  "cramers_v_status_priority", "psi_price_drift", "ann_mrr"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // interp fill: both bracketing windows are partitioned by the key
    val ip = plan("interp_fill_daily")
    assert(!ip.contains("No Partition Defined"),
      s"interp_fill_daily windows must partition by key:\n$ip")
  }

  test("r11 late tier: analytics/attribution/supply ops never cross-join " +
       "a fact table; LTV window partitions by cohort") {
    for (q <- Seq("shapley_attribution", "forecast_backtest",
                  "open_orders_daily", "concentration_8020",
                  "ltv_cohort_curve", "discount_elasticity",
                  "demand_volatility", "supplier_returns",
                  "events_debounce", "monthly_churn", "debounce_typed",
                  "embedding_centroid_drift", "negative_sampling_table",
                  "vwap_monthly", "ab_conversion_ztest", "rolling_corr",
                  "eigenvector_centrality"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    val ltv = plan("ltv_cohort_curve")
    assert(!ltv.contains("No Partition Defined"),
      s"ltv cumulative must partition by cohort:\n$ltv")
    // single-aggregate ops stay join-free and map-side combined
    for (q <- Seq("supplier_returns", "vwap_monthly")) {
      val p = plan(q)
      assert(!"SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).hasNext,
        s"$q must not join:\n$p")
      assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregate partial+final:\n$p")
    }
  }

  test("r11 final tier: stats/contract/retrieval/experiment ops keep " +
       "their scale shapes") {
    // no op in the tier may cross-join a fact table (broadcast-scale
    // 1-row/constant frames are the only legitimate cross joins)
    for (q <- Seq("welch_t_test", "chi_square_residuals", "neyman_allocation",
                  "fk_orphan_audit", "seasonal_decompose", "classifier_pr_auc",
                  "croston_forecast", "odds_ratio_returns", "burrows_delta",
                  "stl_strength", "cuped_adjustment", "classifier_gains",
                  "fs_em_weights", "diff_in_diff", "funnel_stage_ztest",
                  "perfect_order_rate", "bm25_prf", "corpus_mix_temperature",
                  "cms_planner"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // single-moment-pass tests: join-free, partial+final aggregation
    for (q <- Seq("welch_t_test", "neyman_allocation")) {
      val p = plan(q)
      assert(!"SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).hasNext,
        s"$q must not shuffle-join:\n$p")
      assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregate partial+final:\n$p")
    }
    // croston's series windows are PARTITIONED BY part — the fact-scale
    // key — never a global window
    assert(!plan("croston_forecast").contains("No Partition Defined"),
      "croston windows partition by part")
    // perfect-order is two keyed aggregates over one equi-join
    val po = plan("perfect_order_rate")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(po).size == 1,
      s"one orders-lineitem join:\n$po")
    // FK audit: parent side is DISTINCT-ed before every join (the
    // hot-parent-key fan-out guard) — one agg pair per edge + distincts
    assert(plan("fk_orphan_audit").contains("Join"), "edges are joins")
  }

  test("r12 tier: PCA/OPQ, unigram, span audit, outer attribution and " +
       "IVF drift keep their scale shapes") {
    for (q <- Seq("pca_components", "ann_recall_pq_opq", "unigram_vocab",
                  "unigram_encode", "tokenizer_fertility_compare",
                  "span_dedup_recall_audit", "events_attribution_outer",
                  "ivf_append_drift", "cosine_topk_graph", "ann_recall_graph"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // the outer interval join stays an equi-join on user with the range
    // residual — never a nested loop over the fact sides
    val oat = plan("events_attribution_outer")
    assert(!oat.contains("BroadcastNestedLoopJoin"),
      s"outer attribution must stay user-keyed:\n$oat")
    assert(oat.contains("LeftOuter"), s"left-outer semantics in plan:\n$oat")
    // span audit: the only window partitions by the window fingerprint
    assert(!plan("span_dedup_recall_audit").contains("No Partition Defined"),
      "span audit window partitions by wh")
    // unigram encode: the vocab map (bounded) broadcasts, but the
    // per-word join-back must NOT be a forced broadcast — perWord is the
    // distinct-word table, corpus-dependent cardinality (r12 advice); AQE
    // may still CHOOSE broadcast at test scale, so the assertion pins the
    // absence of the static hint (no broadcast marker in the ANALYZED
    // logical plan), not the physical join choice
    val ue = SparkEntry.queries("unigram_encode")(spark, sf)
      .queryExecution.analyzed.toString
    val hints = "UnresolvedHint|ResolvedHint|hints=\\[broadcast".r
      .findAllIn(ue).size
    assert(hints <= 1,
      s"unigram_encode should carry exactly one broadcast hint (vmap), found $hints:\n$ue")
  }

  test("r13 second-session tier: WordPiece, calibration, layout, EB, " +
       "forecasting and milestone queries keep their scale shapes") {
    // no unbroadcast cartesians anywhere in the new tier
    for (q <- Seq("wordpiece_merges", "wordpiece_encode", "wordpiece_holdout",
                  "graph_modularity", "isotonic_calibration",
                  "hilbert_span_audit", "curve_span_compare", "ivf_silhouette",
                  "conformal_interval", "sentence_chunks", "eb_shrunk_returns",
                  "holt_forecast", "holt_winters", "spend_milestones"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // wordpiece encode inherits the unigram contract: the vocab map
    // (bounded) broadcasts; the per-word corpus join-back stays unhinted
    val we = SparkEntry.queries("wordpiece_encode")(spark, sf)
      .queryExecution.analyzed.toString
    val hints = "UnresolvedHint|ResolvedHint|hints=\\[broadcast".r
      .findAllIn(we).size
    assert(hints <= 1,
      s"wordpiece_encode should carry exactly one broadcast hint (vmap), found $hints:\n$we")
    // the spend-milestone window is user-keyed, never a global sort
    assert(!plan("spend_milestones").contains("No Partition Defined"),
      "spend_milestones window partitions by user_id")
    // the curve audits are one codegen'd map pass + a bounded aggregate:
    // no shuffle wider than the final ≤2^bits-group exchange, no window
    for (q <- Seq("hilbert_span_audit", "zorder_span_audit"))
      assert(!plan(q).contains("Window"), s"$q must stay window-free")
    // holt/HW fold over ONE collected row: no window, no join
    for (q <- Seq("holt_forecast", "holt_winters")) {
      val p = plan(q)
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$q is one aggregate + one fold, found window/join:\n$p")
    }
  }

  test("r14 tier: the stored evidence path is a probe, not a re-derivation, " +
       "and the rescored graph stack keeps the contract shapes") {
    for (q <- Seq("dup_evidence_stored", "graph_topk_rescored"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // dup_evidence_stored reads the landed base: one component-keyed
    // window + filter over a parquet scan — none of the derivation stages
    // (shingle Generate explosion, band self-join, iterative collapse)
    // may reappear in its plan
    val st = plan("dup_evidence_stored")
    assert(!st.contains("Generate"),
      s"stored evidence path must not re-shingle:\n$st")
    assert(st.contains("Window"), "budget replay is one window")
  }

  test("r16 task 1: binary/int8 top-k selection is a bounded aggregation — " +
       "no per-query corpus-wide window partition anywhere in the tier") {
    // the Hamming shortlist operator itself: zero Window nodes (the r15
    // weak item was a row_number window partitioned by q_id over the
    // UNPRUNED corpus — a corpus-sized sort per query at scale); selection
    // is now a typed TopKAggregator planning partial+final object
    // aggregation, whose partial buffers bound every map task's
    // contribution to `shortlist` rows per query
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val sl = graft.operators.SimilarityOps.hammingShortlist(
      graft.operators.SimilarityOps.packSignBits(emb), 10, 20)
      .queryExecution.executedPlan.toString
    assert(!sl.contains("Window"),
      s"hammingShortlist must not plan a window:\n$sl")
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(sl).size >= 2,
      s"shortlist aggregation must plan partial+final (bounded buffers):\n$sl")
    // int8 brute tier shares the shape: the whole query is the selection,
    // so the registered plan must be window-free end to end
    val i8 = plan("cosine_topk_int8")
    assert(!i8.contains("Window"),
      s"cosine_topk_int8 selection must be the bounded aggregation:\n$i8")
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(i8).size >= 2,
      s"int8 top-k must plan partial+final:\n$i8")
    // the rescored binary stack: its ONLY remaining window is the exact
    // rescore over ≤ shortlist × queries rows (bounded by construction);
    // the shortlist stage contributes aggregation nodes, not windows
    val br = plan("cosine_topk_binary_rescored")
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(br).size >= 2,
      s"binary shortlist stage must keep the bounded aggregation:\n$br")
  }

  test("r15 tier: the delta-maintenance plans stay join-shaped (no " +
       "cartesian products)") {
    // building these frames runs the eager delta prep (checkpoints of
    // delta-bounded frames) at sf0.001 — cheap, and the final frame
    // still carries the real join tree the pin inspects.
    // graph_topk_rescored_drift is excluded: its registry frame is a
    // union of checkpointed result rows, so the pin would be vacuous.
    for (q <- Seq("dup_evidence_incremental", "dup_evidence_staleness"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
  }

  test("AQE right-sizes cached and checkpointed frames: a persisted or " +
       "locally checkpointed small aggregate does not keep the shuffle floor") {
    // GraftSession's floor is max(8·cores, 256). Without
    // canChangeCachedPlanOutputPartitioning AQE leaves a cached plan at
    // that floor, and every later join against the frame inherits a
    // 256-task stage for a few rows.
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "256")
    val persisted = spark.range(1000).selectExpr("id % 10 AS k")
      .groupBy("k").count().persist()
    try {
      persisted.count()
      val checkpointed = spark.range(1000).selectExpr("id % 10 AS k")
        .groupBy("k").count().localCheckpoint()
      val cores = spark.sparkContext.defaultParallelism
      for ((what, df) <- Seq("persist()" -> persisted, "localCheckpoint()" -> checkpointed)) {
        val n = df.rdd.getNumPartitions
        assert(n <= cores, s"$what of a 10-row aggregate kept $n partitions (cores $cores)")
      }
    } finally {
      persisted.unpersist()
      spark.conf.set(key, prior)
    }
  }
}
