package graft.plans

import graft.SparkSpecBase

/** Plan-shape regression guard — the BENCH_NOTES explain audit as an
  * executable spec: flagship queries must keep the plans the 100 TB
  * posture depends on (no accidental cartesian products, filters pushed
  * into the parquet scan, top-k as TakeOrdered instead of a global
  * sort). Queries that legitimately cross-join a single-row/broadcast
  * side (q_funnel, the ANN query fan-outs) are not in the cartesian
  * list. */
class PlanGuardSpec extends SparkSpecBase {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("flagship plans contain no cartesian product") {
    for (q <- Seq("q1_agg", "q3_join_topk", "q5_multijoin", "q8_market_share",
                  "q4_order_priority", "d_dedup_ngram_jaccard", "d_dedup_minhash",
                  "d_dedup_simhash", "e_ann_lsh", "e_ann_ivf",
                  "q_ns_summary_by_user", "q_ns_small_files_hotspots",
                  "t_bm25_search", "q_retention", "q_transitions",
                  "q_ns_dup_names", "t_bigram_surprisal", "q_fsimage_quotas",
                  "q_basket_pairs", "q_ns_growth", "q_ns_du",
                  "t_len_histogram", "q_fsimage_perm_audit",
                  "q_fsimage_symlinks", "t_novelty",
                  "q_ns_compaction_plan", "t_dup_ratio_by_source",
                  "d_source_overlap", "t_split_leakage", "q_events_lift",
                  "t_ngram_diversity", "d_simhash_eval", "e_ann_pq",
                  "e_centroid_margin", "t_term_lift", "e_ann_ivfpq",
                  "d_containment", "d_semdedup", "d_semdedup_eval",
                  "e_ann_ivfpq_rerank", "e_ann_ivfsq", "t_tfidf_keywords",
                  "d_minhash_keep", "m_phash_dedup", "q10_returned_top",
                  "q_events_seasonality", "q_kmv_merge_rollup",
                  "e_ann_filtered", "d_minhash_incr",
                  "q_anomaly_mad", "t_gopher_rules", "t_dsir_weight",
                  "t_span_dup_rate", "e_auc_label", "q_kmv_intersect",
                  "q_pagerank", "e_hard_negatives", "t_curriculum",
                  "q_cm_sketch", "t_bpe_merges", "d_winnow", "e_ivf_balance",
                  "q_topk_merge_rollup", "e_rank_fusion", "d_winnow_eval",
                  "q_event_paths", "q_ns_empty_dirs", "m_scene_cuts",
                  "d_edit_verify", "t_decontaminate13", "d_cluster_sizes",
                  "q_rfm", "e_embed_drift", "e_dim_var",
                  "q_ns_depth_histogram", "e_norm_histogram", "t_ttr",
                  "t_substr_scrub", "e_ann_ivf_incr",
                  "d_minhash_recall_sampled", "d_winnow_eval_sampled",
                  "d_semdedup_eval09_sampled", "q_kcore",
                  "q_lpa_communities", "t_len_quantile_rollup",
                  "t_priority_sample", "e_rp_project", "e_rp_distortion",
                  "q6_forecast_revenue", "q7_volume_shipping",
                  "q9_product_profit", "q11_important_parts",
                  "q12_late_lines", "q13_order_dist", "q14_promo_share",
                  "q15_top_supplier", "q16_supplier_variety",
                  "q18_large_orders", "q19_bracket_revenue",
                  "q20_promo_suppliers", "q21_waiting_supplier",
                  "q22_idle_customers", "t_ccnet_bucket", "t_source_cap",
                  "t_fertility", "q_range_join", "q_bitmap_distinct",
                  "e_knn_graph", "e_knn_recall", "t_span_islands",
                  "t_span_length_hist", "q_fsimage_open_files",
                  "q_fsimage_cache", "e_knn_mutual", "e_knn_search",
                  "e_knn_search_recall", "e_ivf_rebalance",
                  "e_ivf_rebalance_eval", "q_ewma_anomaly", "q_attribution",
                  "q_link_predict", "d_lsh_curve", "q_window_funnel",
                  "q_cohort_revenue"))
      assert(!plan(q).contains("CartesianProduct"), s"cartesian in $q")
  }

  // r12: the knn-graph/walk chains are memoized (ChainMemo) — the
  // declared queries' own plans are scans of the memoized checkpoint, so
  // the shape guards below assert the BUILD plan, i.e. what actually
  // executes on a memo miss (every bench run's first execution).
  test("e_knn_graph build: cell equi-join candidates (no all-pairs self-join), bounded TopK (no corpus window sort)") {
    val p = graft.queries.VectorQueries.knnGraphBuild(spark, Sf)
      .queryExecution.executedPlan.toString
    // candidate generation must stay the probed-cell equi-join — an
    // all-pairs vector self-join would be quadratic in the corpus
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[cell#".r
      .findFirstIn(p).isDefined, "cell equi-join missing in e_knn_graph")
    assert(!p.contains("CartesianProduct"), "cartesian in e_knn_graph")
    // the per-vector top-k must be the bounded aggregator: the only
    // window in the plan is the per-vector cell assignment (a rank over
    // ncells rows), never one over the candidate-pair table
    assert(!p.contains("row_number"), "candidate-pair window sort leaked into e_knn_graph")
  }

  test("e_knn_search build probes the graph by broadcast frontier equi-join each round") {
    // every beam round must join the (tiny) frontier against the edge
    // list by BROADCAST hash on src_id — a shuffled join would re-shuffle
    // the O(n·k) graph per round, and a dropped key would nested-loop it.
    // r13: the expansion executes inside the walk's per-round collect job
    // (the frontier is a local relation), so the guard targets hnswExpand
    // — the exact expression every round runs — plus the returned plan's
    // no-cartesian invariant.
    import spark.implicits._
    val g = graft.queries.VectorQueries.knnGraphBuild(spark, Sf)
      .select("src_id", "nbr_id")
    val frontier = Seq((0L, 1L), (1L, 2L)).toDF("q_id", "node")
    val pe = graft.queries.VectorQueries.hnswExpand(g, frontier)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[src_id#".r.findFirstIn(pe).isDefined,
      "broadcast frontier-edge join missing in hnswExpand")
    val p = graft.queries.VectorQueries.knnSearchVisitedBuild(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "cartesian in e_knn_search")
  }

  test("t_substr_scrub stays an inverted-index pipeline: span-hash window, (doc,idx) equi-join, no nested-loop") {
    val p = plan("t_substr_scrub")
    // first-occurrence selection is a window over the span hash — the
    // d_dedup_exact recipe, one shuffle keyed on h
    assert(p.contains("row_number"), "first-occurrence window missing")
    // the covered-index attach must be an equi-join on (doc_id, idx)
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[doc_id#\\d+L?, idx#".r
      .findFirstIn(p).isDefined, "(doc_id, idx) equi-join missing")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop in t_substr_scrub")
  }

  test("e_ann_ivf_incr assigns map-side, no pos join; compare joins on vec_id") {
    val p = plan("e_ann_ivf_incr")
    // both assignments are a map over the quantized vectors against the
    // driver's codebook (KMeans.assignTop), never a pos-keyed join
    assert("posexplode\\(nearest\\(q#".r.findAllIn(p).size == 2, "map-side assignment missing")
    assert(!p.contains("[pos#"), "pos-keyed centroid join in e_ann_ivf_incr")
    // the incremental-vs-rebuild comparison joins on vec_id
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[vec_id#".r
      .findFirstIn(p).isDefined, "vec_id equi-join missing")
    assert(!p.contains("CartesianProduct"), "cartesian in e_ann_ivf_incr")
  }

  test("t_span_dup_rate joins the df table by shingle key, never nested-loop") {
    // the rejoin must stay an equi-join KEYED on the shingle hash (at
    // sf0.001 the planner may broadcast the tiny df table — fine; at
    // corpus scale stats keep it shuffled). A dropped key would degrade
    // to a nested-loop over the whole inverted index.
    val p = plan("t_span_dup_rate")
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[sh#".r
      .findFirstIn(p).isDefined, "shingle-key equi-join missing in t_span_dup_rate")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop in t_span_dup_rate")
  }

  test("q_range_join buckets the window into a (user, day) equi-join — never a nested-loop range join") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degraded to nested-loop")
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[user_id#\\d+L?, day#".r
      .findFirstIn(p).isDefined, "(user, day) equi-join missing in q_range_join")
  }

  test("t_source_cap selects the kept set with the bounded TopK aggregator, not a per-source window sort") {
    val p = plan("t_source_cap")
    // the kept-set selection must be the Aggregator (bounded map-side
    // buffers, O(sources·k) shuffle) — a row_number window over the
    // corpus would ship and sort every row of a giant source
    assert(!p.contains("RunningWindowFunction") && !p.toLowerCase.contains("window"),
      "window sort leaked into t_source_cap")
    // the O(sources·k) kept-id table attaches back by broadcast
    assert("BroadcastHashJoin \\[doc_id#".r.findFirstIn(p).isDefined,
      "kept-id broadcast join missing in t_source_cap")
  }

  test("q_graph_triangles closes wedges with an equi-join, not all-pairs") {
    // the wedge legs join on src and the closing edge joins on (src, dst)
    // — both hash/merge equi-joins; the only nested-loop allowed is the
    // broadcast single-row totals cross-join
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct"), "cartesian in q_graph_triangles")
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[src#".r
      .findFirstIn(p).isDefined, "wedge equi-join missing in q_graph_triangles")
  }

  test("q_cm_sketch reads the counter table back as a broadcast and bounds its head") {
    // the 1024-row (depth, bucket) counter table must come back to the
    // keyed counts as a broadcast hash join — a shuffled join would cap
    // parallelism at the d·w cell domain — and the readout must stay a
    // TakeOrdered head, never a global sort
    val p = plan("q_cm_sketch")
    assert(p.contains("BroadcastHashJoin"), "counter broadcast missing in q_cm_sketch")
    assert(p.contains("TakeOrderedAndProject"), "global sort in q_cm_sketch")
  }

  test("t_bpe_merges expands pairs over the vocab table and bounds its head") {
    // the char-pair explode must sit ABOVE the vocab aggregate (expansion
    // over |vocab| rows, not corpus tokens): in the string plan the
    // pair-generate's child chain must contain the term hash-aggregate
    val p = plan("t_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"), "global sort in t_bpe_merges")
    val gen = p.linesIterator.indexWhere(l => l.contains("Generate") && l.contains("substr"))
    val agg = p.linesIterator.indexWhere(l => l.contains("HashAggregate") && l.contains("keys=[term"))
    assert(gen >= 0 && agg > gen, s"pair expansion not over the vocab aggregate (gen=$gen agg=$agg)")
  }

  test("d_winnow build pairs join on the fingerprint key, never nested-loop") {
    // same contract as the jaccard candidate generator: the pair join
    // must stay an equi-join keyed on the winnowed fingerprint hash
    // (build plan — the declared query serves the memoized checkpoint)
    val p = graft.queries.TextQueries.winnowBuild(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) \\[sh#".r
      .findFirstIn(p).isDefined, "fingerprint equi-join missing in d_winnow")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop in d_winnow")
  }

  test("e_cov_pairs expands pair products map-side, never a vec_id self-join") {
    // the d²/2 products must come from the per-row Generate (partial-agg
    // collapses them to the 120-key domain); the only joins are the two
    // 16-row dim-sum broadcasts
    val p = plan("e_cov_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus-scale join in e_cov_pairs")
    assert(p.contains("BroadcastHashJoin"), "dim-sum broadcast missing in e_cov_pairs")
    assert(p.contains("TakeOrderedAndProject"), "global sort in e_cov_pairs")
  }

  test("t_dsir_weight rejoins the bucket table as a broadcast") {
    // the 64-row bucket histogram must come back to the token stream as a
    // broadcast hash join — a shuffled join here would re-shuffle the
    // whole token explode on the 64-value bucket key (max parallelism 64)
    assert(plan("t_dsir_weight").contains("BroadcastHashJoin"),
      "bucket broadcast missing in t_dsir_weight")
  }

  test("e_ann_ivfsq candidates come from the cell equi-join, not all-pairs") {
    // the compressed scan must stay gated on the IVF cell key — a dropped
    // cell join would regress to a corpus-wide scan per query. (The plan
    // DOES carry one BroadcastNestedLoopJoin: the 16-row coarse-centroid
    // assignment, same as e_ann_ivf — the guard is that the CANDIDATE join
    // is hash-keyed on cell.)
    val p = plan("e_ann_ivfsq")
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[cell#".r
      .findFirstIn(p).isDefined, "cell equi-join missing in e_ann_ivfsq")
  }

  test("t_tfidf_keywords derives df from a window, not a second token scan") {
    // one (doc,term) aggregation feeds both tf and the df count window;
    // a join-based df would re-scan or re-shuffle the token table. (The
    // plan's one SinglePartition exchange is the 1-row n_docs broadcast.)
    val p = plan("t_tfidf_keywords")
    assert(p.contains("windowspecdefinition(term"), "df window missing")
  }

  test("d_semdedup pairs join on the cluster id, not all-pairs") {
    // the in-cluster scan must be an equi-join keyed by the k-means
    // cluster (the SemDeDup bucketing); a dropped join key would silently
    // regress to the quadratic corpus scan
    val p = plan("d_semdedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    // a dropped equi-key degrades to a nested-loop, not always a Cartesian
    assert(!p.contains("BroadcastNestedLoopJoin"), "all-pairs scan in d_semdedup")
  }

  test("t_top_shingles and t_zipf bound their heads with TakeOrdered") {
    assert(plan("t_top_shingles").contains("TakeOrderedAndProject"))
    assert(plan("t_zipf").contains("TakeOrderedAndProject"))
  }

  test("t_priority_sample is one TakeOrdered pass — no global sort, no corpus shuffle") {
    val p = plan("t_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), "global sort in t_priority_sample")
    assert(!p.contains("Exchange hashpartitioning"), "corpus shuffle in t_priority_sample")
  }

  test("q_ns_compaction_plan takes its top-20 as TakeOrderedAndProject") {
    assert(plan("q_ns_compaction_plan").contains("TakeOrderedAndProject"))
  }

  test("q_ns_compaction_plan windows by parent dir, never one partition") {
    // (the namespace build itself carries a limit(1) SinglePartition for
    // the root row, so assert the window spec rather than the whole plan)
    assert(plan("q_ns_compaction_plan").contains("windowspecdefinition(pdir"))
  }

  test("q_ns_dup_names takes its top-20 as TakeOrderedAndProject") {
    assert(plan("q_ns_dup_names").contains("TakeOrderedAndProject"))
  }

  test("q_transitions shuffles once on user_id for the lag window") {
    // the window's Sort must be partitioned (no single-partition window)
    assert(!plan("q_transitions").contains("SinglePartition"))
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "filter not pushed")
  }

  test("top-k queries run as TakeOrderedAndProject, never a global sort") {
    assert(plan("q3_join_topk").contains("TakeOrderedAndProject"))
    assert(plan("t_vocab").contains("TakeOrderedAndProject"))
    assert(plan("q10_returned_top").contains("TakeOrderedAndProject"))
  }

  test("q10_returned_top pushes both fact filters into the parquet scans") {
    val p = plan("q10_returned_top")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag not pushed")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date range not pushed")
  }

  test("q5_multijoin broadcasts every dimension side") {
    val p = plan("q5_multijoin")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }
}
