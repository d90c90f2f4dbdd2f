package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SessionCache

/** Driver-checked PLAN-SHAPE tripwire — the `ann_recall_gates` /
  * `fit_quality_gates` pattern applied to the physical plans
  * themselves: the scale posture this engine claims (filters pushed to
  * the scan, dimension joins broadcast, the co-bucketed fact join
  * shuffle-free, top-k never a global sort, similarity joins never
  * cartesian) is asserted today in ScalaTest; this query distills the
  * same assertions into (check, ok) verdict rows against a literal-TRUE
  * oracle, so a planner regression — a lost pushdown after a refactor,
  * an Exchange sneaking back into the bucketed join, a decorrelation
  * that falls back to a nested loop — hash-mismatches in the driver's
  * correctness gate instead of only failing a test nobody re-ran.
  *
  * Only the PLAN is built (no query here executes the checked
  * DataFrames); with AQE on, `executedPlan` renders the initial
  * physical plan, which is exactly where these static features live.
  * Cost is planning + the one-off layout builds the checked queries
  * share with the rest of the suite (bucketed + sorted mirrors).
  */
object PlanGates {

  /** The checks, mirroring OpsSpec's plan assertions one-for-one.
    * Names are stable — they ARE the oracle rows. */
  private val checks: Seq[(String, String, String => Boolean)] = Seq(
    // scans: predicate pushdown reaches parquet
    ("q1_pricing_filter_pushed", "q1_pricing",
      p => p.contains("PushedFilters: [") && !p.contains("PushedFilters: []")),
    ("events_day_slice_stats_prunable", "events_day_slice",
      p => p.contains("PushedFilters") && p.contains("ts_day")),
    // joins: dimensions broadcast, fact-fact stays equi, top-k fused
    ("star_join_broadcasts_dims", "star_join_revenue",
      p => p.contains("BroadcastHashJoin")),
    ("top_orders_no_global_sort", "top_orders",
      p => p.contains("TakeOrderedAndProject")),
    ("shipping_priority_topk_fused", "shipping_priority",
      p => p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin")),
    ("local_supplier_all_equi_join", "local_supplier_volume",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // the co-bucketed layout's whole point: zero Exchange nodes
    ("bucketed_join_shuffle_free", "bucketed_join_revenue",
      p => p.contains("SortMergeJoin") && !p.contains("Exchange")),
    // correlated subqueries decorrelate to joins, never nested loops
    ("exists_becomes_semi_join", "sql_exists_agg",
      p => p.contains("LeftSemi") && noLoops(p)),
    ("not_exists_becomes_anti_join", "sql_dormant_customers",
      p => p.contains("LeftAnti") && noLoops(p)),
    ("scalar_subquery_decorrelates", "sql_scalar_subquery", noLoops),
    // the disjunctive cross-dim predicate must not force a nested loop
    ("nation_volume_all_equi_join", "sql_nation_volume",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    ("market_share_all_equi_join", "sql_market_share",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // similarity/dedup candidate generation is equi-join, not all-pairs
    ("minhash_candidates_equi_join", "minhash_candidates", noLoops),
    ("fuzzy_key_pairs_equi_join", "fuzzy_key_pairs", noLoops),
    ("ann_lsh_equi_join", "ann_lsh_topk", noLoops),
    ("ann_ivf_equi_join", "ann_ivf_topk", noLoops),
    // Q19's disjunctive brackets mix both join sides: the optimizer
    // must still extract the shared equi-key, never a nested loop
    ("disjunctive_filter_stays_equi", "sql_disjunctive_filter",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    ("promo_share_broadcasts_part", "sql_promo_revenue",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // Q9 shape: 4 dimension joins broadcast, never a loop join
    ("product_profit_all_equi_join", "sql_product_profit",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // Q13's outer join carries a non-key ON predicate — must stay an
    // equi outer join (the predicate rides the join, not a loop)
    ("order_histogram_outer_equi_join", "sql_order_count_histogram", noLoops),
    ("ship_class_matrix_equi_join", "sql_ship_priority_class", noLoops),
    // graph tier: pair mining, wedge build, and closing-edge check must
    // run as HASH equi joins — a cartesian here is quadratic in the
    // catalog. (These plans legitimately contain single-row
    // BroadcastNestedLoopJoins: the `crossJoin(broadcast(totals))`
    // scalar-attach pattern — so the gate forbids CartesianProduct and
    // requires the hash joins, rather than banning BNLJ outright.)
    ("part_affinity_equi_join", "part_affinity", hashJoinsNoCartesian),
    // the production pagerank cuts lineage per iteration (its final
    // plan is LogicalRDDs), so the gate inspects one un-checkpointed
    // iteration's join shape via a dedicated plan builder
    ("pagerank_iterations_equi_join", "__pagerank_iteration", hashJoinsNoCartesian),
    ("triangles_equi_join", "graph_triangles", hashJoinsNoCartesian),
    // sorted-neighborhood pairs form on the banded bucket key, and the
    // eval-set contamination join must broadcast the benchmark side
    ("snm_pairs_banded_equi_join", "snm_candidates", hashJoinsNoCartesian),
    ("eval_contamination_broadcasts_evalset", "eval_contamination",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // round-10 operators: the Q10 report joins all-equi with broadcast
    // dims; the sweep's day join broadcasts the |days|-bounded delta
    // table; the MG recount semi-joins the broadcast survivor set; the
    // fuzzy-contamination probe broadcasts eval bands while the corpus
    // streams; attribution's banded candidates stay hash-equi; a BFS
    // round (un-checkpointed, via the dedicated builder — the
    // production query's plan is LogicalRDDs after the lineage cuts)
    // expands the frontier by hash joins only
    ("returned_items_all_equi_join", "sql_returned_items",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    ("open_orders_sweep_broadcasts_deltas", "open_orders_daily",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    // (the 1-row crossJoin(broadcast(total)) scalar-attach is a benign
    // BNLJ, same exemption as part_affinity)
    ("heavy_hitters_recount_broadcast_semi", "heavy_hitters",
      p => p.contains("BroadcastHashJoin") && hashJoinsNoCartesian(p)),
    ("fuzzy_contamination_broadcast_probe", "eval_contamination_fuzzy",
      p => p.contains("BroadcastHashJoin") && noLoops(p)),
    ("linear_attribution_banded_equi_join", "linear_attribution",
      hashJoinsNoCartesian),
    ("bfs_frontier_equi_join", "__bfs_iteration", hashJoinsNoCartesian),
    // shuffle-economy tier: the bloom probes must sit in the plan as
    // scan-side filters (the expression renders by its prettyName), the
    // cascade carries BOTH probes, the salted join stays hash-equi, the
    // CDC diff is one full-outer equi join, and the two map-side text
    // ops must plan with NO join at all (their whole point). Building
    // the bloom plans runs the dimension-scale sizing probes — the
    // documented build-side actions, not a fact-scan execution.
    ("bloom_probe_filters_fact_scan", "bloom_prune_join",
      p => p.contains("bloom_might_contain") && hashJoinsNoCartesian(p)),
    ("bloom_cascade_carries_two_probes", "bloom_cascade_revenue",
      p => p.sliding("bloom_might_contain".length)
        .count(_ == "bloom_might_contain") >= 2 && hashJoinsNoCartesian(p)),
    ("salted_join_stays_equi", "salted_skew_join", hashJoinsNoCartesian),
    ("snapshot_diff_full_outer_equi", "snapshot_diff",
      p => p.contains("FullOuter") && noLoops(p)),
    ("phrase_search_joinless", "phrase_search",
      p => p.contains("phrase_positions") && !p.contains("Join")),
    ("char_entropy_joinless_single_pass", "char_entropy",
      p => p.contains("codepoint_entropy") && !p.contains("Join")),
    ("token_pmi_broadcasts_unigrams", "token_pmi",
      p => p.contains("BroadcastHashJoin") && hashJoinsNoCartesian(p)),
    // the Q2-shaped correlated argmin must decorrelate (agg + equi
    // join), and the deletion cascade's hops must be semi joins (its
    // 1-row count crossJoins are the benign scalar-attach BNLJ)
    ("min_cost_supplier_decorrelates", "sql_min_cost_supplier", noLoops),
    // Q16's uncorrelated NOT IN must become a (null-aware) hash anti
    // join, never the quadratic NAAJ-fallback loop
    ("supplier_cnt_not_in_anti_join", "sql_supplier_cnt",
      p => p.contains("LeftAnti") && hashJoinsNoCartesian(p)),
    ("deletion_audit_semi_join_cascade", "deletion_audit",
      p => p.contains("LeftSemi") && hashJoinsNoCartesian(p)),
    // round-10: the weighted-cosine tier must READ its session-cached
    // trigram tf frame (InMemoryTableScan in all four consuming
    // subplans — the cache actually engaging is a plan property), and
    // the novelty roll-up forms first-occurrence + per-doc joins as
    // hash equi joins over gram hashes, never a loop
    ("tfidf_reuses_cached_tf", "tfidf_cosine_pairs",
      p => p.contains("InMemoryTableScan") && hashJoinsNoCartesian(p)),
    ("ngram_novelty_equi_join", "ngram_novelty", hashJoinsNoCartesian),
    // round-11: the ANN scoring joins must attach vectors by BROADCAST
    // and never sort-merge — the sf1 perf tier caught the PQ decode
    // store's cached size estimate tipping past the auto-broadcast
    // threshold, which sort-merge-joined the candidate frame WITH
    // arrays attached (~35 GB exchange+sort, a 27× regression invisible
    // at the driver SFs). The attach is hinted now; these rows pin it
    ("ann_ivf_scoring_broadcast_attach", "ann_ivf_topk",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
    ("ann_pq_scoring_broadcast_attach", "ann_ivf_pq_topk",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
    ("ann_lsh_scoring_broadcast_attach", "ann_lsh_topk",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
    // round-11 continuation: the line-dedup reconstruction must form
    // its doc-frequency pass as aggregate + hash equi-join — a window
    // over the line key would buffer a viral banner's every occurrence
    // in one task (the ngram_novelty lesson applied to lines)
    ("line_dedup_no_window_equi_join", "line_dedup_clean",
      p => !p.contains("Window") && hashJoinsNoCartesian(p)),
    // round-12: the published-heuristic document filters must stay
    // shuffle-minimal — Gopher's battery is a PURE MAP stage (no join,
    // no aggregate; the only Exchange is the presentation sort), and
    // the C4 line classifier aggregates once on doc_id with no join
    // and no window (every rule decision is made line-local, map-side)
    ("gopher_flags_pure_map", "gopher_quality_flags",
      p => !p.contains("Join") && !p.contains("HashAggregate")),
    ("c4_filters_single_agg_no_join", "c4_line_filters",
      p => !p.contains("Join") && !p.contains("Window") &&
        p.contains("HashAggregate")),
    // the repetition battery's line/gram tiers aggregate on
    // (doc_id, key) — partial-merged, bounded by each doc's own
    // content — and rejoin per-doc as hash equi-joins; a window over
    // the gram key (the viral-boilerplate trap) must never appear
    ("gopher_repetition_no_window", "gopher_repetition_flags",
      p => !p.contains("Window") && hashJoinsNoCartesian(p)),
    // round-15: the exact cume-dist over near-unique prices must never
    // plan an unpartitioned running-sum window (the single-task funnel
    // the round-14 verdict flagged) — the range-partitioned PrefixSum
    // machinery plans as scans + hash joins, no Window node at all
    ("order_value_percentile_no_global_window", "order_value_percentile",
      p => !p.contains("Window") && hashJoinsNoCartesian(p)),
    // round-15 filtered/serving ANN: the filtered tier's vector
    // attaches stay broadcast (never the array-laden SMJ of the
    // round-11 61× regression) and nothing loops; the single-query
    // serving path must READ ONLY ITS PROBED CELLS — the isin on the
    // partition column renders as a non-empty PartitionFilters INSET at
    // the scan — and fuse its top-k (TakeOrderedAndProject, no global
    // sort)
    ("ann_ivf_filtered_scoring_broadcast_attach", "ann_ivf_topk_filtered",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
        && noLoops(p)),
    ("ann_query_search_partition_pruned", "ann_query_search",
      p => p.contains("PartitionFilters: [cell")
        && p.contains("TakeOrderedAndProject")),
    // round-16: a FILTERED single-query search serves entirely from the
    // index — probe widening reads the persisted _label_stats number
    // and the pool predicate applies inside the pruned cell scan, so
    // the plan may touch NO corpus file (the per-request semi-join
    // count job and its embeddings scan are gone)
    ("ann_query_search_filtered_no_corpus_scan", "__ann_query_search_filtered",
      p => p.contains("PartitionFilters: [cell")
        && !p.contains("embeddings.parquet")
        && p.contains("TakeOrderedAndProject")),
    // round-17: the SECOND stats-backed filter column (lang, attached
    // from the documents table at build time) serves the same way —
    // probe widening from _attr_stats_lang, predicate inside the
    // pruned cell scan, NO scan of embeddings OR documents
    ("ann_query_search_filtered_lang_no_corpus_scan",
      "__ann_query_search_filtered_lang",
      p => p.contains("PartitionFilters: [cell")
        && !p.contains("embeddings.parquet")
        && !p.contains("documents.parquet")
        && p.contains("TakeOrderedAndProject")),
    // round-15 radius search: a range result is a SET — no rank window
    // anywhere in the plan — and the IVF tier keeps the house rules
    // (broadcast vector attaches, equi-join candidates, never a loop)
    ("ann_ivf_range_set_no_window", "ann_ivf_range",
      p => !p.contains("Window") && p.contains("BroadcastHashJoin")
        && noLoops(p)),
    // round-17: lexical search serves FROM THE POSTINGS INDEX — the
    // scan prunes to the query terms' bucket directories at planning
    // time (tb is the partition column), no plan node touches
    // documents.parquet, and the top-k is TakeOrderedAndProject
    ("text_search_pruned_postings", "text_search",
      p => p.contains("PartitionFilters: [tb")
        && !p.contains("documents.parquet")
        && p.contains("TakeOrderedAndProject") && noLoops(p)),
    // the standing-query phrase tier: positional-postings intersection
    // is two pruned reads + an equi-join on doc_id — no corpus scan,
    // no loop join (the ad-hoc phrase_search tier keeps its scan)
    ("phrase_indexed_pruned_postings", "phrase_search_indexed",
      p => p.contains("PartitionFilters: [tb")
        && !p.contains("documents.parquet") && noLoops(p)))

  /** Gate-only plan builders for checks whose production query hides
    * the interesting stage behind a lineage cut. */
  private val customPlans: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "__pagerank_iteration" -> ((s, d) => Affinity.pagerankIterationPlan(s, d)),
    "__bfs_iteration" -> ((s, d) => Graph.bfsIterationPlan(s, d)),
    // the registered ann_query_search is unfiltered; the filtered
    // serving shape needs its own build (a fixed query direction — the
    // plan shape, not the answer, is under test)
    "__ann_query_search_filtered" -> ((s, d) =>
      graft.ops.Similarity.searchVector(s, d, Array.fill(64)(0.1),
        poolPred = Some(org.apache.spark.sql.functions.col("label") === 3))),
    "__ann_query_search_filtered_lang" -> ((s, d) =>
      graft.ops.Similarity.searchVector(s, d, Array.fill(64)(0.1),
        poolPred = Some(org.apache.spark.sql.functions.col("lang") === "en"))))

  private def noLoops(p: String): Boolean =
    !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")

  private def hashJoinsNoCartesian(p: String): Boolean =
    !p.contains("CartesianProduct") &&
      (p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("SortMergeJoin"))

  /** Verdicts are a pure function of (session, corpus) — plans don't
    * change within a session — so the plan builds run once per
    * (app, corpus), the same session-cache discipline as the signature
    * and label tables. */
  def planGates(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache(spark, Seq(sfDir), "planGates") {
      import spark.implicits._
      val verdicts = checks.map { case (check, query, pred) =>
        val build = customPlans.getOrElse(query, graft.SparkEntry.queries(query))
        val plan = build(spark, sfDir).queryExecution.executedPlan.toString
        (check, pred(plan))
      }
      verdicts.toDF("check_name", "ok").orderBy("check_name")
    }
}
