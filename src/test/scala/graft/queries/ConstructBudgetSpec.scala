package graft.queries

import graft.{JobCounter, SparkEntry, SparkSpecBase}

/** Construct-job budget of every gate: building a gate's frame (the
  * queries-map function, before any action on the result) may start at
  * most the Spark jobs declared here. A gate absent from the table fails
  * the spec, so a new gate declares its budget when it is added. */
class ConstructBudgetSpec extends SparkSpecBase {

  /** Gates whose frame is built without a job. */
  private val zero: Set[String] = Set(
    "dd_decontaminate", "dd_embedding", "dd_embedding_incremental", "dd_exact",
    "dd_minhash", "dd_minhash_capped", "dd_minhash_incremental", "dd_minhash_verified",
    "dd_phash", "dd_phash_capped", "dd_phash_multiprobe_idx", "dd_recall_minhash",
    "dd_simhash", "dd_simhash_incremental", "dd_simhash_multiprobe",
    "dd_span_decontaminate", "dd_spans_incremental", "ds_cap_per_group",
    "ds_sample_stratified", "ds_split", "ds_token_budget", "ds_weighted", "ft_normalize",
    "mm_features", "mm_features_img", "op_merge_scd2", "op_salted_agg", "op_sessionize",
    "op_zorder", "op_zorder3", "q01_pricing_summary", "q02_filter_project",
    "q03_multi_distinct", "q04_conditional_agg", "q05_join_agg", "q06_left_join",
    "q07_ordinal_having", "q08_string_agg", "q09_window_top1", "q10_distinct", "q11_topk",
    "q12_scalar_subquery", "q13_cte_retention", "q14_union", "q15_rollup",
    "q16_string_funcs", "q17_date_funcs", "q18_semi_anti", "q19_json_extract",
    "q20_window_running", "q21_asof_join", "q22_range_join", "q23_percentiles", "q24_cube",
    "q25_pivot", "q26_set_ops", "q27_grouping_sets", "q28_window_suite",
    "q29_correlated_subquery", "q30_set_ops_all", "sk_sketches", "ss_ann_lsh",
    "ss_ann_lsh_multi", "ss_bm25", "ss_recall_lsh", "ss_recall_lsh_t8", "ss_topk_cosine",
    "ta_fingerprint", "ta_langid", "ta_perplexity", "ta_perplexity_incremental",
    "ta_quality", "ta_repetition", "ta_tfidf", "ta_token_bpe", "ta_token_stats", "ta_vocab",
    "tp_chunk", "tp_decontaminated", "tp_mixture", "tp_pack", "tp_shuffle",
    "tx_canonicalize", "tx_redact")

  /** Gates that run jobs while they are built: budget and the work it
    * pays for, in one word. */
  private val budgets: Map[String, (Int, String)] = Map(
    "cl_kmeans" -> (7, "kmeans"),
    "cl_kmeans_native" -> (7, "kmeans"),
    "dd_clusters" -> (8, "union-find"),
    "dd_clusters_incremental" -> (18, "union-find"),
    "dd_decontaminate_idx" -> (5, "index-build"),
    "dd_embedding_idx_bucketed" -> (2, "index-build"),
    "dd_keep_best" -> (8, "union-find"),
    "dd_keep_best_incremental" -> (19, "union-find"),
    "dd_minhash_idx_bucketed" -> (2, "index-build"),
    "dd_ngram_jaccard" -> (4, "staging"),
    "dd_phash_debiased" -> (6, "medians"),
    "dd_phash_idx_bucketed" -> (2, "index-build"),
    "dd_phash_multiprobe" -> (1, "staging"),
    "dd_simhash_idx_bucketed" -> (2, "index-build"),
    "dd_spans" -> (5, "staging"),
    "dd_spans_idx_bucketed" -> (6, "index-build"),
    "ds_semantic_cap" -> (7, "kmeans"),
    "ds_token_budget_incremental" -> (8, "totals"),
    "mm_curate" -> (3, "union-find"),
    "op_bloom_join" -> (3, "bloom"),
    "sk_heavy_hitters" -> (1, "sketch"),
    "sk_heavy_hitters_idx" -> (4, "index-build"),
    "sk_heavy_hitters_incremental" -> (9, "index-build"),
    "ss_ann_ivf" -> (1, "ivf"),
    "ss_ann_ivf_native" -> (1, "ivf"),
    "ss_ann_ivf_pq" -> (10, "pq"),
    "ss_ann_ivf_pq_pruned" -> (13, "pq"),
    "ss_ann_lsh_pruned" -> (2, "index-build"),
    "ss_ann_pq" -> (2, "pq"),
    "ss_ann_pq_codes" -> (2, "pq"),
    "ss_hybrid_rrf" -> (1, "hybrid-query-row"),
    "ss_recall_ivf" -> (3, "ivf"),
    "ss_recall_ivf_p8" -> (7, "kmeans"),
    "ta_bpe_encode" -> (12, "bpe"),
    "ta_bpe_train" -> (11, "bpe"),
    "ta_dup_fraction" -> (5, "staging"),
    "ta_quality_clf" -> (14, "classifier"),
    "ta_quality_clf_incremental" -> (14, "classifier"),
    "tp_curate" -> (12, "union-find"),
    "tp_curate_clf" -> (29, "classifier"),
    "tp_curate_lm" -> (23, "lm"),
    "tp_curate_trim" -> (20, "spans"),
    "tp_trim_spans" -> (5, "spans"))

  test("every gate is declared exactly once") {
    assert((zero & budgets.keySet).isEmpty)
    assert(budgets.values.forall { case (jobs, why) => jobs > 0 && why.matches("[a-z-]+") })
    assert(SparkEntry.queries.keySet -- zero -- budgets.keySet === Set.empty[String])
    assert(zero ++ budgets.keySet -- SparkEntry.queries.keySet === Set.empty[String])
  }

  test("every gate builds within its construct-job budget") {
    val measured = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> JobCounter.count(spark)(q(spark, sfDir))._2
    }
    val over = measured.filter { case (name, jobs) =>
      jobs > budgets.get(name).fold(0)(_._1)
    }
    assert(over.isEmpty, over.map { case (n, j) => s"$n=$j" }.mkString("over budget: ", ", ", "") +
      measured.map { case (n, j) => s"$n=$j" }.mkString("\nmeasured: ", ", ", ""))
  }
}
