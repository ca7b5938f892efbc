package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line.
  * Heavy ML-training queries are excluded from the headline set (they have
  * their own rows-only correctness entries); everything here is the
  * operator surface a 100 TB pipeline would run continuously. */
object Bench {

  val Headline: Seq[String] = Seq(
    "q1_agg", "q6_agg", "q18_having", "q3_join", "q5_join", "q_window", "q_events_window",
    "q_sessionize", "q_session_stats", "q_rollup", "q_percentiles", "q_moving_avg", "q_funnel", "q_funnel_steps",
    "q_clean_text", "q_clean_english", "q_tokens", "q_dictionary", "q_tfidf",
    "q_lang_id", "q_lang_ngram", "q_quality", "q_quality_rules", "q_lm_score",
    "q_rep_ngram",
    "q_token_count", "q_fingerprint", "q_corpus_stats", "q_curation",
    "q_curation_full",
    "q_dedup_exact", "q_dedup_jaccard", "q_dedup_incremental", "q_dedup_minhash", "q_dedup_simhash",
    "q_decontaminate", "q_decon_semantic", "q_line_dedup", "q_dedup_clusters",
    "q_dedup_canonical",
    "q_rouge_pairs", "q_rake", "q_blocklist",
    "q_asof_join", "q_asof_native", "q_range_join", "q_bm25", "q_pivot", "q_anomaly",
    "q_ntile", "q_ntile_approx", "q_compact", "q_chisq", "q_events_hop",
    "q_graph_stats", "q_local_clustering", "q_pagerank", "q_modularity", "q_assortativity", "q_kcore", "q_mix_rates", "q_gapfill", "q_topk",
    "q_dedup_cosine", "q_dedup_cosine_lsh", "q_knn_search", "q_mmr", "q_ann_lsh", "q_ann_pq",
    "q_embed_quant", "q_eval_metrics", "q_concept_docs",
    "q_multimodal", "q_multimodal_frames",
    "q_events_json", "q_events_props", "q_antijoin", "q_retention",
    "q_jaro_winkler", "q_gold_standard", "q_nquads_parse",
    "q_sample", "q_sample_stratified", "q_sample_weighted", "q_sample_group",
    "q_scd2", "q_wau", "q_percentiles_approx",
    "q_histogram", "q_corr_matrix", "q_regr", "q_regr_multi", "q_psi", "q_markov",
    "q_attribution", "q_attribution_markov", "q_markov_stationary",
    "q_dw", "q_bhattacharyya",
    "q_nelson_aalen", "q_readability", "q_zipf", "q_kappa", "q_cube",
    "q_copurchase", "q_unpivot", "q_profile", "q_key_skew", "q_pmi", "q_keywords",
    "q2_topsupp", "q4_priority", "q7_volume", "q8_share", "q9_profit",
    "q10_returns", "q12_priority", "q13_custdist", "q15_topsupp", "q14_promo", "q16_suppcnt", "q17_smallqty",
    "q19_disjunct", "q20_excess", "q21_blame", "q22_idle", "q_price_index",
    "q_chunk", "q_fuzzy_vocab", "q_bloom_semi", "q_heavy_hitters", "q_ewma",
    "q_zorder", "q_window_funcs", "q_setops", "q_bpe", "q_table_diff",
    "q_pca", "q_freq_itemsets", "q_assoc_rules", "q_seq_patterns", "q_pack",
    "q_dup_spans", "q_merge_upsert", "q_merge_files", "q_merge_cdf", "q_entropy", "q_ab_test", "q_bpe_encode",
    "q_hard_negatives", "q_span_scrub", "q_span_scrub_exact", "q_split_leakfree", "q_split_incremental", "q_canonical_incremental", "q_normalize",
    "q_class_centroids", "q_media_phash", "q_nquads_source", "q_pipeline",
    "q_source_overlap", "q_containment",
    "q_ccnet_buckets", "q_bigram_lm", "q_tok_fertility", "q_dup_ngrams",
    "q_fleiss", "q_dp_counts", "q_winsorize", "q_winsorize_approx", "q_mutual_info", "q_rocchio",
    "q_cusum", "q_calibration", "q_ann_recall", "q_hll_merge",
    "q_tdigest", "q_tdigest_audit", "q_exact_substr", "q_exact_substr_spans", "q_source_verbatim", "q_neg_sampling", "q_streaks", "q_brier", "q_holt_winters", "q_games_howell", "q_sppmi", "q_paths", "q_feature_hash", "q_sample_fixed", "q_growth_accounting", "q_embed_drift", "q_cox", "q_cox_audit", "q_jaccard_prefix", "q_setops_bag", "q_audience_overlap", "q_pattern_match", "q_srm", "q_qte", "q_quantile_reg", "q_connected_components", "q_cc_incremental", "q_boxcox", "q_matrix_profile", "q_herfindahl", "q_dtw", "q_pacf", "q_isotonic_curve", "q_sinkhorn", "q_sinkhorn_audit", "q_viterbi", "q_binseg", "q_rbo", "q_lof", "q_l_moments", "q_iv_wald", "q_aa_test", "q_simpson_flip", "q_cmh", "q_weighted_logrank", "q_meta_fixed", "q_hw_eval", "q_acf", "q_ar_forecast", "q_forecast_coherence", "q_cooks_distance",
    "q_ks_test", "q_kuiper", "q_join_size_sketch", "q_oracle_canary", "q_temp_sampling", "q_bitmap_distinct", "q_incr_agg",
    "q_minhash_audit", "q_skyline", "q_kanon", "q_benford", "q_autocorr",
    "q_spearman", "q_mannwhitney", "q_simhash_audit", "q_cosine_lsh_audit",
    "q_mad", "q_mad_approx", "q_wasserstein", "q_energy_dist", "q_krippendorff", "q_auc", "q_changepoint",
    "q_oov", "q_ctfidf", "q_js_terms", "q_bootstrap", "q_hill", "q_ldiversity",
    "q_gini", "q_kendall", "q_dispersion", "q_kaplan_meier", "q_competing_risks", "q_rmst",
    "q_good_turing", "q_llr", "q11_value", "q_novelty", "q_dq_checks",
    "q_embed_outliers", "q_ttr", "q_burstiness", "q_bfs_depth",
    "q_lorenz", "q_cramers_v", "q_concordance", "q_jackknife",
    "q_salted_join", "q_holt", "q_seasonal", "q_mrl_audit", "q_ab_sequential",
    "q_cliffs_delta", "q_cohens_d", "q_theil_sen", "q_bh_fdr", "q_page_hinkley",
    "q_ndcg", "q_er_blocking", "q_er_sorted", "q_cuped", "q_cem_att",
    "q_kneser_ney", "q_quantile_norm", "q_conformal",
    "q_rrf", "q_cms_audit", "q_sprt",
    "q_holm", "q_eb_shrink", "q_two_prop",
    "q_mrr", "q_map", "q_shapley_attrib", "q_slo_burn",
    "q_grouping_sets", "q_range_frame", "q_did", "q_logrank", "q_forecast_eval", "q_partial_corr",
    "q_lift", "q_heaps", "q_fourfifths", "q_lang_confusion",
    "q_fellegi", "q_ann_ivf_audit", "q_ann_ivf_foldin_audit", "q_ann_pq_audit", "q_ann_ivfpq_audit", "q_bloom_audit",
    "q_anova", "q_kruskal", "q_tcloseness", "q_hits", "q_pca_audit",
    "q_levene", "q_trend", "q_tukey", "q_dunn", "q_friedman",
    "q_bartlett", "q_cochran_q", "q_mcnemar", "q_yule_k", "q_theil",
    "q_page_trend", "q_jonckheere", "q_cronbach", "q_mcc", "q_runs_test",
    "q_ljung_box", "q_bleu_pairs", "q_splice_pairs", "q_median_test",
    "q_burrows", "q_token_budget", "q_cohens_h", "q_seasonal_strength",
    "q_simpson", "q_trimmed_mean", "q_iqr_outliers", "q_dedup_rate_curve", "q_rate_knee", "q_lsh_plan", "q_lsh_plan_audit",
    "q_ess", "q_chao1", "q_sampler_audit", "q_trimmed_mean_approx",
    "q_cvm", "q_ansari", "q_pettitt", "q_granger", "q_mde",
    "q_item_sim", "q_link_pred", "q_concurrency", "q_kmv_intersect",
    "q_mixture_weights", "q_mann_kendall", "q_tost",
    "q_quade", "q_by_fdr", "q_abc", "q_sax", "q_new_vs_returning",
    "q_funnel_time", "q_rfm", "q_cohort_revenue")
  // q_features_audit / q_lda_audit / q_isotonic_audit / q_classify_audit /
  // q_cv_audit / q_bpe_audit / q_polysemy_eval_audit — and the r12
  // additions q_coherence_audit / q_hdp_audit (LDA upstream),
  // q_semantic_audit (KMeans upstream), q_classify_excluded /
  // q_classify_sgdh (classifier fits) — stay out of the headline set:
  // each triggers an ITERATIVE or heavyweight training fit
  // (LR/CV/LDA/BPE pipelines — the module doc's ML-training exclusion).
  // q_pca_audit is deliberately IN: its PCA "fit" is a single covariance
  // pass plus a driver-side d×d eigendecomposition (d = embedding dim,
  // corpus-size-independent) — one-pass analytics, not iterative
  // training, so it benches like the other certificate queries.
  // r13 additions: q_rouge_pairs / q_rake / q_er_sorted / q_map /
  // q_blocklist / q_bartlett / q_cochran_q / q_mcnemar / q_yule_k /
  // q_theil / q_page_trend / q_jonckheere are IN (one-pass
  // analytics); q_kmeans / q_kmeans_audit / q_silhouette / q_hac /
  // q_hac_audit (Lloyd
  // iterations upstream), q_perplexity_audit / q_model_select_audit /
  // q_polysemy_audit / q_param_sweep_audit (LDA upstream),
  // q_clf_param_sweep_audit (6 LR fits) and q_bpe_encode_audit (BPE
  // training upstream) follow the ML-training exclusion, as does the
  // whole q_unigram family (EM training upstream).
  // r18: q_als_foldin / q_als_foldin_audit ride the trained ALS model
  // (same ML-training exclusion as their parents).
  // r17: q_als / q_als_audit (10 ALS sweeps), q_w2v / q_w2v_audit
  // (skip-gram training upstream), q_gmm / q_gmm_audit (EM training) and
  // q_wordpiece / q_wordpiece_audit / q_wordpiece_encode /
  // q_wordpiece_encode_audit (iterative merge training, like the whole
  // q_bpe/q_unigram families) follow the same ML-training exclusion.

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    // Measure a full materialization of EVERY output column via the noop
    // sink — a bare .count() lets Catalyst prune the projections under
    // test, so map-only queries would be timed as empty scans. n=3 reps,
    // median: single-shot numbers at this scale carry ±2× JIT/IO noise.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Optional comma-separated subset for local iteration (driver leaves
    // unset). An explicit subset may name ANY registered query, including
    // the ML-training ones excluded from the Headline set — that is how
    // the scale ladder measures a topic-model fit path (r16 task 4)
    // without putting iterative training in the driver's headline run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = only match {
      // subsets run in HEADLINE order (not sorted): execution order
      // decides which query pays each memoized substrate's build cost,
      // so a reordered subset would not be comparable to the full run
      // (r18 drift attribution needs common-set-only runs that charge
      // substrates to the same first consumers as the full suite)
      case Some(sel) =>
        Headline.filter(n => sel(n) && qs.contains(n)) ++
          (sel -- Headline.toSet).toSeq.sorted.filter(qs.contains)
      case None => Headline.filter(qs.contains)
    }
    val (times, errors) = timeQueries(spark, sfDir, qs, names, reps)
    val (line, compact, sidecar) =
      report(sfDir, names, times, errors, ModelCache.buildCosts(spark).toMap)
    println(line)
    println(compact)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sidecar.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: $e") }
    spark.stop()
  }

  /** Each query's rep times (latest first) and, for a query with NO
    * successful rep, the class of its last exception. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      qs: Map[String, (SparkSession, String) => DataFrame], names: Seq[String],
      reps: Int): (Map[String, List[Double]], Map[String, String]) = {
    // INTERLEAVED rep rounds (A,B,C,A,B,C — not A,A,A,B,B,B): a transient
    // contention spike (GC pause, page-cache eviction, a co-tenant burst)
    // lands in one round and the per-query median absorbs it, instead of
    // poisoning every rep of whichever query was running (r8: q_key_skew
    // 0.37→2.01 s on unchanged code, adjudicated as suite contention).
    // ROTATED rep rounds: round r starts at offset r·|Q|/reps, so no
    // query sits at a round boundary in every rep. Without rotation the
    // first queries of each round always absorb round-start turnover
    // (executor-pool churn, page-cache refill after the previous round's
    // tail) — r14: q_trimmed_mean reps [18.8, 1.9, 2.1], a 9× first-
    // position tax on unchanged code. Rotation spreads the boundary cost
    // across the suite so min-of-reps needs only one clean placement.
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errs = scala.collection.mutable.Map.empty[String, String]
    for (r <- 0 until reps;
         offset = if (names.isEmpty) 0 else (r.toLong * names.size / reps).toInt;
         name <- names.drop(offset) ++ names.take(offset)) {
      try {
        val t0 = System.nanoTime()
        qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        times(name) = ((System.nanoTime() - t0) / 1e9) :: times.getOrElse(name, Nil)
      } catch { case scala.util.control.NonFatal(e) =>
        errs(name) = e.getClass.getSimpleName
      }
      // NonFatal only (r20 ADVICE, BenchMl twin): a fatal JVM error must
      // abort the run, not leave a corrupted JVM timing every later query
    }
    (times.toMap, errs.toMap -- times.keys)
  }

  /** The headline line, the compact line and the sidecar. A failed
    * query is listed under `"errors"` only, so it cannot lower the total. */
  private[graft] def report(sfDir: String, names: Seq[String],
      times: Map[String, List[Double]], errors: Map[String, String],
      buildCosts: Map[String, Double]): (String, String, String) = {
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ran = names.filter(times.contains)
    // Headline statistic is MIN-of-reps, not the median: with only 3
    // interleaved reps a 2-rep contention burst lands IN the median
    // (r10: q_bootstrap [24.5, 24.3, 2.9] → median 24.3 on unchanged
    // code), while the min is the standard contention-robust statistic —
    // the query demonstrably CAN run that fast, so anything above it is
    // machine noise, not plan cost. Medians stay in the sidecar for
    // spread-watching.
    val results = ran.map(n => n -> times(n).min)
    val medians = ran.map { n => val ts = times(n).sorted; n -> ts(ts.size / 2) }
    val errJson = obj(errors.toSeq.sorted.map { case (k, v) => k -> ("\"" + v + "\"") })
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","stat":"min-of-reps","queries":${obj(results)},"errors":$errJson,"sf":"$sfDir"}"""
    // COMPACT trailing line (r16): the driver's round artifact keeps only
    // the last ~2000 chars of stdout, and the full per-query line above
    // has been ~9 KB since r12 — every BENCH_rN.json since then recorded
    // "parsed": null. This second line carries the same headline metric
    // plus the slowest-10 subset and FITS in the captured tail, so the
    // round artifact parses again; the complete per-query map stays in
    // the line above and in the BENCH_QUERIES.json sidecar.
    val slowest = obj(results.sortBy(-_._2).take(10))
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","stat":"min-of-reps","n_queries":${results.size},"n_errors":${errors.size},"queries":$slowest,"queries_note":"slowest-10 of ${results.size}; full map in BENCH_QUERIES.json","sf":"$sfDir"}"""
    // The stdout line gets truncated by log captures once the suite is
    // hundreds of queries (r9: 180 of 256 medians lost to the tail), so
    // the FULL result — min-of-reps headline, medians, plus every
    // interleaved rep, so a reader can judge spread — also lands in a
    // sidecar file for round-over-round per-query diffing.
    val repsJson = obj(ran.map(n => n -> times(n).reverse.mkString("[", ",", "]")))
    // Substrate build-cost attribution (r21 verdict item 6): min-of-reps
    // charges each memoized ModelCache substrate's build to whichever
    // query reaches it first in rep 1, so per-query numbers for family
    // members understate standalone cost — the sidecar reports every
    // substrate's one-time build seconds so readers can re-attribute.
    // (For lazily persisted substrates this is plan-build time only; the
    // first consumer's rep still carries the fill.) Locale.ROOT: the
    // default locale may write a decimal comma, which is not JSON.
    val subJson = obj(buildCosts.toSeq.sortBy(-_._2)
      .map { case (k, v) => k -> "%.3f".formatLocal(java.util.Locale.ROOT, v) })
    (line, compact, line.dropRight(1) +
      s""","medians":${obj(medians)},"substrate_build_sec":$subJson,"reps":$repsJson}""" + "\n")
  }
}
