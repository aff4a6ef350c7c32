package graft

/** Enforced fact-scan budgets for EVERY gate (round 16 — the r15 sweep's
  * classification promoted from scaladoc prose to data the build checks).
  *
  * The reuse-aware walk reads each gate's AQE-FINAL physical plan
  * (unwrapping adaptive/stage nodes, stopping at ReusedExchangeExec) and
  * counts executed scans of the five fact tables. Any gate scanning a
  * fact table more than once must appear in [[ScanBudget.allow]] with a
  * budget AND a class; the classes (PERF.md "multi-scan classification"):
  *
  *  1. multiple logical corpus references BY CONSTRUCTION — variant-
  *     planting fixture unions, two snapshots/halves/corpora, and
  *     self-referencing relational ops (EXISTS, set-ops, RI audits). In
  *     production these are distinct inputs or stored views.
  *  2. threshold-then-apply two-pass — pass 2 depends on a global
  *     aggregate / trained artifact of pass 1 (z-thresholds, rank
  *     censuses, DSIR bucket weights, BPE merges, IVF quantizers).
  *     Caching a 100 TB corpus to save the second scan is the wrong
  *     trade; the artifact, not the corpus, is what gets materialized.
  *  3. staged-survivor narrowing — each pass re-scans with a DIFFERENT
  *     pushed filter (funnels, sequential looks, staged pipelines);
  *     n cheap pruned scans beat one full scan plus a pivot.
  *
  * The former class 4 — redundant recompute of an expensive derived
  * subtree (the r14 TPC-H CTE inlining, q_dsir's doubled gram pass,
  * q_bm25's per-consumer re-tokenize) — has NO allowlist representation:
  * a gate that develops one either exceeds its budget or shows up
  * unclassified, and [[ScanBudgetSpec]] goes red. No TPC-H gate has an
  * entry, so each of the 22 scans lineitem and orders at most once.
  *
  * The walk runs in the one gate pass ([[GateSweep]]). Streaming gates
  * are swept too (round 17): what the sweep sees for them is the drained
  * batch-side frame — see [[GateSweep.violations]].
  */
object ScanBudget {

  /** gate -> (fact table, max executed scans, class 1–3). */
  val allow: Map[String, Seq[(String, Int, Int)]] = Map(
    "q_abc_class" -> Seq(("lineitem", 2, 2)),
    "q_ad_uniform" -> Seq(("events", 3, 2)),
    "q_attribution" -> Seq(("events", 2, 3)),
    "q_attribution_linear" -> Seq(("events", 2, 3)),
    "q_audio_neardup" -> Seq(("documents", 2, 1)),
    "q_autocorr" -> Seq(("events", 2, 2)),
    "q_benford_chi2" -> Seq(("orders", 2, 2)),
    "q_bm25" -> Seq(("documents", 2, 2)),
    "q_boilerplate" -> Seq(("documents", 2, 2)),
    "q_bootstrap_ci" -> Seq(("orders", 2, 2)),
    "q_cem_att" -> Seq(("orders", 2, 2)),
    "q_changepoint" -> Seq(("lineitem", 2, 2)),
    "q_chi2" -> Seq(("events", 4, 2)),
    "q_cms_audit" -> Seq(("lineitem", 2, 2)),
    "q_cochran_armitage" -> Seq(("orders", 4, 2)),
    "q_cohort_ltv" -> Seq(("events", 3, 2)),
    "q_cohort_retention" -> Seq(("events", 3, 2)),
    "q_collocations" -> Seq(("documents", 3, 2)),
    "q_concurrency" -> Seq(("events", 2, 2)),
    "q_corpus_diff" -> Seq(("documents", 3, 1)),
    "q_cronbach_alpha" -> Seq(("events", 2, 2)),
    "q_cuped" -> Seq(("events", 2, 2)),
    "q_cusum" -> Seq(("events", 2, 2)),
    "q_decontaminate" -> Seq(("documents", 2, 1)),
    "q_decontaminate_bloom" -> Seq(("documents", 2, 1)),
    "q_decontaminate_matrix" -> Seq(("documents", 2, 1)),
    "q_dedup_canonical" -> Seq(("documents", 2, 1)),
    "q_dedup_cross" -> Seq(("documents", 2, 1)),
    "q_dedup_edit" -> Seq(("documents", 2, 1)),
    "q_dedup_exact" -> Seq(("documents", 3, 1)),
    "q_dedup_minhash" -> Seq(("documents", 2, 1)),
    "q_deletion_cascade" -> Seq(("documents", 3, 1)),
    "q_dickey_fuller" -> Seq(("lineitem", 2, 2)),
    "q_drift_ks" -> Seq(("events", 2, 1)),
    "q_dsir_weights" -> Seq(("documents", 2, 2)),
    "q_dsir_sample" -> Seq(("documents", 2, 2)),
    "q_embed_drift" -> Seq(("documents", 2, 1), ("embeddings", 2, 1)),
    "q_ewma_chart" -> Seq(("lineitem", 2, 2)),
    "q_exists_subquery" -> Seq(("orders", 2, 1)),
    "q_fd_audit" -> Seq(("lineitem", 2, 2)),
    "q_feature_zscore" -> Seq(("documents", 2, 2)),
    "q_fleiss_kappa" -> Seq(("orders", 4, 2)),
    "q_funnel" -> Seq(("events", 5, 3)),
    "q_grubbs" -> Seq(("orders", 2, 2)),
    "q_hard_negatives" -> Seq(("documents", 2, 2), ("embeddings", 2, 2)),
    "q_holt_linear" -> Seq(("lineitem", 2, 2)),
    "q_holt_winters" -> Seq(("lineitem", 2, 2)),
    "q_hurst" -> Seq(("lineitem", 2, 2)),
    "q_image_neardup" -> Seq(("documents", 2, 1)),
    "q_incremental_agg" -> Seq(("orders", 2, 1)),
    "q_inverted_index" -> Seq(("documents", 2, 2)),
    "q_js_divergence" -> Seq(("events", 2, 1)),
    "q_knn_label" -> Seq(("embeddings", 2, 2)),
    "q_knn_regress" -> Seq(("documents", 2, 2), ("embeddings", 2, 2)),
    "q_kruskal_wallis" -> Seq(("orders", 4, 2)),
    "q_label_propagate" -> Seq(("embeddings", 2, 2)),
    "q_levene_bf" -> Seq(("orders", 4, 2)),
    "q_lm_score" -> Seq(("documents", 2, 2)),
    "q_mann_whitney" -> Seq(("orders", 4, 2)),
    "q_mantel_haenszel" -> Seq(("orders", 4, 2)),
    "q_mcnemar" -> Seq(("orders", 4, 2)),
    "q_media_pipeline" -> Seq(("documents", 2, 1)),
    "q_minhash_calibration" -> Seq(("documents", 4, 1)),
    "q_ngram_jaccard" -> Seq(("documents", 5, 1)),
    "q_perm_test" -> Seq(("orders", 2, 2)),
    "q_phrase_search" -> Seq(("documents", 2, 2)),
    "q_pipeline_curate" -> Seq(("documents", 3, 3)),
    "q_pipeline_dedup" -> Seq(("documents", 4, 3)),
    "q_pipeline_full" -> Seq(("documents", 7, 3)),
    "q_pipeline_mix" -> Seq(("documents", 4, 3)),
    "q_psi_drift" -> Seq(("events", 2, 1)),
    "q_purged_split" -> Seq(("events", 2, 2)),
    "q_release_pipeline" -> Seq(("documents", 4, 3)),
    "q_retrieval_eval" -> Seq(("embeddings", 3, 2)),
    "q_ri_audit" -> Seq(("lineitem", 3, 1), ("orders", 2, 1)),
    "q_rolling_anomaly" -> Seq(("events", 2, 2)),
    "q_rolling_slope" -> Seq(("events", 2, 2)),
    "q_rolling_wau" -> Seq(("events", 3, 2)),
    "q_rrf_fusion" -> Seq(("documents", 2, 2), ("embeddings", 2, 2)),
    "q_runs_test" -> Seq(("lineitem", 2, 2)),
    "q_sample_temperature" -> Seq(("documents", 3, 2)),
    "q_sample_weighted" -> Seq(("documents", 2, 2)),
    "q_scd2_asof" -> Seq(("events", 2, 1)),
    "q_seq_support" -> Seq(("events", 3, 3)),
    "q_sequential_ab" -> Seq(("events", 5, 3)),
    "q_ses_forecast" -> Seq(("events", 2, 2)),
    "q_setops_all" -> Seq(("orders", 4, 1)),
    "q_sim_ivf" -> Seq(("embeddings", 4, 2)),
    "q_sim_neardup" -> Seq(("embeddings", 2, 2)),
    "q_sim_quantized" -> Seq(("embeddings", 4, 2)),
    "q_sim_topk" -> Seq(("embeddings", 2, 2)),
    "q_simhash_neardup" -> Seq(("documents", 2, 1)),
    "q_sketch_rollup" -> Seq(("events", 2, 2)),
    "q_skew_report" -> Seq(("lineitem", 4, 2)),
    "q_skipgram_pmi" -> Seq(("documents", 4, 2)),
    "q_snapshot_diff" -> Seq(("orders", 3, 1)),
    "q_source_cap" -> Seq(("documents", 2, 2)),
    "q_subquery" -> Seq(("orders", 2, 1)),
    "q_target_encode" -> Seq(("documents", 3, 2)),
    "q_text_repetition" -> Seq(("documents", 2, 2)),
    "q_tfidf" -> Seq(("documents", 3, 2)),
    "q_time_to_convert" -> Seq(("events", 3, 3)),
    "q_token_chi2" -> Seq(("documents", 2, 2)),
    "q_trend_mk" -> Seq(("events", 2, 2)),
    "q_wasserstein" -> Seq(("events", 5, 2)),
    "q_welch_ttest" -> Seq(("orders", 2, 2)),
    "q_winsorize" -> Seq(("lineitem", 2, 2)),
    "q_woe_iv" -> Seq(("documents", 2, 2)))
}

class ScanBudgetSpec extends SparkSpec {

  test("every gate stays within its classified fact-scan budget " +
      "(reuse-aware, AQE-final)") {
    // read off the one gate pass: each gate's AQE-final plan after its
    // collect, a violation re-collected once before it counts
    val failures = GateSweep.report(GateSweep.Scans)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("an injected redundant scan goes red (unclassified AND " +
      "over-budget paths)") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // two executed scans of documents with NO shared exchange — the
    // class-4 shape (column pruning splits the subtrees, so nothing
    // reuses)
    val doubled = d.select(sum(col("doc_id")).as("a"))
      .crossJoin(d.select(sum(col("n_chars")).as("b")))
    doubled.collect()
    val unclassified = GateSweep.scanViolations("q_not_a_gate", doubled)
    assert(unclassified.exists(_.contains("UNCLASSIFIED")),
      s"an unlisted double-scan must be red, got: $unclassified")
    // a classified gate whose budget is exceeded also goes red:
    // q_woe_iv allows documents x2 — hand it a 3-scan frame
    val tripled = doubled
      .crossJoin(d.select(sum(col("doc_id") * 2).as("c")))
    tripled.collect()
    val over = GateSweep.scanViolations("q_woe_iv", tripled)
    assert(over.exists(_.contains("over its classified budget")),
      s"an over-budget scan must be red, got: $over")
  }

  test("allowlist carries no stale entries") {
    val stale = ScanBudget.allow.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"allowlisted gates no longer exist: $stale")
  }
}
