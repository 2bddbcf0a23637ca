package graft

/** Plan-hygiene audit: prints formatted physical plans for representative
  * queries so scan pruning (PushedFilters/ReadSchema), join strategies
  * (BroadcastHashJoin for dims), and WholeStageCodegen coverage can be
  * inspected per round (the builder contract asks for exactly this loop).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val dir = "/root/testdata/sf0.01"
    val targets = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_topk", "q05_nation_revenue", "q30_term_freq",
        "q44_dedup_embedding", "q45_dedup_survivors", "q89_conjunctive_query",
        "q93_chunk_documents", "q96_pack_chunks",
        "q56_global_index", "q58_bloom_decontaminate", "q59_bm25",
        "q63_training_pipeline", "q64_dedup_incremental", "q66_pmi_collocations",
        "q118_lm_score", "q119_importance", "q120_span_scrub",
        "q121_bpe_merges", "q122_bpe_encode", "q123_hybrid_rrf",
        "q144_temperature_mixture", "q145_countmin_heavy_hitters",
        "q150_constraint_audit", "q151_equidepth_histogram",
        "q50_knn_bruteforce", "q92_approx_sketches", "q153_kmv_distinct_sketch",
        "q248_lorenz_curve", "q254_image_decode", "q255_knn_batch",
        "q166_pq_trained", "q167_label_propagation",
        "q168_hll_distinct", "q169_ivf_delta",
        "q170_semdedup", "q172_hll_timeseries", "q174_cuped_experiment",
        "q190_basket_lift", "q193_pareto_frontier", "q194_burst_rate_audit",
        "q198_merkle_manifest", "q204_clamped_balance",
        "q215_kcenter_coreset", "q219_hits_ranking", "q221_spearman_matrix",
        "q222_kendall_taub", "q225_clustering_coefficient", "q229_skipgram_pairs",
        "q259_chunk_dedup", "q262_pii_scrub", "q263_repetition_battery",
        "q264_ann_operating_point", "q265_domain_quota", "q266_url_dedup",
        "q267_boilerplate_scrub", "q268_hygiene_funnel", "q269_host_pagerank",
        "q270_semantic_decontam", "q272_robots_gate",
        "q273_quality_classifier_gate", "q274_blocklist_gate",
        "q275_langid_gate", "q276_clf_operating_point",
        "q277_gate_attribution", "q278_clf_reliability",
        "q279_temperature_scaling", "q280_domain_reweight",
        "q281_gate_ordering", "q282_doremi_sample", "q283_lm_perplexity",
        "q284_dsir_select", "q285_quality_signal_cube",
        "q286_ensemble_verdict")
    targets.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
