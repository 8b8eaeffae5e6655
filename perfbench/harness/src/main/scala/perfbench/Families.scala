package perfbench

/** Operator families of the `SparkEntry.queries` keys, following the
  * 16-family table in OPTIMIZATION_r19.md. The streaming / online-loop
  * family has no query key (its soaks are outside the suite), so 15
  * families carry keys. `check` fails the suite when a key maps to no
  * family or to more than one, so a new key cannot go unmeasured.
  */
object Families {
  val byFamily: Seq[(String, Seq[String])] = Seq(
    "knn_core" -> Seq(
      "knn_cosine", "knn_euclidean", "knn_manhattan", "knn_dot",
      "knn_with_metadata", "knn_batch", "filtered_knn", "range_search",
      "delete", "stats", "batch_insert_validation", "ivf_knn",
      "ivf_trained_knn", "ivf_trained_knn_exact", "ivf_trained_knn_batch_exact"),
    "knn_graph" -> Seq(
      "knn_graph", "knn_graph_refreshed", "knn_graph_stats", "triangle_stats",
      "pagerank", "pagerank_personalized", "label_propagation"),
    "graph_tables" -> Seq(
      "knn_graph_tables_refreshed", "mutations_fold", "mutations_fold_table",
      "mutations_fold_at"),
    "dedup_ppjoin" -> Seq(
      "winnow_pairs", "winnow_decontamination",
      "winnow_decontamination_incremental", "decontamination", "fuzzy_pairs",
      "dedup_ngram_jaccard", "similarity_histogram", "dedup_clusters",
      "dedup_exact", "dedup_incremental", "dedup_incremental_bloom",
      "dedup_sorted_neighborhood", "substring_dup", "passage_dedup"),
    "portable_lsh" -> Seq(
      "minhash_lsh_portable", "simhash_signatures_portable",
      "simhash_pairs_portable"),
    "text_analysis" -> Seq(
      "token_stats", "top_tokens", "lang_id", "lang_confusion",
      "quality_score", "doc_fingerprint", "repetition_stats",
      "normalize_text", "pii_scrub", "winnow_fingerprint", "bigram_surprisal",
      "vocab_table", "tokenize_corpus", "chunk_documents", "source_report",
      "corpus_card", "source_overlap", "ngram_novelty", "corpus_diff"),
    "hybrid_bm25" -> Seq(
      "bm25_terms", "hybrid_search", "hybrid_batch", "retrieval_eval"),
    "hnsw" -> Seq(
      "hnsw_knn", "hnsw_knn_resident", "hnsw_knn_refreshed",
      "hnsw_knn_filtered", "hnsw_sq8_knn", "hnsw_sq8_knn_filtered",
      "hnsw_pq_knn", "hnsw_pq_knn_filtered"),
    "quant_kmeans" -> Seq(
      "sq8_stats", "sq8_knn", "bq_stats", "bq_knn", "bq_sq8_knn",
      "bq_knn_batch", "rp_project", "rp_knn", "rp_knn_rerank",
      "coreset_kcenter", "kmeans_fit", "kmeans_assign", "kmeans_trained_knn"),
    "pq_opq" -> Seq(
      "pq_knn", "pq_knn_batch", "ivfpq_knn", "ivfpq_knn_batch",
      "ivfpq_knn_bulk", "opq_knn", "opq_knn_batch"),
    "tokenizers" -> Seq(
      "bpe_merges", "bpe_encode", "bpe_encode_fixed", "unigram_pieces",
      "unigram_encode", "unigram_encode_fixed", "unigram_doc_quality",
      "wordpiece_encode_fixed", "wordpiece_merges"),
    "curation" -> Seq(
      "dsir_weights", "dsir_select", "dsir_sample", "mixture_plan",
      "mixture_temperature", "mixture_audit", "mixture_sample",
      "curriculum_order", "length_batches", "pack_sequences", "pack_shuffled",
      "det_sample", "train_split", "split_leakage_safe", "weighted_sample",
      "corpus_shuffle", "training_pipeline", "semantic_pipeline"),
    "media" -> Seq(
      "media_stats", "media_features", "media_audio", "media_audio_samples",
      "media_audio_walsh", "media_audio_walsh_windows", "media_audio_mp3",
      "media_audio_mp3_vbr", "media_audio_mp3_layers", "media_audio_adts",
      "media_audio_adts_stats", "media_video", "media_video_codec",
      "media_video_pps", "media_video_sei", "media_video_slices",
      "media_video_samples", "media_video_profile", "media_video_fragments",
      "media_video_fragment_tracks", "media_resize", "media_pixel_stats",
      "media_profile", "media_av_profile", "media_gif_pixel_stats",
      "media_jpeg_pixel_stats", "media_frame_sample"),
    "relational" -> Seq(
      "user_event_pivot", "pricing_summary", "revenue_by_nation",
      "top_orders_per_customer", "events_hourly", "user_sessions",
      "rolling_user_activity", "event_prop_stats", "range_join_windows",
      "profile_events", "customer_setops", "revenue_rollup", "string_funcs",
      "date_parts", "semi_anti_join", "asof_purchase_clicks",
      "funnel_conversion", "cohort_retention", "zorder_codes",
      "heavy_hitters", "cms_estimates", "kmv_daily_users",
      "kmv_source_overlap", "hist_quantiles"),
    "embeddings" -> Seq(
      "embedding_covariance", "pca_project", "whiten_project",
      "label_centroids", "hard_negatives", "mining_triplets",
      "embedding_neardup", "semantic_dedup", "semantic_decontamination"))

  val names: Seq[String] = byFamily.map(_._1)

  /** The keys the suite times: the second key of each family in sorted
    * order (15 of 181), so every family weighs the same and a warm-up pass
    * plus timed passes fit the run budget (perfbench/README.md).
    */
  val timed: Set[String] = byFamily.map { case (_, ks) => ks.sorted.apply(1) }.toSet

  /** key -> family, after checking the map covers `keys` exactly once each. */
  def check(keys: Set[String]): Map[String, String] = {
    val pairs = byFamily.flatMap { case (f, ks) => ks.map(_ -> f) }
    val twice = pairs.groupBy(_._1).collect { case (k, fs) if fs.size > 1 => k }
    val unmapped = keys -- pairs.map(_._1)
    val stale = pairs.map(_._1).toSet -- keys
    require(twice.isEmpty && unmapped.isEmpty && stale.isEmpty,
      "perfbench family map out of date: " +
        s"in two families: ${twice.toSeq.sorted.mkString(",")}; " +
        s"in none: ${unmapped.toSeq.sorted.mkString(",")}; " +
        s"no longer a query key: ${stale.toSeq.sorted.mkString(",")}")
    pairs.toMap
  }
}
