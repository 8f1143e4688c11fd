package graft

/** Scale-trend probe (VERDICT r6 missing #2): time the headline set at
  * two scale factors in one harness shape and compare slopes. Usage:
  *
  *   runMain graft.ScaleTrend <sfDir> [reps]
  *
  * Runs Bench's warm-up ([[Sessions.warm]]), then `_setup_dedup_family` once and each
  * slope query `reps` times (default 2), printing per-rep seconds. The
  * slope set is the headline set minus the requireBounded exact
  * baselines (their O(n²) cost at 10x is by-design unbounded — the
  * gated message, not a slope, is their scale story) and minus the
  * store-writing curation queries (their cost is parquet IO, measured
  * separately). Run against /root/testdata/sf0.1 and /tmp/sf1 (built
  * by tools/gen_sf1.py — 10 structure-preserving disjoint copies of
  * sf0.1) and divide.
  */
object ScaleTrend {

  /** Family block: runs right after the setup entry, marginal like
    * Bench; the shared caches are released at the end of the block
    * (Bench's releaseSharedAfterFamily discipline — holding them
    * through the supersteps measurably slows the checkpoint loops). */
  val FamilySet: Seq[String] = Seq(
    "d_dedup_exact", "d_dedup_minhash_lsh", "d_dedup_ngram_jaccard",
    "d_dedup_containment", "d_dedup_simhash", "d_dedup_survivors",
    "d_pipeline_e2e", "d_dedup_embedding_lsh", "d_dedup_embedding_ivf",
    "d_curate_e2e")

  /** Slope set: supersteps + text + the non-family heavy movers. */
  val SlopeSet: Seq[String] = Seq(
    "q1_agg", "w1_running_total",
    "g_pagerank", "g_sssp", "g_components", "g_kcore", "g_labelprop",
    "g_hopplot",
    "t_tfidf_top_terms", "t_token_bpe",
    "t_repetition", "d_decontaminate", "d_domain_mix", "st_dedup",
    "sim_ann_topk", "sim_ann_ivf", "sim_ann_ivf_int8",
    "sim_quantize_int8", "g_clustering_coeff", "g_assortativity",
    "g_ppr", "t_cooccurrence", "d_split_leakage_guard",
    "t_pii_redact", "m_wav_decode",
    "st_tumbling_window", "x_asof_join_native", "x_merge_upsert",
    "g_squares", "t_quality_filter", "st_enrich",
    "d_dup_span", "g_link_pred",
    "d_cluster_kmeans", "d_dedup_semantic", "d_dsir_score", "g_mis",
    "x_mad_outliers", "t_cdc_chunk", "g_temporal_reach", "g_walks",
    "x_hrw_shard", "x_attribution", "t_bpe_merge", "g_scc",
    "m_png_decode", "x_cusum_changepoint", "t_ngram_novelty",
    "g_condensation", "x_percentile_rank", "st_topk_window", "g_stress",
    "x_table_stats", "g_mst", "x_dow_seasonality", "d_corpus_report",
    "g_harmonic", "d_coreset_kcenter", "g_modularity", "d_dedup_ppjoin",
    "m_wav_loudness", "x_equidepth_hist", "d_dedup_ppjoin_incremental",
    "g_eccentricity",
    // round-8 full-payload decodes — map-only, slope should ride the
    // corpus linearly
    "m_png_pixels", "m_bmp_pixels", "m_gzip_decode",
    // image dedup: fingerprint map-only; PAIR OUTPUT is quadratic in
    // duplicate-class size by definition (same-length classes grow
    // linearly with the corpus), so the honest slope rides the pair
    // count, not the doc count — compare against the measured
    // same-length pair totals (24.7k sf0.1 / 2.03M sf1 = 82x)
    "m_image_ahash", "m_dedup_image_ahash",
    // audio dedup: same contract framing as the image pair — wall rides
    // the PAIR count (38.2k sf0.1 / 3.69M sf1 = 96x), not the doc count
    "m_audio_fp", "m_dedup_audio_fp", "m_sniff_dispatch", "m_dedup_mixed",
    // training-order / mixture ops: narrow maps + domain-keyed windows
    "d_corpus_shuffle", "d_budget_select", "d_domain_temperature",
    // PQ: training is O(n·M·K) map-only vs broadcast codebooks; the
    // query side is O(n·M) lookups per query
    "sim_pq_codes", "sim_ann_pq_rerank", "sim_ann_ivf_pq",
    // URL canonicalization: pure narrow map; dedup one key shuffle
    "t_url_canonicalize", "d_dedup_url",
    // round 9: the stitched keyed windows claim scale-safety by
    // construction (partitioned running window + broadcast boundary
    // stitch) — give them the measured slope every other claim carries
    // (VERDICT r8 Next #7)
    "w_running_total_keyed", "w_ignore_nulls_keyed",
    // round 9: HTML extraction is a narrow codegen'd map; span excision
    // rides the d_dup_span exchanges (gram-key shuffles) plus a per-row
    // rewrite; the crawl capstone chains both behind the URL-key and
    // content-key survivor shuffles
    "t_html_extract", "d_dup_span_excise", "d_crawl_e2e",
    // outlinks: narrow link explode (fixed fan-out per page); frontier
    // adds two map-side-combinable link-key aggs + one anti-join
    "t_html_links", "d_crawl_frontier",
    // incremental crawl: standing-state build (one canonical projection
    // + one decode pass) + O(batch) probes
    "d_crawl_incremental",
    // resize: full decode + bounded grid sample, pure narrow map
    "m_image_resize",
    // winnowed span fingerprints: in-array winnowing, the gram shuffle
    // carries only minimizers (~2/(w+1) of d_dup_span's volume)
    "d_dup_span_winnow",
    // round 10: learned quality filter — train = one token-keyed
    // map-side-combinable shuffle, score = explode + broadcast model
    // join + doc-keyed re-agg; both should ride the corpus linearly
    "t_quality_model_score", "d_quality_model_filter",
    // round 10: incremental CC — standing build + an O(batch) contracted
    // merge; the slope rides the standing superstep, the merge's own
    // cost is pinned by the contract quantities (label edges, touched)
    "g_components_incremental",
    // round 10: JPEG baseline decode — entropy-coded narrow map, the
    // per-doc cost rides pixel count like the PNG twin
    "m_jpeg_decode", "m_jpeg_pixels",
    // round 10: split-trained gate (train standing + score batch) and
    // the O(vocab) incremental statistics merge — both ride the
    // token-keyed train shuffle linearly
    "st_quality_model_gate", "t_quality_model_incremental",
    // round 10: robots longest-match filter over the frontier — the
    // broadcast rule join adds one link-keyed verdict agg to the
    // frontier's own exchanges
    "d_crawl_frontier_polite",
    // round 10 continuation: AVI demux + per-frame JPEG decode are
    // narrow maps riding total frame-pixel count; the video dedup adds
    // ONE decoded-content key shuffle; warm-restart PageRank rides the
    // union-graph supersteps (3 rounds vs the standing build's 10)
    "m_video_decode", "m_video_frames", "m_dedup_video",
    "g_pagerank_incremental",
    // WARC ingest: record walk + embedded HTTP + HTML extract, one
    // narrow pass riding total archive bytes
    "t_warc_parse", "t_warc_extract",
    // GIF: hand-rolled LZW decode, narrow map riding pixel count
    "m_gif_pixels",
    // Gopher rules: one narrow pass; sessionize: one user-key exchange
    "t_gopher_rules", "x_sessionize_batch",
    // WebDataset: tar walk + extension routing, narrow + doc-key fold
    "m_webdataset_route",
    // continuation-2 additions: incremental video probe, streaming
    // WARC twin, skip-gram fold, fluency histogram buckets, broadcast
    // hard negatives, chat parse — all narrow or single-key shapes
    "m_dedup_video_incremental", "st_warc_ingest", "g_walk_skipgrams",
    "d_fluency_buckets", "sim_hard_negatives", "t_chat_validate",
    "t_chat_loss_tokens", "m_webdataset_export",
    // embedding decontamination: corpus scanned once vs the BROADCAST
    // bounded eval set — wall rides corpus x |eval| dot products
    "d_decontaminate_embedding",
    // clip detection: postings join — pair OUTPUT is quadratic in
    // docs-per-library-frame by construction (fixed 200-slot library:
    // 368.7k pairs sf0.1 / 37.1M sf1 = 100.6x), so the honest slope
    // rides the pair count like the image/audio dedup twins — measured
    // 61x wall at 10x data = sublinear in pairs
    "m_video_clip_pairs",
    // round 11: exact maximal-span detection — d_dup_span's gram-key
    // exchanges plus a doc-partitioned island window; rides the gram
    // count linearly
    "d_dup_span_exact",
    // round 11: trained lang-id — char-trigram keyed train shuffle +
    // broadcast-scored gate, the QualityModel shape over a bigger
    // (char-gram) explode
    "t_lang_id_model", "st_lang_id_gate",
    // round 11: FLAC encode+full-decode round trip — narrow per-row
    // kernels riding total sample count
    "m_flac_decode", "m_flac_loudness",
    // round 11: preference-pair validation — construct + from_json +
    // derived verdicts, one narrow pass
    "t_pref_pairs_validate",
    // round 11: incremental exact-span probe — standing gram index +
    // O(batch) semi-join probe + doc-partitioned islands
    "d_dup_span_incremental",
    // round 11: byte-level UTF-8 gate — one narrow pass
    "t_encoding_check",
    // round 12: .warc.zst ingest — per-row zstd encode + strict decode
    // + record walk, a narrow map riding total archive bytes (the
    // .warc.gz twin's shape with FSE/Huffman in place of DEFLATE)
    "t_warc_zst_parse", "t_warc_zst_dict_parse", "t_warc_zst_seek",
    // round 12: marker-corpus lang-id — the t_lang_id_model shape over
    // ~3% more grams (the appended marker suffix)
    "t_lang_id_model_markers",
    // round 13: the same shape with non-ASCII (incl. non-BMP) markers
    // — exercises charNgramsArray's surrogate-aware offset walk at scale
    "t_lang_id_unicode",
    // round 13: the shipped-dict twin — encode/decode only, the dict
    // trained once per session (the t_warc_zst_parse slope shape)
    "t_warc_zst_dict_artifact",
    // round 13: MP3 container walk — narrow map riding archive bytes
    "m_mp3_parse",
    // round 13: Ogg page walk — CRC-verified narrow map, same shape
    "m_ogg_parse")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    // trailing names restrict the run (builder-side spot trends); the
    // family setup still runs iff any family query is selected
    val only = args.drop(2).toSet
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.warm(spark, sfDir)

    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch {
        case e: Throwable => println(s"TREND $name FAILED: ${e.getMessage}"); false
      }
      if (ok) println(f"TREND $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      graft.analytics.CheckpointRegistry.releaseAll(spark)
    }

    // family build timed explicitly, once, like Bench's setup entry;
    // d_* times below are then marginal
    val fam = FamilySet.filter(n => only.isEmpty || only(n))
    if (fam.nonEmpty)
      time("_setup_dedup_family") {
        graft.pipeline.PipelineQueries.warmSharedFamily(spark, sfDir)
      }
    for (name <- fam; r <- 1 to reps)
      time(s"$name rep=$r") {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      }
    SessionCaches.clear(spark, "dedup_family")
    for (name <- SlopeSet.filter(n => only.isEmpty || only(n)); r <- 1 to reps)
      time(s"$name rep=$r") {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      }
    spark.stop()
  }
}
