package graft

import graft.registry.Registry

/** Dumps `EXPLAIN FORMATTED` physical plans for the headline queries to
  * EXPLAINS.md — the plan-shape audit trail (pushdown, pruning,
  * broadcast choice, partial aggregation, custom exec nodes) that
  * PlanSpec asserts programmatically, in reviewable form. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", "/root/repo/EXPLAINS.md")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val headline = Seq(
      "q1_agg" -> "map-side combine, pruned 5-column scan",
      "s1_scan_prune" -> "filter + projection pushed to parquet",
      "j2_join_double" -> "fact-fact shuffle join + broadcast dimension",
      "w_rank_topk_per_group" -> "WindowGroupLimit bounds per-partition state to k",
      "d_dedup_ngram_jaccard" -> "inverted-index equi-join, df-capped candidates",
      "d_dedup_minhash_lsh" -> "band-bucket equi-join + candidate-scoped verify",
      "sim_ann_multiprobe" -> "bucket equi-join over 2 probes/query, no nested loop",
      "x_asof_join_native" -> "custom AsOfJoin exec, co-partitioned sorted children",
      "g_triangles" -> "degree-oriented wedge join (skew-bounded)",
      "x_interval_join" -> "equi + time-range join stays sort-merge",
      "x_salted_join" -> "(key, salt) shuffle with replicated dimension",
      "x_lateral" -> "correlated LATERAL decorrelated to aggregate + join",
      "st_tumbling_window" -> "event-time window aggregation",
      "x_bloom_prune" -> "bloom literal prunes the scan before the semi-join",
      "x_hash_split" -> "narrow map split assignment, zero shuffles",
      "x_cdc_apply" -> "chained MERGE folds, one key-shuffle each",
      "x_incr_agg" -> "partial-state fold, O(chunk) refresh",
      "x_resample_locf" -> "keyed windows + per-key grid, no global sort",
      "w_running_total_keyed" -> "partitioned running window, boundary stitch",
      "x_merge_upsert" -> "full-outer classification in one key shuffle",
      "x_topk_agg" -> "k-bounded ObjectHashAggregate, no Window operator",
      "x_range_join_binned" -> "keyless range join as bin-bucket equi-join",
      "sim_ann_ivf" -> "IVF cells: broadcast centroids, argmax assignment, nprobe=2",
      "d_dedup_embedding_ivf" -> "multi-assign cell self-join + candidate-scoped verify",
      "t_heavy_hitters" -> "CMS one-row reduce + TakeOrderedAndProject candidates",
      "g_kcore" -> "superstep peel: co-partitioned degree agg + semi-joins",
      "g_labelprop" -> "histogram + argmax aggregations, no vertex window",
      "x_dq_checks" -> "single-scan rule audit + anti-join orphan count",
      "d_dedup_incremental" -> "batch band keys probe the corpus index",
      "t_chunking" -> "narrow per-row explode, shuffle-free until sort",
      "t_pack_sequences" -> "sharded keyed window, no global sort",
      "d_curate_write" -> "re-read of the shard-partitioned packed corpus store",
      "m_container_decode" -> "codegen'd GRFT1 container walk, narrow per-row",
      "st_stream_stream_join" -> "interval join stays sort-merge on user_id",
      "g_kcore_fixpoint" -> "early-stopped peel to the true k-core",
      "t_repetition" -> "map-only trigram ratio, higher-order funcs, no explode",
      "d_decontaminate" -> "benchmark grams broadcast, corpus streams map-only",
      "st_dedup" -> "per-key minute dedup survivorship (streaming twin's batch form)",
      "d_domain_mix" -> "1-row quota broadcast + per-domain hash-order window",
      "t_pii_redact" -> "narrow codegen'd regex scan+redact (sort only for output order)",
      "m_wav_decode" -> "codegen'd GRFT1 deframe + RIFF header parse, narrow",
      "sim_quantize_int8" -> "int8 quantization as a narrow projection (1 byte/dim out)",
      "g_clustering_coeff" -> "rank-oriented triangle join + explode, no hub blowup",
      "d_dedup_containment" -> "overlap metric over the shared inverted-index candidates",
      "t_cooccurrence" -> "map-only pair generation, TakeOrdered top-50, no token self-join",
      "d_split_leakage_guard" -> "survivors map left-joined, narrow md5 bucket assignment",
      "d_dup_span" -> "gram-keyed dup aggregation + join-back, no doc self-join",
      "g_link_pred" -> "hub-capped wedge join, left_anti adjacency, TakeOrdered top-50",
      "d_cluster_kmeans" -> "Lloyd passes: broadcast centroids + map-side-combined argmin, k-key update shuffle",
      "d_dedup_semantic" -> "within-cluster self-join + candidate-scoped cosine verify",
      "d_dsir_score" -> "one explode, map-side vocab agg, 1-row rho broadcast, token equi-join back",
      "g_mis" -> "Luby round: co-partitioned neighbor-min agg + winner filter + anti/semi shrink",
      "x_funnel" -> "chained filtered min-aggs, all user_id-keyed, no window/sort",
      "x_cohort_retention" -> "(user,day) distinct + per-user min + co-keyed join, tiny output",
      "t_gini" -> "explode + two map-side-combinable aggs, no joins",
      "t_bigram_lm" -> "map-only pair gen, vocab agg + derived normalizer, token equi-join back",
      "x_incr_join" -> "four quadrant joins on custkey — delta algebra, no history rejoin",
      "x_fuzzy_match" -> "distinct-name canonicalization + head-noun block + candidate-only levenshtein",
      "st_stream_stream_join_outer" -> "left interval join stays sort-merge on user_id, -1 for unmatched",
      "g_truss_decomp" -> "per-round shared rank-oriented triangle enum + edge-support agg, nested peels",
      "x_mad_outliers" -> "value-histogram medians: tiny per-group windows + broadcast stats join, no corpus sort",
      "t_cdc_chunk" -> "in-array boundary gate (map-only), per-doc window, hash-keyed dup join",
      "g_temporal_reach" -> "time-respecting relaxation: one min-arrival exchange per round",
      "g_walks" -> "per-step broadcast state join + seed-keyed argmin agg, edges never shuffled",
      "x_hrw_shard" -> "rendezvous sharding as a pure narrow map — zero joins, zero shuffles",
      "x_attribution" -> "left as-of with lookback: one key shuffle + one (ts, side) sort",
      "t_bpe_merge" -> "word-TYPE pair counting (never corpus tokens), alphabet-sized agg, TakeOrdered top-20",
      "g_scc" -> "coloring SCC: per-round co-partitioned max-flood + class-restricted backward flood",
      "m_png_decode" -> "codegen'd GRFT1 deframe + big-endian CRC-verified IHDR parse, narrow",
      "x_cusum_changepoint" -> "corpus collapses to (type, day) histogram; windows over days, tiny argmax",
      "t_ngram_novelty" -> "in-array gram build, gram-keyed min agg, equi-join back — dup_span's budget",
      "g_condensation" -> "corpus joins once to SCC ids; depth loop runs on the contracted DAG only",
      "x_percentile_rank" -> "histogram mid-rank percentiles: tiny per-group windows, (group, value) join back",
      "st_topk_window" -> "windowed heavy hitters via k-bounded TopKByAgg — no per-window sort",
      "g_stress" -> "two-phase Brandes: (s, v)-keyed BFS sigma + DAG tail accumulation, all BIGINT",
      "x_table_stats" -> "ANALYZE profile in ONE scan: Expand multi-distinct, no joins, no re-scan",
      "g_mst" -> "Borůvka round: component-keyed min-edge agg + log-depth pointer jumping",
      "x_dow_seasonality" -> "corpus collapses to <=7 rows per type in one map-side count",
      "d_corpus_report" -> "composition capstone: scalar aggs + hash dup + MAD + novelty, one row per metric",
      "g_harmonic" -> "sampled BFS like g_stress's forward phase; (s,v) state, frontier-edge join + min-dedup",
      "d_coreset_kcenter" -> "k-center rounds: narrow map vs 1-row broadcast center + two scalar aggs, O(n·k)",
      "g_modularity" -> "arc set labeled by two vertex-keyed joins vs cached assignment; label-keyed sums, 1-row A broadcast",
      "d_dedup_ppjoin" -> "prefix-filtered set-similarity: tokens ranked once, rare-token equi-join scored in-row by a rank-array merge count",
      "m_wav_loudness" -> "full-payload PCM decode: deframe + codegen'd per-sample energy/peak fold, pure narrow map",
      "m_png_pixels" -> "full-payload PNG decode: CRC chunk walk + zlib inflate + unfilter + per-channel stats, pure narrow map",
      "m_gzip_decode" -> "full-payload gunzip (CRC/ISIZE-verified, bomb-capped) + content fingerprint, pure narrow map",
      "m_bmp_pixels" -> "full-payload BMP stride walk (padded bottom-up rows) + per-channel stats, pure narrow map",
      "m_dedup_image_ahash" -> "perceptual aHash image dedup: map-only fingerprint, 4-band pigeonhole equi-join, exact hamming verify",
      "m_dedup_audio_fp" -> "perceptual energy-fp audio dedup: full PCM walk fingerprint, same 4-band pigeonhole join as the image op",
      "m_sniff_dispatch" -> "magic-byte MIME sniff + per-kind decoder routing over a MIXED payload column, pure narrow map",
      "m_dedup_mixed" -> "mixed-corpus dedup capstone: sniff + route + per-kind decoded dup key, ONE (kind,key) shuffle elects survivors",
      "sim_ann_pq_rerank" -> "PQ ADC shortlist (M table lookups/candidate vs broadcast codebooks) + exact int8 refine on the shortlist only",
      "sim_ann_ivf_pq" -> "IVFADC composition: broadcast-centroid probe -> inverted-list equi-join -> ADC lookups -> exact refine",
      "d_dedup_url" -> "canonical-URL dedup: narrow regex/array normalization, one canonical-key shuffle elects survivors",
      "x_equidepth_hist" -> "decile boundaries from (group, value) histograms — map-side collapse, no corpus sort",
      "d_dedup_ppjoin_incremental" -> "batch prefixes probe the standing (t,n) index — O(batch), corpus never self-joins",
      "g_eccentricity" -> "one aggregation over the session-cached sampled BFS — no new traversal",
      "t_html_extract" -> "HTML tag/entity/boilerplate extraction as ONE codegen'd narrow map — sort only for output order",
      "d_dup_span_excise" -> "dup-gram detection (gram-key shuffles) + per-doc covered-position array rewrite, no second corpus pass",
      "d_crawl_e2e" -> "crawl capstone: guarded gunzip+extract on URL survivors, two survivor-key shuffles, 1-row agg exploded to the waterfall",
      "t_html_links" -> "outlink extraction: codegen'd href walk + regex resolve/canonicalize, narrow until the output sort",
      "d_crawl_frontier" -> "crawl frontier: (doc,link) distinct + link-key count, LEFT ANTI vs the canonical seen set — all link-key hashed",
      "d_crawl_incremental" -> "incremental crawl: batch anti-joins the standing canonical + content-hash sets; refetches drop BEFORE decode",
      "m_image_resize" -> "full-payload PNG decode + nearest-neighbor grid resize (output-bounded), pure narrow map",
      "d_dup_span_winnow" -> "winnowed span fingerprints: in-array hash+window minima, only MINIMIZERS reach the gram-keyed dup join (~2/(w+1) of d_dup_span's shuffle)",
      "t_quality_model_score" -> "naive-Bayes quality model: ONE token-keyed training shuffle, vocab-sized model BROADCAST to the scoring join, doc-keyed re-agg",
      "m_jpeg_pixels" -> "full baseline JPEG decode: Huffman entropy walk + dequant + IDCT + 4:2:0 upsample + fixed-point RGB, pure narrow map",
      "d_crawl_frontier_polite" -> "robots longest-match filter: broadcast rule join + link-keyed (len, allow) max verdict over the frontier",
      "m_video_frames" -> "AVI RIFF demux + per-sampled-frame baseline JPEG decode, exploded to frame rows — pure narrow map over doc_id alone",
      "m_dedup_video" -> "video dedup on the DECODED per-frame color-sum sequence: narrow demux+decode, ONE content-key shuffle elects survivors",
      "g_pagerank_incremental" -> "warm-restart PageRank: standing ranks coalesced into the union graph's init, 3 supersteps vs the cold 10",
      "m_video_clip_pairs" -> "clip detection: demux to (doc, frame-key) postings, ONE key equi-join + pair count — partial overlap, never all-pairs",
      "d_decontaminate_embedding" -> "semantic eval-leak scan: corpus x BROADCAST eval set (bounded by nature), per-row max-cosine, every vector reported",
      "t_warc_extract" -> "WARC ingest: record walk -> embedded HTTP message -> page body -> HtmlCodec extract, ONE narrow pass (sort only for output)",
      "m_gif_pixels" -> "full GIF87a decode: hand-rolled GIF-LZW (LSB-first growing widths, clear/EOI, KwKwK, 12-bit reset) + palette fold, pure narrow map",
      "m_webdataset_route" -> "WebDataset shard walk (ustar checksums + framing) + extension routing to per-modality decoders, narrow + one doc-keyed fold",
      "st_warc_ingest" -> "streaming WARC ingest (batch twin): gunzip members -> record walk -> uri seen-set election -> extract, one uri-keyed exchange",
      "t_chat_validate" -> "SFT chat validation: construct -> from_json -> higher-order structure checks over typed turns, one narrow pass",
      // round 11
      "d_dup_span_exact" -> "exact maximal spans: all-positions gram explode, gram-keyed dup set, doc-PARTITIONED gaps-and-islands window (never a global sort)",
      "t_lang_id_model" -> "trained lang-id: ONE char-trigram-keyed training shuffle, vocab-bounded 5-class model BROADCAST to the scoring join, doc-keyed re-agg",
      "st_lang_id_gate" -> "split-trained lang-id gate (streaming twin's batch form): standing-corpus train, broadcast-scored ingest batch",
      "m_flac_loudness" -> "FLAC encode + full decode (Rice/fixed/stereo-decorrelation + CRC/MD5 verify) round trip, pure narrow map — scan, map, sort only",
      "t_pref_pairs_validate" -> "DPO preference-pair validation: construct -> from_json -> DERIVED verdicts (degenerate/empty/extends), one narrow pass",
      "d_dup_span_incremental" -> "incremental exact-span probe: standing gram index + O(batch) semi-join + intra-batch agg + doc-partitioned islands",
      "t_encoding_check" -> "byte-level strict-UTF-8 gate (maximal-subpart error accounting), one narrow codegen'd pass",
      // round 12
      "t_warc_zst_parse" -> ".warc.zst ingest: per-record zstd frames (RFC 8878 FSE+Huffman, XXH64-verified) -> strict multi-frame decode -> record walk, pure narrow map",
      "t_lang_id_model_markers" -> "marker-corpus lang-id: derived class-marker suffix, then the same ONE train shuffle + broadcast-scored re-agg — separation, not prior collapse",
      "t_warc_zst_dict_parse" -> "CC dictionary convention: Spark-trained dict (ONE gram-count shuffle, top-k artifact) broadcast as a literal; self-contained dict-frame streams decode in a pure narrow map",
      "t_warc_zst_seek" -> "seekable zstd random access: the trailing seek table jumps STRAIGHT to the response frame (frames 0-1 never decoded), single-record parse + extract, pure narrow map",
      // round 13
      "t_lang_id_unicode" -> "non-ASCII marker-corpus lang-id: code-point char trigrams over a derived non-BMP marker suffix, same ONE train shuffle + broadcast-scored re-agg — the unicode-semantics pin for every gram lane",
      "t_warc_zst_dict_artifact" -> "train-once/ship dict ingest: bare dict-compressed shards decoded against the broadcast <=4 KiB artifact — ONE scan, zero training subtree in-plan (the 100-TB dictionary economics)",
      "m_mp3_parse" -> "MP3 container walk (modality 10): ID3v2.3 + every MPEG-1 Layer III frame header validated + payload byte-sum, a pure narrow codegen'd map riding total archive bytes",
      "m_ogg_parse" -> "Ogg page walk (modality 11): RFC 3533 pages with REAL page CRC-32s verified, lacing packet reassembly, a pure narrow codegen'd map riding total archive bytes")

    val sb = new StringBuilder
    sb.append("# EXPLAINS — headline physical plans\n\n")
    sb.append(s"Auto-generated by `graft.Explain` against `$sfDir`.\n")
    sb.append("Regenerate: `sbt \"runMain graft.Explain\"`.\n")
    headline.foreach { case (name, note) =>
      val df = Registry.byName(name).run(spark, sfDir)
      sb.append(s"\n## $name — $note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
