package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, sum}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints the official record {"metric":"total",...,"queries":{medians}}
  * as the LAST stdout line (compact — the driver tails stdout with a
  * byte bound). Each query is forced end-to-end (including sorts) with a
  * noop-format write — no collect, no driver materialization.
  *
  * Repetitions: the whole headline runs SPARK_GRAFT_REPS times (default
  * 3) inside one session, and each query reports its MEDIAN — this box
  * has noisy-neighbor variance that made single-shot records misstate a
  * round by multiple seconds (r5: four of five "regressions" vanished
  * on re-run). The per-query min/max spread prints on its own
  * {"metric":"spread",...} line just above the record so a reader can
  * tell a stable number from a lucky one without bloating the record.
  *
  * Durability: the spread + record lines are ALSO written to
  * target/bench_record.json (override with SPARK_GRAFT_RECORD) — the
  * driver's bounded stdout-tail capture front-truncated the record in
  * rounds 5–7, so the file is the authoritative copy.
  *
  * Ordering note (r7 drift attribution): e1/e2/e3/t6 run late in the
  * headline; their r7 medians sat 25–35% above r6 max, but no r7 commit
  * touched their builders and an isolated-subset run restored e2 within
  * r6 max (0.80 vs ≤0.98) and e3/t6 minima to within r6 range — session
  * pressure from the growing headline, not a plan change. The headline
  * stays APPEND-ONLY so each entry's session position (and thus its
  * pressure environment) is stable round-over-round. Full evidence in
  * ARCHITECTURE.md "Bench methodology". */
object Bench {
  val headline: Seq[String] = Seq(
    "mbr1_members_by_club", "mbr3_members_all", "mh1_membership_history",
    "j1_assembly_join", "j2_selfjoin_alias", "j7_argmax_latest",
    "j12_salted_join", "a1_minpick_dedup", "a6_priority_dedup",
    "a10_stats_agg", "s8_upsert_merge", "s10_retain_gc", "eav2_assembly",
    "d1_exact_dedup", "d2_minhash_lsh", "d3_simhash_pairs", "d4_ngram_jaccard",
    "d8_incremental_dedup", "d9_paragraph_dedup", "d11_cluster_sizes",
    "sim1_cosine_topk", "sim2_ivf_ann", "sim3_multiprobe_ann",
    "sim3b_centroid_multiprobe", "sim5_ivfpq_ann", "eval1_ann_recall",
    "emb4_kmeans", "sim4_learned_ivf",
    "tx2_quality_score", "tx4_fingerprint", "tx7_normalize", "tx8_tfidf_topterms",
    "tx9_seq_packing", "qc6_pack_efficiency", "tx10_chunking", "cdc1_content_chunks",
    "tx11_pii_scrub", "tx12_repetition", "tx14_boilerplate",
    "tx13_pack_examples",
    "sem1_semantic_dedup", "bpe1_merges", "bpe3_encoded_lengths",
    "d10_cdc_chunk_dedup", "qc2_vocab_drift", "qc3_table_profile",
    "qc4_snapshot_diff", "qc5_profile_drift", "rank1_curriculum",
    "ret2_rrf_fusion", "idx2_segment_merge", "dp4_crossmodal_dedup",
    "smp5_diversity_cap", "emb6_cell_report", "c5_contamination_card",
    "out1_shard_manifest", "mix1_corpus_mixture", "mix2_epoch_mixture",
    "c1_contamination", "c6_semantic_contamination",
    "smp2_stratified_sample", "bf1_bloom_semijoin",
    "lr2_classifier_gate", "lm1_coverage_gate",
    "idx1_inverted_index", "ret1_bm25_topk",
    "dp1_curation_pipeline", "dp2_curation_twophase", "dp5_pretrain_prep",
    "e1_event_window_agg", "e2_sessionize", "e3_sliding_window", "e5_funnel",
    "e6_retention",
    "t6_asof_join", "t8_interval_merge",
    "m1_multimodal_meta",
    // Full-coverage tail (round 8): every remaining oracle entry, so no
    // query's perf can silently regress round-over-round. Grouped by
    // family; each is cheap relative to the flagship block above.
    // BenchCoverageSpec pins headline ≡ SparkEntry.queries.keySet.
    "p1_wide_projection", "p2_bool_projection", "p3_coalesce_default",
    "p4_status_filter", "p5_inlist_filter", "p6_date_window",
    "p7_null_guard", "p8_point_lookup", "p9_dynamic_inset",
    "p10_email_validity", "p11_pii_strip",
    "f1_email_id_hash", "f2_md5_member_id", "f4_split_trim",
    "f5_cast_family", "f7_enum_decode", "f8_merge_field_render",
    "f8b_typed_dispatch", "f10_tag_derivation",
    "j3_multicond_join", "j4_coalesce_key_join", "j5_scope_semijoin",
    "j6_anti_join", "j8_existence_flags", "j9_broadcast_lookup",
    "j10_fk_filter", "j11_dual_resolve",
    "a2_flags_rollup", "a4_distinct", "a5_unique_by", "a7_except",
    "a8_union_stats", "a9_explode", "a11_keyed_first", "a12_bitmap_distinct",
    "w2_topk_order_limit", "w3_point_first", "w4_first_sorted",
    "w5_grouped_topk",
    "t1_asof_current", "t2_asof_param", "t3_full_history",
    "t4_rolling_window", "t5_epoch_formats", "t7_range_join",
    "ldr1_leadership_asof",
    "s9_composite_upsert", "s12_audience_retain", "s14_schema_diff",
    "mbr2_members_by_region", "mbr4_members_all_rolling", "mh2_intl_history",
    "eav1_explode",
    "d5_embedding_neardup", "d6_dedup_clusters", "d7_capped_jaccard",
    "emb1_quantize", "emb2_l2_normalize", "emb3_centroid_assign",
    "emb5_pq_codes",
    "tx1_token_counts", "tx3_lang_id", "tx5_top_tokens", "tx6_cm_top_tokens",
    "sk1_exact_quantiles", "sk2_hist_quantiles",
    "smp1_hash_sample", "smp3_fixed_sample", "smp4_split",
    "c2_capped_contamination", "c3_decontaminate", "c4_split_leakage",
    "lr1_logreg_weights", "bpe2_token_vocab",
    "out2_shard_verify", "out2b_verify_tamper", "out3_incremental_append",
    "dp3_corpus_prep", "qc1_corpus_report",
    "e4_correlate", "m2_header_decode", "m3_frame_sample",
    // round-8 additions (headline is append-only: entries keep their
    // session position round-over-round — see ARCHITECTURE.md)
    "sim5b_refined_ann", "hll1_distinct_sketch", "mix3_temperature_mixture",
    "emb7_jl_projection", "tx15_blocklist_gate", "url1_link_hosts",
    // round-9 additions
    "sim6_sq8_ann", "pr1_host_pagerank", "url2_canonical_dedup",
    "e7_window_hll", "shuf1_epoch_shuffle", "sim7_mutual_knn",
    "emb8_centroid_drift", "t9_bitemporal_asof", "d12_minhash_accuracy",
    "mix5_token_budget", "lr3_calibration", "idx3_phrase_search",
    "dp6_web_corpus_prep", "qc8_rollup_report", "e9_props_json",
    "smp6_weighted_sample", "qc9_outlier_bounds", "qc10_pivot_card",
    "t10_tolerance_asof", "qc11_metric_melt", "qc12_dup_rate",
    // round-10 additions
    "dsub1_exact_substring", "m4_image_phash_dedup", "dp7_authority_curation",
    "hits1_hub_authority", "tx16_bigram_assoc", "lr4_threshold_sweep",
    "e10_decay_activity", "sim8_hard_negatives", "url3_anchor_texts",
    "url4_host_components", "t11_scd2_build", "smp7_kfold_card",
    "qc13_score_calibration", "e11_session_transcripts",
    "emb9_truncated_recall", "dp8_calibrated_curation",
    "t12_keyless_range_join", "d13_quality_keeper", "ret3_prf_bm25",
    "w6_winsorize_card", "e12_gap_percentiles",
    "emb10_sign_ann", "e13_transition_matrix", "m5_audio_fp_dedup",
    "e14_props_keys", "smp8_cluster_weighted",
    "qc15_syndication_matrix", "d14_dedup_impact", "ret4_retrieval_eval",
    "dp9_refresh_receipt",
    // wave 6
    "e15_audience_overlap", "e16_burst_detection", "fs1_training_features",
    "emb11_dim_covariance", "sim9_range_search", "g1_degree_card",
    "qc16_coverage_gaps", "t13_daily_snapshots", "sim10_maxsim_rerank",
    "lm2_familiarity_score", "e17_arrival_decay", "mix6_interleaved_order",
    "qc17_fd_discovery", "qc18_histogram_drift",
    "d15_lsh_band_sweep", "fs2_staleness_audit",
    "e18_path_trigrams", "m6_video_frame_dedup", "dp10_feature_pipeline",
    // round-11 additions
    "dsub2_substring_mask", "m4b_real_pixel_dedup", "sim11_graph_walk",
    "pr2_personalized_pagerank", "dp11_substring_cut_receipt",
    "bpe4_roundtrip_card", "qc19_correlation_card",
    "c7_substring_contam", "c8_surgical_decontam", "m7_media_dims_card",
    "e19_conversion_lag", "tx17_freq_spectrum",
    "lm3_bigram_familiarity", "idx4_compaction_plan",
    "d17_containment_pairs", "t14_interval_audit", "mix7_cooldown_schedule",
    "d19_char_ngram_dedup", "sim12_sign_rerank", "fs3_feature_matrix",
    "url5_domain_rollup", "m9_mime_integrity", "dp12_release_manifest",
    "e21_activity_heatmap", "m4c_jpeg_pixel_dedup", "d20_char_band_sweep",
    "sim11b_seeded_walk", "m5b_spectral_dedup", "m6b_real_frame_dedup",
    "dp13_multimodal_manifest",
    // round-13 additions
    "sim11c_layered_walk", "m6c_long_clip_dedup",
    "m7b_jpeg_sof_card", "out4_partition_prune",
    "m4d_exif_oriented_dedup",
    // round-14 additions
    "m4e_exif_progressive_dedup", "m7c_orientation_card",
    "m6d_mixed_container_dedup", "m5c_mixed_storage_dedup",
    // round-15 additions
    "m4f_png_storage_dedup", "m7d_png_coverage_card",
    "m5d_legacy_storage_dedup", "sim11d_recall_frontier",
    "warc1_record_manifest", "dp6w_warc_corpus_prep",
    "mbr1b_bucketed_by_club", "warc2_http_responses",
    // round-16 additions
    "warc3_gzip_members", "sim13_incremental_knn",
    "mbr2b_bucketed_by_region", "mbr3b_bucketed_all",
    // round-16 additions
    "m4g_png_depth_dedup", "warc4_revisit_resolution",
    "sim14_knn_delete", "out5_zorder_layout", "qc20_k_anonymity",
    "url6_crawl_budget", "idx5_postings_delete", "cms1_heavy_hitters",
    "dp6g_gzip_corpus_prep", "sim15_filtered_ann",
    "m5e_extensible_header_dedup", "m7e_audio_coverage_card",
    "m6e_fragmented_mp4_dedup", "m7f_video_coverage_card",
    // round-17 additions
    "ext1_html_extraction", "dp6r_raw_crawl_prep",
    "m4h_gif_storage_dedup", "out5b_zone_map_card",
    "ext2_link_extraction", "ext3_page_metadata", "url7_robots_gate",
    "url7b_robots_frontier", "tx18_boilerplate_blocks",
    "url8_sitemap_manifest", "warc5_wet_production",
    "url9_frontier_expansion",
    // round-18 additions
    "url8b_sitemap_discovery", "dp14_crawl_scheduler",
    "tx19_linkdensity_gate", "warc6_wat_production",
    "tx3b_trained_langid", "wat1_outlink_inventory",
    "url10_recrawl_schedule",
    // round-18 mid-round additions (append-only order)
    "cdx1_record_index", "cdx2_ranged_fetch",
    "lm4_backoff_coverage", "tx20_gopher_rules",
    "url11_politeness_schedule", "qc21_key_skew_card",
    "dsir1_importance_gate", "warc7_request_pairing",
    "url12_redirect_chains", "ccnet1_familiarity_terciles",
    "qc22_encoding_integrity", "d21_scoped_dedup",
    "tx21_c4_rules", "mix8_unimax_budget",
    "warc8_revisit_production", "url13_redirect_canonical",
    "dp15_published_gates", "g2_star_components", "qc23_gate_overlap",
    "out6_tar_shards", "out7_tfrecord_shards", "tok1_fertility_card",
    "dp16_packed_export", "out6b_media_tar_export", "out7b_tokenid_export",
    "qc24_export_balance")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // Dev-only subset filter (comma-separated query names); the driver
    // harness doesn't set it, so the official record is always the full
    // headline.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    // Shuffle files on tmpfs when the box has one (r14, after the r13
    // drift attribution): this host's disk-backed /tmp developed ~2x
    // shuffle-file latency between the r12 and r13 record sessions
    // (same code, same plans — the r12-era commit reproduces the
    // slowdown; ARCHITECTURE.md "Round-13 drift"), which taxed every
    // small multi-stage query ~0.3-0.5 s while leaving compute-bound
    // kernels untouched. Local-dir placement is a real deployment
    // lever (production shuffle service / NVMe local dirs), the sf0.1
    // shuffle volume is MBs, and the calib_* record fields keep
    // cross-round records honest about box state. Benchmark-only —
    // correctness runs don't care where shuffle bytes land.
    val shm = new java.io.File("/dev/shm")
    val tmpfsShuffle =
      sys.env.get("SPARK_LOCAL_DIRS").isEmpty && shm.isDirectory && shm.canWrite
    val spark = GraftSession.build(cpus.toInt,
      (if (tmpfsShuffle) Seq("spark.local.dir" -> "/dev/shm/graft-shuffle") else Nil): _*)
    // The record states its shuffle-placement conditions explicitly
    // (r15, per the r14 advice): calib_* hints at box state, but a
    // reader comparing headline totals across rounds needs to know
    // whether this record ran with tmpfs shuffle dirs or disk-backed
    // ones without reverse-engineering it from latencies.
    val localDirEff =
      sys.env.getOrElse("SPARK_LOCAL_DIRS",
        spark.conf.getOption("spark.local.dir").getOrElse("<spark-default>"))
    // untimed warmup: JVM/codegen/session init, not query work. The
    // flagship runs once at the BENCH scale factor — the rep loop is
    // rep-major, so the first headline query would otherwise be the only
    // one charged for sf-dir footer reads, scan codegen, and broadcast
    // machinery init (the r5 mbr1-vs-mbr3 "inversion" was exactly this
    // cold-first-query artifact).
    spark.read.parquet(s"$sfDir/region.parquet").count()
    try SparkEntry.queries(headline.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    finally CacheScope.releaseAll()
    // Box-state calibration (r14, after the r13-drift attribution): two
    // fixed micro-probes whose medians measure the HOST's per-stage
    // fixed costs, independent of any catalog query — shuffle_ms is a
    // tiny two-stage repartition+agg (pure stage-scheduling + shuffle
    // file latency), map_ms a one-stage scan-sum (pure task dispatch +
    // compute). The r13 record's 1.35x session geomean traced to the
    // box's stage-latency state roughly DOUBLING between the r12 and
    // r13 record sessions (same code, same plans, reproduced on the
    // r12-era commit — ARCHITECTURE.md "Round-13 drift"); these two
    // numbers make that diagnosis a one-line comparison in any future
    // round instead of a half-session forensic exercise. Never part of
    // the total; warmed by the probes' own first rep (dropped).
    def calib(job: () => Unit): Double = {
      val ts = (0 until 6).map { _ =>
        val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e6
      }
      median(ts.drop(1).toVector) // rep 1 absorbs codegen
    }
    val shuffleMs = calib(() =>
      spark.range(1 << 16).repartition(32).groupBy((col("id") % 101).as("k"))
        .count().write.format("noop").mode("overwrite").save())
    val mapMs = calib(() =>
      spark.range(1 << 20).select(sum(col("id"))).write.format("noop")
        .mode("overwrite").save())
    val qs = SparkEntry.queries
    val names = headline.filter(qs.contains)
      .filter(n => subset.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (rep <- 1 to reps; name <- names if !errors.contains(name)) {
      val t0 = System.nanoTime()
      // elapsed is captured INSIDE the try, before the finally's cache
      // release — unpersist bookkeeping is session hygiene, not query
      // work, and must not be charged to the measurement.
      val elapsed =
        try {
          qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name (rep $rep): $e"); errors += name; None }
        finally CacheScope.releaseAll() // operator-internal persists end with the query
      elapsed.foreach(t => samples(name) = samples.getOrElse(name, Vector.empty) :+ t)
    }
    // A failed query must not read as "fast": it reports -1 in every
    // field so the gate can tell a crash from a quick pass — including
    // a query that succeeded in an earlier rep and failed later (its
    // partial samples would otherwise masquerade as a clean median).
    def fmt(f: Vector[Double] => Double) = names.map { n =>
      val v = samples.get(n).filter(_.nonEmpty)
        .filterNot(_ => errors.contains(n)).map(f).getOrElse(-1.0)
      f""""$n":$v%.3f"""
    }.mkString("{", ",", "}")
    val qj = fmt(median)
    val loJ = fmt(_.min)
    val hiJ = fmt(_.max)
    // A crash must never IMPROVE the headline: each failed query charges
    // a full timeout's worth of seconds into the total (the -1 marker in
    // `queries` still tells the reader which ones crashed).
    val failPenaltySec = 600.0
    val total = names.filterNot(errors.contains)
      .flatMap(samples.get).filter(_.nonEmpty).map(median).sum +
      errors.size * failPenaltySec
    val ej = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Stop Spark BEFORE printing the record so no stray log line can land
    // after it, then emit the official record as the LAST stdout line and
    // keep it SMALL (medians + errors only). The per-query min/max spread
    // goes on its own earlier line: the driver captures a bounded tail of
    // stdout, and rounds 5–6 lost the medians block because one huge line
    // (medians+lo+hi) was cut from the front by that tail capture.
    CacheScope.releaseSession() // cross-query caches (fixture bases) end with the run
    spark.stop()
    val spreadLine = f"""{"metric":"spread","lo":$loJ,"hi":$hiJ}"""
    val recordLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qj,"reps":$reps,"errors":$ej,"sf":"$sfDir","calib_shuffle_ms":$shuffleMs%.1f,"calib_map_ms":$mapMs%.1f,"shuffle_tmpfs":$tmpfsShuffle,"local_dir":"$localDirEff"}"""
    // The official record ALSO goes to a file: the driver captures a
    // bounded tail of stdout, and rounds 5–7 each lost part of the record
    // to that front-truncation (r7 lost the flagship mbr1 median and the
    // total). The file is the durable copy — stdout is best-effort.
    val recPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_RECORD", "target/bench_record.json"))
    try {
      Option(recPath.getParent).foreach(Files.createDirectories(_))
      Files.write(recPath, (spreadLine + "\n" + recordLine + "\n").getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[bench] record written to $recPath")
    } catch { case e: Throwable => System.err.println(s"[bench] record file write failed: $e") }
    println(spreadLine)
    println(recordLine)
    System.out.flush()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.mkString(", ")}")
      sys.exit(1)
    }
  }
}
