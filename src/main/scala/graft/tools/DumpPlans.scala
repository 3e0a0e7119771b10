package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev tool: dump formatted physical plans of EVERY registered query
  * to PLANS.md so plan quality (pushdown, join strategies, shuffle
  * counts, codegen spans) is reviewable without running Spark.
  * Coverage is enforced: a registered query without a `notes` entry
  * fails the dump, so a new query cannot silently skip the artifact.
  * Iterative/multi-job queries (q47's CC rounds, q117's power
  * iteration, q81's per-round merges) print the FINAL composed plan;
  * the per-round shape repeats inside it and the entry is capped, so
  * the note carries the round count.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val notes = Map(
      "q01_pricing_summary" -> "hash agg + filter pushdown",
      "q03_join3_topk" -> "3-way join + top-k",
      "q04_broadcast_join" -> "broadcast dim join",
      "q05_sortmerge_join" -> "big-big sort-merge join",
      "q20_approaches" -> "flagship state-machine pipeline (one shuffle)",
      "q26_salted_join" -> "salted skew join",
      "q31_minhash_lsh" -> "LSH band bucket join (narrow m8>=4 calibrated pre-filter before the set fetch)",
      "q33_jaccard_pairs" -> "inverted shingle index join",
      "q40_cosine_topk" -> "brute-force ANN baseline (broadcast queries, bounded partial top-k agg)",
      "q43_ivf_ann" -> "IVF probe join (broadcast-variable codebook)",
      "q62_banded_ann" -> "multi-table SRP banding (OR-combined band-key bucket join)",
      "q48_bucketed_join" -> "bucketed co-located join (no fact-side shuffle)",
      "q53_asof_join" -> "as-of join (tag-union + window, one shuffle, no join)",
      "q54_range_join" -> "range join (equi key + range residual, hash join)",
      "q55_pivot" -> "enumerated pivot (no discovery job, group-count shuffles)",
      "q56_vocab" -> "vocab top-k (two-phase agg + TakeOrderedAndProject)",
      "q57_mix_sample" -> "stratified hash sampling (zero-shuffle scan)",
      "q58_seq_pack" -> "sequence packing (one window shuffle)",
      "q60_asof_tolerance" -> "bounded as-of (tolerance as post-window projection)",
      "q61_curation" -> "composed curation pipeline (one digest shuffle)",
      "q63_contamination" -> "decontamination probe (broadcast bench index, corpus never shuffles)",
      "q64_repetition" -> "repetition metrics (map-only run-length fold, zero data shuffle)",
      "q66_token_ids" -> "token-id encode (broadcast top-K vocab, TakeOrdered dim build)",
      "q67_zorder" -> "Z-order code (zero-shuffle projection)",
      "q69_pq_encode" -> "PQ encode (map-only, broadcast codebook)",
      "q70_pq_adc" -> "PQ ADC search (codes x broadcast queries, bounded top-k)",
      "q71_ivfpq_search" -> "IVF+PQ composed search (probe join + ADC + bounded top-k)",
      "q74_pq_residual" -> "residual PQ encode (composed native expressions, map-only)",
      "q75_chunk_dedup" -> "chunk-level dedup (single chunk pipeline, count-over-digest window)",
      "q77_bloom_prejoin" -> "bloom pre-join pruning (probe below broadcast join)",
      "q80_delta_dedup" -> "incremental delta-vs-base dedup (base never shuffles)",
      "q81_bpe_merges" -> "BPE merge training (vocab-sized pair aggs, driver holds one row per round)",
      "q82_bpe_subwords" -> "BPE apply (vocab-sized literal-replace segmentation + narrow agg)",
      "q83_cms_heavy" -> "Count-Min heavy hitters (grid-per-task partial agg, broadcast query)",
      "q84_hll_distinct" -> "HLL distinct sketch (register-array partials + exact-distinct witness)",
      "q85_span_dedup" -> "longest shared span (join-free capped pair explode, diagonal windows)",
      "q86_span_cut" -> "substring dedup cut (span runs -> coverage explode -> one (doc,pos) join)",
      "q89_quantile_sketch" -> "HDR quantile sketch (bounded bucket agg + tiny window; witness sort broadcast-joined)",
      "q90_unigram_logprob" -> "unigram LM scoring (broadcast vocab probe, integer per-doc fold)",
      "q91_pmi_bigrams" -> "bigram PMI (narrow pair aggs, broadcast marginals, TakeOrdered top-k)",
      "q92_orc_roundtrip" -> "ORC read (pushed predicate + pruned columns) + checksum agg",
      "q93_weighted_sample" -> "A-ES weighted sampling (map-only ln-key scoring, bounded topk_by_score cut)",
      "q94_partition_prune" -> "date-partitioned scan (PartitionFilters prune, no full-table scan)",
      "q95_normalized_dedup" -> "NFC-normalized dedup (native codegen'd normalize, digest-only agg)",
      "q96_sketch_rollup" -> "HLL rollup re-aggregating STORED sketches (register partials, never keys)",
      "q97_funnel" -> "conversion funnel (one per-user window shuffle, no per-stage self-joins)",
      "q98_cohorts" -> "cohort retention (per-user bounded date-set collapse + tiny cohort agg)",
      "q99_full_outer" -> "full outer join (pre-aggregated both sides, broadcast name lookup)",
      "q100_correlated_subquery" -> "correlated scalar subquery (de-correlated to aggregate + join)",
      "q101_jdbc_roundtrip" -> "JDBC partitioned read-back (stride predicates pushed per slice)",
      "q102_setops_all" -> "bag-semantics set ops (replicate-count aggregates, no row dedup)",
      "q103_edit_verify" -> "edit-distance verify over LSH candidates (quadratic scorer bounded to candidate pairs)",
      "q104_profile" -> "column profiling (one scan, one aggregate, long-format stack)",
      "q105_ann_recall" -> "ANN recall audit (exact baseline on a query sample, broadcast-only key joins)",
      "q106_key_skew" -> "join-key skew audit (one pruned-column agg, TakeOrdered heavy hitters)",
      "q107_delta_neardup" -> "delta-vs-base near-dup admission (two map-only base passes, delta-sized exchanges only)",
      "q108_quality_classifier" -> "hashed linear quality classifier (map-only integer scoring, zero data shuffle)",
      "q109_length_histogram" -> "token-length histogram (map-side partials into bucket-count rows, tiny cumsum window)",
      "q110_importance_resample" -> "DSIR importance resampling (broadcast LM-ratio probe, Gumbel key, bounded top-k)",
      "q111_drift_stats" -> "corpus drift monitor (tagged-union single agg, exact integer rate diff, TakeOrdered)",
      "q112_containment" -> "containment near-dup (shared inverted-index core, asymmetric confirm arithmetic)",
      "q113_semantic_decon" -> "semantic decontamination (broadcast eval suite, map-only corpus score, bounded top-1)",
      "q114_source_outliers" -> "source-centroid outlier audit (integer-e6 centroid agg, broadcast-back rescore, bottom-k partial)",
      "q115_unpivot" -> "unpivot reshape (Expand over the group-sized wide table, no extra exchange)",
      "q116_canonical_keeper" -> "canonical keeper per dedup cluster (partial min-by argmax, no member window)",
      "q117_graph_rank" -> "similarity-graph rank (fixed-depth integer power iteration, TakeOrdered readout)",
      "q118_margin_align" -> "margin alignment mining (barriered exact scorer, two bounded top-4 side aggregates)",
      "q119_rate_anomaly" -> "event-rate anomaly flags (rollup aggregate, 6-deep window frame, integer 2-sigma test)",
      "q120_rate_trend" -> "event-rate trend (rollup-sized row_number window, one regression aggregate per type)",
      "q121_bm25" -> "BM25 retrieval (one stats aggregate broadcast back, map-only scoring, TakeOrdered top-10)",
      "q122_banded_align" -> "banded margin alignment (bipartite band-key bucket join, candidate-only margins, bounded top-4 partials, exact-cosine confirm floor)",
      "q123_align_recall" -> "alignment recall audit (exact vs banded pair sets, count-only single row)",
      "q124_cluster_split" -> "cluster-aware leakage-safe split (q47 CC + narrow keeper join + salted-hash projection)",
      "q125_packing_stats" -> "packing-efficiency audit (q58 window + 3-row partial aggregate)",
      "q126_ivf_recall" -> "IVF probe-depth recall audit (exact sample baseline, broadcast codebook + claim-set joins)",
      "q127_minhash_calibration" -> "MinHash estimator calibration (banded candidates, per-pair m8 vs exact Jaccard, <=7-row table: a matching band forces m8 >= 2)",
      "q128_pq_recall" -> "PQ/ADC recall audit (exact L2 sample baseline vs code-space top-3, broadcast codebook)",
      "q129_codec_decode" -> "real PGM/WAV decode (narrow typed mapPartitions batches, payloads never shuffled)",
      "q130_png_decode" -> "real PNG decode (CRC'd chunk walk + JDK-zlib inflate + filter reconstruction in narrow batches)",
      "q131_json_extract" -> "semi-structured JSON extraction (from_json under the partial agg, payloads never shuffle)",
      "q132_compression_signal" -> "compression-ratio curation signal (codegen'd deflate_len, map-only)",
      "q133_bmp_decode" -> "real BMP decode (BGR/bottom-up/padded rows in narrow batches, order-sensitive wsum)",
      "q134_hard_negatives" -> "hard-negative mining (capped 3-table band join, label filter on candidates, bounded top-3 partial)",
      "q135_negatives_recall" -> "hard-negative recall audit (exact different-label baseline on the anchor sample vs the banded miner)",
      "q136_archive_explode" -> "archive-shard explode (real ZIP walk + per-entry inflate in narrow batches)",
      "q137_tar_samples" -> "WebDataset tar-shard explode (checksummed ustar walk, in-worker stem grouping)",
      // ---- the rest of the registry ----
      "q02_filter_project" -> "projection + pushed filter (scan-dominated plan, pruned ReadSchema)",
      "q06_semi_join" -> "left semi join (broadcast build side)",
      "q07_anti_join" -> "left anti join (work-list complement)",
      "q08_rollup" -> "ROLLUP grouping sets (Expand + one agg exchange)",
      "q09_window_rank" -> "ranking window (one partition-key shuffle)",
      "q10_window_frame" -> "rolling 5-row mean frame (A3 warm-up + one-step-delay quirk)",
      "q11_sessionize" -> "gap-based sessionization (one per-user window shuffle)",
      "q12_topk" -> "global top-k (TakeOrderedAndProject, no full sort)",
      "q13_setops" -> "distinct set ops (union/intersect/except)",
      "q14_distinct_agg" -> "multi-distinct aggregate (expand-based two-phase)",
      "q15_hourly_window" -> "event-time hourly tumbling window aggregate",
      "q16_geodesy" -> "geodesy Column pipeline G1-G11 (map-only, zero shuffle)",
      "q17_worklist_anti" -> "pending work-list anti join (S1/J5, pruned one-column scan)",
      "q18_aircraft_join" -> "flight-to-type equi join (S2/J4, broadcast dim)",
      "q19_nulldrop" -> "NULL-row filter (F2, pushed IsNotNull on all 9 sensor columns)",
      "q21_landing_types" -> "landing classifier readout (W7 over the typed detector, same one shuffle as q20)",
      "q22_stability_flags" -> "stability predicate flags (F6/A2 over the typed detector)",
      "q23_analysis_flags" -> "analysis-flag coupling readout (S7, detector + flag agg)",
      "q24_airport_dims" -> "airport-runway dims (explicit-schema CSV scans + J3 association join)",
      "q25_geodesy2" -> "geodesy second family (bearing/midpoint/destination, map-only)",
      "q27_cube" -> "full CUBE + grouping_id (Expand, one agg exchange)",
      "q28_per_aircraft_thresholds" -> "per-aircraft threshold overrides (resurrected dead-code path; broadcast threshold dim)",
      "q29_percentiles" -> "exact grouped percentiles (sort-within-group percentile agg)",
      "q30_exact_dedup" -> "exact dedup (digest-only shuffle, document bytes stay put)",
      "q32_simhash" -> "16-bit SimHash signatures + bucket grouping (map-only signature, one band shuffle)",
      "q34_langid" -> "n-gram language ID (map-only scoring, zero data shuffle)",
      "q35_quality" -> "quality scoring: length/punct/stopword ratios (map-only)",
      "q36_tokens" -> "token counting, whitespace + BPE-ish regex (map-only)",
      "q37_fingerprint" -> "min rolling char-8-gram fingerprint (map-only fold)",
      "q38_tfidf" -> "TF-IDF (doc-freq agg broadcast back, map-only scoring, top-k cut)",
      "q39_merge_sink" -> "crash-atomic bucketed merge sink readout (S6)",
      "q41_srp_buckets" -> "SRP-LSH bucket assignment (map-only plane signs)",
      "q42_ann_neardup" -> "bucketed ANN near-dup (hot-capped self-join, exact-cosine confirm)",
      "q44_validity_probe" -> "validity probe (F4; single bounded probe, no full scan)",
      "q45_latlon_format" -> "lat/lon sexagesimal formatting (G14, map-only)",
      "q46_split" -> "deterministic train/valid/test hash split (map-only, zero shuffle)",
      "q47_dedup_clusters" -> "connected components (pointer-doubling, O(log n) rounds — final round's plan shown; narrow (id,label) exchanges per round)",
      "q49_simhash64" -> "native codegen'd 64-bit SimHash expression (map-only)",
      "q50_media_roundtrip" -> "media header round-trip (binary Column expressions, map-only)",
      "q51_frame_features" -> "frame sampling + md5 features (byte-range slicing, map-only)",
      "q52_kmeans_step" -> "one k-means Lloyd step (broadcast centroids, map-side assign + one agg exchange)",
      "q59_batched_decode" -> "batched decode seam (narrow typed mapPartitions, one handle per 64-item batch)",
      "q65_mixture_weights" -> "domain-mixture weights (catalog-sized aggregate, the planning half of q57)",
      "q68_stratified_topk" -> "per-stratum top-k sample (bounded topk_by_score partial per stratum, window-free)",
      "q72_training_order" -> "global curriculum order (salted-hash sort key; the one global sort is the product)",
      "q73_jsonl_roundtrip" -> "JSONL ingest round-trip (explicit-schema line parse, checksum agg)",
      "q76_overlap_chunks" -> "sliding-window chunking with overlap (explode, map-only)",
      "q78_pii_scrub" -> "PII scrubbing (regexp_replace chain, map-only, zero data shuffle)",
      "q79_semantic_clusters" -> "embedding-cosine near-dup clusters (banded pairs into q47's pointer-doubled CC)",
      "q87_asof_forward" -> "forward as-of join (q53's tag-union window with the direction flipped)",
      "q88_domain_stats" -> "URL/domain extraction + per-domain stats (one domain-key agg)",
      "q138_jpeg_decode" -> "real JPEG decode via the JDK ImageIO reader (narrow batches, one reader handle per batch)",
      "q139_measured_salt_join" -> "measured salting: skew scout derives fan-out + hot set; hot-key-only salted join (decision rows oracle-checked)",
      // ---- media near-dup, HTML extraction, container fronts ----
      "q140_image_neardup" -> "perceptual image near-dup (real decode -> dHash limbs, banded Hamming bucket join, never all-pairs)",
      "q141_image_neardup_audit" -> "image near-dup recall audit (fixed-size anchor panel broadcast against the corpus — linear exact side)",
      "q142_html_extract" -> "HTML boilerplate extraction (jusText-shaped block gate as pure Column regex combinators, map-only)",
      "q143_url_canonicalize" -> "URL canonicalization + blocklist (map-only regex rules, broadcast blocklist dim, zero data shuffle)",
      "q144_audio_decode" -> "real AIFF/AU decode via the JDK javax.sound readers (narrow batches, one provider scan per batch)",
      "q145_prefix_join" -> "exact all-pairs Jaccard via prefix filtering (rarest-first prefixes index, lossless candidates, doc_id-keyed verify joins)",
      "q146_audio_pitch" -> "autocorrelation pitch over decoded PCM (map-side decode + O(n*maxLag) integer DSP)",
      "q147_ranking_eval" -> "retrieval eval recall/MRR/NDCG@10 (bounded panel exact top-k, broadcast label dims, integer DCG weights)",
      "q148_gif_decode" -> "real GIF decode via the JDK ImageIO LZW reader (hand-written encoder, narrow batches, palette-aware luma)",
      "q149_sq8_recall" -> "int8 scalar-quantization recall audit (64-value broadcast scale vector, dequantized L2 vs exact L2 on the bounded panel)",
      "q150_line_dedup" -> "C4-style corpus-wide line dedup (digest-keyed shuffles, map-side-combined min keeper + equi join, no window)",
      "q151_mp4_probe" -> "MP4/BMFF container probe (map-only pre-order box walk, payloads never shuffled)",
      "q152_tiff_probe" -> "TIFF/EXIF IFD probe, both byte orders (map-only walk, ASCII offsets dereferenced)",
      "q153_warc_members" -> "WARC-style multi-member gzip explode (per-member raw inflate + trailer verify, narrow walk)",
      "q154_tfrecord" -> "TFRecord framing + protobuf wire walk (masked CRC32C per record, varint field scan, narrow)",
      "q155_audio_neardup" -> "perceptual audio near-dup (real decode -> energy-delta limbs, banded Hamming bucket join, never all-pairs)",
      "q156_audio_neardup_audit" -> "audio near-dup recall audit (fixed-size anchor panel broadcast against the corpus — linear exact side)",
      "q157_curation_v2" -> "composed curation v2 (broadcast URL blocklist -> q150 digest-keyed line dedup -> map-only signals; wide work = the line machinery only)",
      // ---- composed curation, line admission ----
      "q158_curation_v3" -> "composed curation v3 (HTML extract front, persisted extracted frame for the 4 sibling stages, q150 line machinery + q47 pair/CC, cluster-keeper split)",
      "q159_line_admit" -> "incremental line admission (base index probed map-only under the broadcast cap, guarded merge fallback; shuffles scale with the delta, never the base)",
      // ---- curation over the container fronts ----
      "q160_container_curation" -> "curation over the real container front (map-only zip walk on the executors, hardened host-suffix gate, q157-family stages over decoded members)",
      "q161_webdataset_curation" -> "curation over the WebDataset-tar front (checksummed ustar walk, stem-grouped samples, URL read from the decoded json member, same curation tail as q160)",
      "q163_warc_curation" -> "curation over the WARC-gzip front (q153's member walk carrying bodies, doc id + URL decoded from record bytes, FNAME bit observable, same curation tail as q160/q161)",
      "q162_cluster_split_front" -> "cluster-aware split at the ZIP container front (q160's walk + planted cross-shard near-copies, jaccardPairs+CC keeper, split bucketed on the keeper hash — q124's no-straddle guarantee on the shards lineage)",
      "q164_blocklist_table" -> "table-backed blocklist gate (narrow explode of the label-boundary suffix chain, broadcast left-semi against the entry table, matched-keys distinct — corpus-scale lists never ride the plan as a literal)")

    val all = SparkEntry.queries.keys.toSeq
      .sortBy(n => (n.drop(1).takeWhile(_.isDigit).toInt, n))
    val missing = all.filterNot(notes.contains)
    require(missing.isEmpty,
      s"every registered query needs a PLANS.md note; missing: ${missing.mkString(", ")}")

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.DumpPlans at sf0.001)\n")
    sb.append("\nRegenerate: `sbt \"runMain graft.tools.DumpPlans\"`. ")
    sb.append(s"Covers all ${all.size} registered queries.\n")
    all.map(n => n -> notes(n)).foreach { case (name, why) =>
      sb.append(s"\n## $name — $why\n\n```\n")
      // a query that cannot be planned on this host (q24 without its
      // reference CSVs) gets its failure as the entry, not a dead dump
      val explained =
        try SparkEntry.queries(name)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case NonFatal(e) => s"not planned here: ${e.getMessage}" }
      // embedded array literals (e.g. q43's IVF codebook) blow single
      // plan lines to tens of KB — cap them so the doc stays readable
      val capped = explained.linesIterator.map { l =>
        if (l.length > 300) l.take(300) + " … (line truncated)" else l
      }.mkString("\n")
      // unrolled iterative plans (q117's 3 power rounds re-print the
      // pair pipeline per round) run to hundreds of KB — cap each
      // entry so the doc stays reviewable; the tree shape is fully
      // visible long before the cap
      sb.append(if (capped.length <= 60000) capped
        else capped.take(60000) +
          s"\n… (entry truncated at 60 kB of ${capped.length} chars)")
      sb.append("\n```\n")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
