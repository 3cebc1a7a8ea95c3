package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Generates PLANS.md: `explain formatted` for the headline queries —
  * the physical-plan evidence (pushdown, broadcasts, codegen spans)
  * that PlanSpec asserts programmatically, in human-readable form.
  * Run: sbt "runMain graft.Plans" (writes to repo root).
  */
object Plans {
  val headline = Seq(
    "q01_pricing_summary", "q02_filter_pushdown", "q03_broadcast_join",
    "q04_nation_revenue", "q05_anti_join", "q11_topk",
    "q31_minhash_lsh_pairs", "q34_cosine_topk", "q41_asof_join",
    "q46_embedding_neardup",
    // round-2 custom-operator evidence: the window-top-k rewrite
    // (TopKPerKeyPartial → exchange → TopKPerKey, no Window/Sort),
    // the binned range join (hash join, no nested loop), and the
    // LSH-pair connected-components input chain
    "q57_window_topk_rewrite", "q61_range_join", "q66_cube",
    // round-3 evidence: the two-pass distributed cumsum (no Window),
    // the length-band-blocked fuzzy match (no nested loop), the
    // df-capped Jaccard (anti-join against the broadcast dropped
    // set), and the histogram-narrowing exact median
    "q60_token_packing", "q65_fuzzy_match", "q79_neardup_jaccard_capped",
    "q87_distributed_median", "q94_corpus_pipeline",
    // round-5 evidence: the O(delta) incremental dedup (delta band
    // rows probe the checkpointed store; verify is candidate-driven)
    // and the ANN recall audit (one exact scan semi-joining the union
    // of both approximate sets)
    "q97_incremental_dedup", "q98_ann_recall",
    // the sub-quadratic embedding near-dup (sign-LSH bucket + Hamming-1
    // probe candidates, exact-cosine verify over candidates only)
    "q99_embedding_neardup_lsh",
    // exact span-level dedup (two-stage aggs + semi-join on the
    // 8-byte span key; no Expand, no span text in any shuffle)
    "q100_span_dup_profile",
    // incremental embedding near-dup (delta buckets probe the
    // checkpointed store; verify is candidate-driven — q97's shape
    // in vector space)
    "q102_embedding_neardup_incr",
    // round-6 evidence: the multi-table LSH top-k (per-table bucket
    // equi-join, narrow candidate dedup, candidate-driven verify
    // joins), the df-capped span profile (classified span dictionary,
    // one h-join), and the band-store compaction (anti-join against
    // the output-sized non-keeper list)
    "q35_ann_lsh_topk", "q107_span_dup_capped", "q108_band_compaction",
    // round-7 evidence: the hot-bucket-capped batch LSH join (capped
    // members + diverted-overflow probe, never b² on one key), the
    // DSv2 aggregate pushdown (PushedAggregates on the jsonl scan),
    // the O(delta) IVF assignment against the persisted quantizer,
    // and the member-capped exact Jaccard (map-side WindowGroupLimit
    // bounds every posting list before the candidate join)
    "q114_lsh_capped", "q116_jsonl_agg_pushdown", "q117_ivf_incremental",
    "q118_neardup_jaccard_membercap",
    "q119_semantic_dedup", "q120_quantile_sketch_rollup",
    "q121_jsonl_topn_pushdown", "q122_semantic_dedup_capped",
    "q123_semantic_decontamination", "q124_semantic_dedup_audit",
    // round-9 evidence: perceptual-hash image near-dup (banded
    // Hamming candidates over the two-word aHash, no cross join) and
    // the relative span cap (corpus count as a 1-row broadcast on a
    // non-foldable key — hash join, not BNLJ)
    "q125_image_phash_neardup", "q126_span_dup_relcapped",
    "q127_audio_fingerprint_neardup", "q128_video_temporal_neardup",
    "q129_decontamination_bloom", "q130_mixture_rebalance",
    "q131_image_phash_membercap", "q133_phash_incremental",
    // PQ evidence: the zero-exchange code encode (one codegen'd
    // projection over the pre-projected slice columns) and the ADC
    // scan (code store vs broadcast distance tables — q34's bounded
    // broadcast shape over 8-byte codes)
    "q134_pq_codes", "q135_ann_pq_adc", "q136_ann_pq_rerank",
    // z-order clustered layout (range-partition + in-partition sort,
    // no global sort at the writer) and the CDC merge (max-struct
    // partial agg, ONE full-outer equi-join, no window)
    "q137_zorder_key", "q144_cdc_apply",
    // retrieval evidence: BM25's pre-groupBy vocabulary filter
    // (shuffle = matching postings), broadcast df/query grid,
    // decimal-sum scores, WindowGroupLimit top-k; the incremental
    // index (union of stored + delta postings, same downstream plan);
    // the hybrid fusion (two top-k arms, full-outer on narrow ids);
    // and the group-MinHash source matrix (partial-min merge,
    // |sources|×K shuffle)
    "q146_bm25_topk", "q148_hybrid_rrf", "q149_bm25_incremental",
    "q150_source_similarity",
    // canonical keeper: the max-struct election over cluster labels
    "q147_canonical_keeper",
    // degree-oriented triangle wedge-close (equi-joins only) and the
    // broadcast two-stage anomaly rollup
    "q151_triangles", "q152_rate_anomaly",
    // IVF-PQ: the composed index plans PURE equi-joins (the cell
    // survivor grid replaces flat-PQ's all-pairs broadcast BNLJ)
    "q153_ann_ivfpq",
    // round-10 evidence: the store-served IVF-PQ retrieve (frozen
    // models collected once; coarse store + code store equi-joined,
    // ADC off stored codes, re-rank fetches shortlist vectors from
    // the store — no training, no re-encode in the serve plan) and
    // the six-stage curation capstone (every stage's scale spelling
    // composed: session-cached components, broadcast Bloom, two-pass
    // prefix-sum packing — one pipeline, no cartesian anywhere)
    "q154_ann_ivfpq_store", "q155_curation_capstone",
    // the DSIR broadcast-weight score pass (TakeOrdered top-k, no
    // window), the Bloom-probed contamination span join, and the
    // span-dedup rewrite's window-free canonical election — each
    // pinned programmatically in PlanSpec, dumped here for reading
    "q156_dsir_selection", "q158_contamination_spans",
    "q159_span_dedup_rewrite",
    // the join-free manifest fan-out and the CDC-shaped release diff
    "q157_scaling_subsamples", "q160_release_delta",
    // hard-negative mining: q34's bounded anchor broadcast + filters
    "q161_hard_negatives",
    // late round-10 evidence: the KMV sketch build (WindowGroupLimit
    // partial top-K before the per-scope exchange; pair stage over
    // |scopes|²·K rows with the allowlisted model-sized scope BNLJ),
    // the rarity profile's dictionary equi-join, the drift audit's
    // scan → 3-way projection union → bin-sized aggs, the ER
    // pipeline (length-band dictionary broadcast, components over
    // the match-output-sized pair list) + its O(Δ) twin, and the
    // column-stats pass (column-pruned projection union, two-stage
    // distinct, bottom-K rank)
    "q163_rare_token_profile", "q164_kmv_set_ops",
    "q165_filter_drift_audit", "q166_entity_resolution",
    "q167_incremental_er", "q168_column_stats",
    // session-end evidence: the temperature mixture's broadcast
    // rate table, the mergeable-stats lifecycle, and the two
    // feature-prep broadcast-cut assignments
    "q169_temperature_mixture", "q174_incremental_column_stats",
    "q175_quantile_binning", "q176_group_zscore",
    // round-11 evidence: the similarity top-k rewrite gate (served
    // plan materialized under registration — see note), the unblocked
    // ER audit (the SAME dictionary × length-band metric as q166 with
    // only the recovery join's brand key dropped — no nested loop
    // appears), and the log₂-bucket sketch (bit-length bucketing in
    // the scan projection; ALL rollup aggregates sketch ROWS only)
    "q178_simtopk_rewrite", "q180_er_blocking_audit",
    "q181_log_quantile_sketch",
    // round-12 session-2 evidence: URL curation's LINEAR two-window
    // plan — each canonicalization regex evaluated once, keeper flag
    // a min-over-canon window, cap rank partitioned by
    // (domain, is_keeper); the groupBy+join-back spelling it replaced
    // duplicated the regex tree across four branches (4x wall)
    "q186_url_curation",
    // round-13 evidence: the copy-on-write delete's final table read
    // (pruned-file carry happens at commit; the read is a plain
    // pinned scan) and the reconstructed CDF (per-version union;
    // the delete arm's O(touched-files) exceptAll)
    "q195_table_delete", "q197_table_changes",
    // round-15 evidence: the deletion-vector read (the DV'd files'
    // scan anti-joined against the broadcast position sidecars,
    // unioned with the untouched files' plain scan — the plain arm's
    // vectorized path unchanged)
    "q203_table_delete_dv",
    // round-15 assembly family: the O(Δ) incremental conversation
    // rebuild (broadcast anti-join carries untouched users from the
    // pinned store read; only the touched users' events re-assemble;
    // keeper re-election is one sessions-sized window)
    "q209_sft_incremental")

  /** Context lines emitted under a query's heading — for plans whose
    * interesting structure is NOT visible in the final explain (e.g. a
    * materialization boundary hides the upstream stages). */
  val notes: Map[String, String] = Map(
    "q60_token_packing" -> ("The plan starts at a `Scan ExistingRDD`: the two-pass " +
      "distributed prefix sum (PrefixSum.scala) materializes per-partition totals, then " +
      "mapPartitionsWithIndex adds the broadcast offsets — the upstream scan/filter plan " +
      "ran as pass 1 and is the q24 token-count shape."),
    "q155_curation_capstone" -> ("Only the final packing/manifest stage is visible below " +
      "the `Scan ExistingRDD` prefix-sum boundary (q60's shape). The five upstream stages " +
      "run inside the materialized frame and each has its own evidence section: quality " +
      "battery (q132-shape conditional aggs), near-dup canonical keepers (q31/q147: banded " +
      "LSH equi-joins + max-struct election over session-cached components), SemDeDup " +
      "pruning (q119: inlined-quantizer map-side assignment), Bloom decontamination " +
      "(q129: broadcast Bloom probe, no join), mixture rebalance (q130: integer-exact " +
      "acceptance, one groupBy). No cartesian/BNLJ anywhere in the composition — " +
      "PlanSpec's engine-wide assert covers every stage."),
    "q178_simtopk_rewrite" -> ("The gate materializes the REWRITTEN plan under its store " +
      "registration, then unregisters — so the dump starts at the checkpoint's `Scan " +
      "ExistingRDD`. The substituted plan itself (store cell equi-joins + kth-best " +
      "threshold + bound-pruned exact rank, replacing the brute broadcast-NLJ + full " +
      "window) is plan-asserted in RewriteSimTopKSpec, which also pins the decline " +
      "shapes; the identical-output proof is exactTopKFromStoreModel's scaladoc."))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of headline queries (auto-generated by graft.Plans)\n\n"
    sb ++= "Evidence the declarative pipelines compile to scale-shaped physical\n"
    sb ++= "plans: pushed filters + pruned read schemas on scans, broadcast hash\n"
    sb ++= "joins for dim/key sides, TakeOrderedAndProject top-k, two-phase\n"
    sb ++= "aggregates, `*(n)` whole-stage-codegen spans. PlanSpec asserts the\n"
    sb ++= "critical properties in CI; this file is the readable dump (sf0.001).\n"
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n"
      notes.get(name).foreach(n => sb ++= s"$n\n\n")
      sb ++= s"```\n$plan```\n"
    }
    // appendix: the plan RewriteSimTopK SUBSTITUTES for the brute
    // spelling (q178's gate materializes it behind a checkpoint, so
    // it is invisible there) — store cell equi-joins, the kth-best
    // threshold, bound-pruned pairs, exact rank; no BNLJ, no
    // corpus-wide window
    locally {
      import org.apache.spark.sql.functions.col
      val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val cent = graft.analytics.Similarity.kmeansCentroids(e, 16, 1)
        .localCheckpoint(true)
      val store = graft.analytics.Similarity.kmeansAssign(e, cent)
        .localCheckpoint(true)
      val served = graft.analytics.Similarity.exactTopKFromStoreModel(
        e.filter(col("vec_id") < 10), store,
        graft.analytics.Similarity.collectModel(cent),
        graft.analytics.Similarity.cellRadii(store, cent), 10)
      sb ++= "\n## appendix: the plan RewriteSimTopK substitutes (exactTopKFromStoreModel)\n\n"
      sb ++= "q178's gate materializes this under its registration and returns a\n"
      sb ++= "checkpoint, so the gate dump above cannot show it; this is the served\n"
      sb ++= "plan itself over the sf0.001 store. Inlined-literal centroid arrays are\n"
      sb ++= "elided by explain's formatting; the structure to read: TWO store scans\n"
      sb ++= "(pass-1 threshold, final rank) each cell-equi-joined against a\n"
      sb ++= "broadcast query-side frame, the kth-best window over pass-1 candidates\n"
      sb ++= "only, the bound filter on (query, cell) pairs, and WindowGroupLimit\n"
      sb ++= "partial/final around the last per-query rank — no BNLJ, no corpus-wide\n"
      sb ++= "window, no join whose build side scales with the corpus.\n\n"
      sb ++= s"```\n${served.queryExecution.explainString(ExplainMode.fromString("formatted"))}```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} queries + simtopk appendix)")
    spark.stop()
  }
}
