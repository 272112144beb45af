package graft

/** Prints formatted physical plans for representative queries — the
  * scale-readiness audit (SURVEY.md §4): filter/projection pushdown into
  * the parquet scan, broadcast vs sort-merge join selection, partial
  * aggregation, TakeOrderedAndProject for top-k, WholeStageCodegen spans.
  * Run: sbt "runMain graft.ExplainAudit [sfDir]" */
object ExplainAudit {
  val audited = Seq(
    "q_scan_project", "q_filter_pred", "q_agg_pricing_summary",
    "q_join_broadcast", "q_join_shuffle", "q_sort_limit",
    "q_win_topk_group", "q_dedup_near", "q_sim_cosine_topk",
    "q_stream_tumbling",
    // round 2: restructured / new scale-path queries
    "q_dedup_minhash", "q_dedup_embed_lsh", "q_text_search_bm25",
    "q_agg_approx_distinct_kmv", "q_sim_knn_label",
    // (q_pipeline_curate is excluded: building it RUNS the iterative
    // cluster computation, so the audit would no longer be explain-only.
    // A lesser degree of the same applies to the dictionary-backed
    // entries below — q_dedup_minhash / q_dedup_simhash_pairs /
    // q_dedup_embed_lsh execute the one-time vocab build (zipWithIndex
    // offset pass + sizing count) and cache persists during plan
    // construction; accepted here so their band-join physical plans,
    // the scale-relevant part, stay in the audit.)
    "q_dedup_simhash_pairs", "q_text_chunk_dedup",
    "q_stream_interval_join",
    // round 3: subquery decorrelation, bloom prefilter (builds the bloom
    // during plan construction — same accepted caveat as the vocab
    // builds above), broadcast-set decontamination, chained-window
    // funnel, lateral top-k, quantization
    "q_subquery_mix", "q_lateral_topk", "q_join_bloom",
    "q_text_decontaminate", "q_events_funnel", "q_embed_quantize",
    // round-3 late: k-means (per-round centroid LocalRelations — the
    // collect is part of plan construction, same caveat as the bloom),
    // single-scan date spine, window-total split census
    "q_ann_kmeans", "q_date_spine", "q_sample_split",
    // pin the advertised plan shapes: packing = NO single-partition
    // window (distributed prefix sum; its offsets collect runs during
    // plan construction, same caveat as kmeans/bloom), perplexity =
    // broadcast LM join, no corpus re-shuffle
    "q_text_pack", "q_text_perplexity",
    // round-3 late: skew-salted join (replicated dim, no hot reducer),
    // bucketed interval blocking (equi-join + residual, not BNLJ),
    // TPC-H Q3 composite (broadcast dim + pushed filters + top-k),
    // SCD2 (all windows share ONE user_id Exchange)
    "q_join_salted", "q_join_range_bucket", "q_tpch_shipping",
    "q_events_scd2",
    // round-3 close: inverted-index pair generation (sparse MLT), the
    // PageRank iteration shape, lift-ranked rule mining over the shared
    // co-purchase cache (cache persists are lazy — explain-only safe)
    "q_sim_sparse_topk", "q_graph_pagerank", "q_basket_rules",
    // round-3 continuation: the skyline window pair (no self-join), the
    // wedge-join link predictor, Q18's having-semi-join, ABC's bounded
    // census window, attribution's user-keyed band join, the one-pass
    // stats family, the Gram-matrix PCA pass (collects the 4096-cell
    // Gram during plan construction — same caveat as kmeans), and the
    // LSH recall composition
    "q_skyline", "q_graph_link_jaccard", "q_tpch_q18", "q_abc_analysis",
    "q_events_attribution", "q_stats_ttest", "q_stats_chisq",
    "q_customer_rfm", "q_events_rolling_uniques", "q_dedup_containment",
    "q_text_keywords", "q_embed_drift", "q_eval_lsh_recall",
    // round-3 batch: the 6-table Q5 star (broadcast chain + residual
    // local filter), z-order bit-spread projection, layered BFS reach,
    // hard-negative broadcast scoring, incremental dedup's cross-batch
    // filter placement, left-outer interval join, span dedup's stacked
    // lead() single pass, FK-audit's one-join-per-edge shape
    "q_tpch_q5", "q_layout_zorder", "q_graph_reach",
    "q_sim_hard_negatives", "q_dedup_incremental", "q_stream_left_join",
    "q_text_span_dedup", "q_quality_fk_audit",
    // round-3 session 3: OHLC's single hash aggregate (min_by bars, no
    // window), the mergeable histogram-quantile cells, BPE's vocab-sized
    // pair explosion, backlog's event-ified census prefix sum, count-min
    // sketch cells (map-side combinable), RAG chunking (projection-only
    // until the output sort), JL projection (broadcast plane matrix),
    // rendezvous sharding's doc-keyed argmax
    "q_events_ohlc", "q_agg_histo_quantile", "q_text_bpe_pairs",
    "q_orders_backlog", "q_text_count_min", "q_text_rag_chunks",
    "q_vec_project", "q_shard_rendezvous",
    // round-3 session 4: Q6's everything-pushed scan-aggregate, Q8's
    // double-broadcast-chain + semi-join share, Q13's left-join
    // histogram, Q15's round-then-max broadcast-back, the
    // interpolation spine's two IGNORE-NULLS window passes, growth
    // accounting's ONE user_id Exchange feeding both lag and lead, the
    // jackknife's single fold aggregate, Theil-Sen's calendar-bounded
    // pair join, and the EWMA's 14 stacked lags sharing one WindowExec.
    // (q_graph_kcore is EXCLUDED for the q_pipeline_curate reason:
    // constructing it eager-localCheckpoints the full edge list through
    // 3 peel rounds — real whole-graph jobs, not an explain.)
    "q_tpch_q6", "q_tpch_q8", "q_tpch_q13", "q_tpch_q15",
    "q_events_interpolate", "q_events_growth_acct",
    "q_stats_jackknife", "q_stats_theil_sen", "q_stats_ewma",
    // session 4 late: Q19's one-residual-OR-filter, Q22's anti join,
    // the bootstrap's single replicated pass, LTV's bounded cohort
    // cumsum, the shared-probe recall audit
    "q_tpch_q19", "q_tpch_q22", "q_stats_bootstrap",
    "q_events_cohort_ltv", "q_eval_ivf_recall",
    // the knn vote (broadcast pass + two windows) and the skew
    // profile's chained aggregates
    "q_vec_label_noise", "q_quality_skew_audit",
    // round 4: the PartitionFilters-pruned partitioned read (layout is
    // materialized during plan construction — PartitionedLayout caveat,
    // as for the vocab/bloom builds), exact-decimal aggregation, the
    // distributed-ntile RFM/gini/ks shapes (their bounded offset
    // collects run during plan construction — Dist caveat, as for
    // q_text_pack), and the stratified distributed ntile
    "q_layout_partition_prune", "q_agg_decimal", "q_stats_gini",
    "q_stats_ks", "q_win_ntile",
    // round 6: SemDeDup's cid-keyed broadcast pair join (the
    // IVF-partition-local dedup shape; its kmeans trainer collects the
    // bounded centroid table during plan construction — kmeans caveat),
    // DSIR's broadcast LLR-table join (no corpus re-shuffle), and the
    // repetition-weight size census over the shared cluster cache
    "q_dedup_semantic", "q_sample_dsir", "q_sample_rep_weight",
    // round-6 close: keep-best's cluster-partitioned window over the
    // cluster-cache × quality-stats join, and the leakage-free group
    // split's left join + hash aggregate (cluster cache caveat — the
    // component propagation runs during plan construction)
    "q_dedup_keep_best", "q_sample_split_leakfree",
    // round-6 session 2: the watermark audit's range-shuffled prefix-max
    // (Dist caveat — its bounded per-partition-max collect runs during
    // plan construction), the global-shuffle rank (same caveat), and the
    // sampled-quantile eval's TakeOrderedAndProject + broadcast-audit
    // join
    "q_events_lateness", "q_sample_global_shuffle",
    "q_eval_quantile_sample",
    // token budget's bounded (source × band) aggregate + broadcast total,
    // and the snapshot diff's full-outer equi-join + 4-row status census
    "q_text_token_budget", "q_text_dataset_diff",
    // the fuzzy join's block-key equi-join (never name × name) +
    // per-record resolution window
    "q_join_fuzzy",
    // PQ assignment: 256-row broadcast codebook join + map-side partial
    // distance aggregate + per-(vec, subspace) window (the round-1
    // codebook collect runs during plan construction — kmeans caveat);
    // the recall audit's ADC = broadcast 32-row query-distance table
    // joined to codes, never vector × vector
    "q_embed_pq", "q_eval_pq_recall",
    // vocab drift: two token hash-aggregates → |vocab| full-outer join
    // + broadcast totals
    "q_text_vocab_drift",
    // the custom whole-operator path: TopKPerGroupExec (bounded per-group
    // heap) in place of WindowExec after the same group-key exchange
    "q_win_topk_native",
    // round-6 session 4: the rank tests' prefix-sum shape (Dist caveat —
    // bounded per-partition offset collects run during plan
    // construction), Mann-Kendall's |days|-bounded pair census, the
    // per-node wedge-join clustering coefficient, the 1-in-5-sample
    // broadcast pair joins of the calibration + JL-distortion audits,
    // and the (user, type)-partitioned interarrival lag.
    // (q_graph_hits is EXCLUDED for the kcore reason: each
    // half-iteration eager-localCheckpoints its score frame.)
    "q_stats_mannwhitney", "q_stats_kruskal", "q_stats_mann_kendall",
    "q_graph_clustering", "q_vec_calibration", "q_eval_rp_distortion",
    "q_events_interarrival",
    // session-4 continued: Spearman's two rank joins, the DQ gate's five
    // bounded count aggregates, the micros-quantized per-dim moment
    // pass, the bounded S-curve/fertility censuses, the aHash double
    // aggregate, the tolerance-banded asof argmax, the
    // survival/logrank/compaction sequential folds over bounded
    // censuses, and the split-corpus MRR join
    "q_stats_spearman", "q_quality_dq_gate", "q_embed_erank",
    "q_dedup_lsh_planner", "q_text_fertility", "q_multimodal_phash",
    "q_join_asof_tolerance", "q_events_survival", "q_events_logrank",
    "q_layout_compaction_plan", "q_text_suggest_eval",
    // round-6 session 5: the MG heavy-hitter shape (shuffle-free
    // mapPartitions candidate pass → semi-join → exact recount), the
    // map-side-combinable bit_or bitmap-distinct words, SymSpell's
    // delete-variant equi-join (candidates, never |q|×|vocab|), the
    // Hilbert/Morton curve folds feeding the same exact-ntile audit
    // (Dist caveat), CUPED's one user-keyed aggregate + two bounded
    // moment frames, windowFunnel's user-keyed band joins, the RA
    // index's weighted wedge join, and the runs/ANOVA/holt bounded
    // census folds
    // (q_events_markov_stationary is EXCLUDED for the hits/kcore
    // reason: its |types|²-row P frame localCheckpoints eagerly so the
    // 4 πP iterations don't each replay the corpus lag pass.)
    "q_events_heavy_hitters", "q_agg_bitmap_distinct",
    "q_text_symspell", "q_layout_hilbert", "q_stats_cuped",
    "q_events_window_funnel", "q_graph_ra_index", "q_stats_runs_test",
    "q_stats_anova", "q_events_holt", "q_events_seq_support",
    "q_stats_power", "q_join_asof_nearest", "q_stats_granger",
    // session-5 close: the census+cumulative-rank exact quantile (the
    // percentile()-buffer replacement) and the multimodal 2x2 pooling
    // projection. (q_text_bpe_train/encode are EXCLUDED for the
    // hits/markov reason: census + per-round winners localCheckpoint.)
    "q_agg_quantile_dist", "q_multimodal_resize",
    // round 7: RRF's full-outer fuse of two 20-row arm frontiers,
    // NDCG's broadcast query scoring + per-qid windows, kappa's
    // |labels|²-census reductions over the shared prediction pass, the
    // BH family's bounded ECDF/step-up windows, the bigram LM's in-row
    // pair enumeration + broadcast LM joins, and the KMV merge's
    // (type, day)-bounded sketch-state windows.
    // (q_ann_ivfpq and q_text_quality_classifier/q_eval_ece are
    // EXCLUDED for the kmeans reason: constructing them trains the
    // quantizers / runs the GD collects.)
    "q_search_rrf", "q_eval_ndcg", "q_eval_kappa", "q_stats_bh",
    "q_text_perplexity_bigram", "q_agg_kmv_merge",
    // round-7 session 2: the DECIMAL(38,0) exact power-sum moments, the
    // TakeOrdered 501-row Hill tail frontier, LLR's bigram census +
    // broadcast margins, the landmark BFS closeness lanes (the reach
    // layering, one lane per landmark), the wedge anti-join local
    // bridges, the per-asset lag/zip_with scene-cut pass, the probe
    // sweep's one-scored-frame three-rank-cuts shape, the CMS rebuild's
    // |vocab|-bounded audit join, and max_by over the injective
    // ordering value.
    // (q_sim_mmr and q_eval_cluster_purity are EXCLUDED for the kmeans
    // reason: constructing them pins bounded LocalRelations / runs the
    // Lloyd collects.)
    "q_stats_moments", "q_stats_hill_tail", "q_text_llr",
    "q_graph_closeness", "q_graph_local_bridges",
    "q_multimodal_scene_cut", "q_eval_probe_sweep", "q_eval_cms_error",
    "q_agg_argmax", "q_stats_rate_ratio", "q_stats_kendall_tau",
    "q_stats_wilcoxon", "q_text_readability",
    // round-7 session-2 close: the banded phash hamming join
    // (bit_count(xor) verify, first-collision emission), the SCD2
    // point-in-time join (equi user key + interval residual), the
    // equi-depth histogram (Dist caveat — bounded offset collects run
    // during plan construction), the sign-bit code build + hamming
    // rank of the binary-recall audit, and the two-flag Chapman census
    "q_multimodal_phash_hamming", "q_join_temporal", "q_agg_equi_depth",
    "q_eval_binary_recall", "q_stats_capture_recapture",
    // round-7 session 3: the KS-family shared ECDF censuses feeding
    // Holm's step-down cummax, the daily-OLS residual frame (exact long
    // moments, one broadcast) shared by DW/BP/Cook's, Jarque-Bera's
    // power-sum census, the lag-spine PACF join, Cochran-Armitage's
    // 5-cell FILTER census, the QI partition's three hash aggregates
    // (k-anon; l-diversity adds the exact-integer spend-band census),
    // the seeded-Laplace release's distinct agg + 1-row broadcast, the
    // leave-fold-out target-encode census + m-estimate shrink, WoE/IV's
    // census + ordered fold, Pettitt's twice-midrank prefix sums (Dist
    // caveat), and the ceiling-decile lift cuts over the cached scorer.
    // (q_eval_ks_score / q_eval_lift_gains / q_eval_calibration_slope
    // are qclf consumers — the cached train's GD collects run during
    // plan construction, kmeans caveat; lift/ks included anyway since
    // their Dist cut shapes are the scale-relevant part.)
    "q_stats_holm", "q_stats_dw", "q_stats_breusch_pagan",
    "q_stats_jarque_bera", "q_stats_pacf", "q_stats_cochran_armitage",
    "q_stats_cooks_distance", "q_privacy_k_anon",
    "q_privacy_l_diversity", "q_privacy_dp_count",
    "q_ml_target_encode", "q_ml_woe_iv", "q_stats_pettitt",
    "q_eval_lift_gains", "q_eval_ks_score",
    // session-3 continued: DiD's 4-cell exact census pivot, the
    // exponential mechanism's bucket-census Gumbel-max argmax (Dist
    // caveat), mSPRT's 4-column day prefix sums + micros prefix-max
    // (Dist caveat), ESS's clipped micro-weight moment aggregate over
    // the shared DSIR chain, the slice audit's dimension join + slice
    // census, and the calibration slope's exact p-micros OLS moments
    // (the last three are qclf consumers — kmeans caveat).
    "q_stats_did", "q_privacy_dp_quantile", "q_stats_msprt",
    "q_sample_ess", "q_eval_slice_audit", "q_eval_calibration_slope",
    // session-3 close: the clip-then-noise DP sum's per-user aggregate
    // + 1-row release, and Fisher's type-ordered −2Σln p fold over the
    // shared KS family censuses
    "q_privacy_dp_sum", "q_stats_fisher_combine",
    // round 8: HITS and assortativity join the audit — the
    // ExplainPlansOnly hook hands back their unexecuted plans (they
    // were excluded while construction eager-checkpointed; kcore/lpa
    // stay excluded, their loops checkpoint unconditionally)
    "q_graph_hits", "q_graph_assortativity")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local("ERROR")
    // optional args after sfDir restrict the audit to those keys (any
    // registry key, not just the curated list) for local iteration
    val only = args.drop(1).toSet
    val names =
      if (only.isEmpty) audited
      else SparkEntry.queries.keys.filter(only).toSeq.sorted
    // Audit-only: the noAqeCheckpoint keys (closeness/reach/
    // assortativity/hits) otherwise materialize during construction
    // and explain as a bare ExistingRDD scan — this flag makes them
    // hand back the unexecuted plan so the audit shows the real
    // BFS/wedge shapes (at execution the scope + checkpoint apply).
    operators.GraphOps.ExplainPlansOnly = true
    // same hook for the round-11 nearPairs session artifact: without it
    // q_dedup_near explains as an InMemoryRelation and the ceiling-flip
    // branch below would read the cache instead of re-planning
    operators.TextOps.ExplainPlansOnly = true
    // Round-11 caveat for the other session artifacts (centroidPred,
    // dailyCensus/dailyTypeCensus, ksFamily, pairOverlaps,
    // retrievalRanked, dsirScores, wedgeCn): audited consumer keys
    // (kappa, ndcg, dsir/ess, bh/holm/fisher, mann_kendall & the
    // time-series family, link_jaccard/local_bridges, wilcoxon,
    // kendall_tau, granger) now explain as reads of a pinned
    // LocalRelation or persisted frame — the pettitt/msprt precedent;
    // the artifact BUILD plans are the shapes audited via the builder
    // keys that construct them.
    try names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      // The two exact all-pairs baselines are ceiling-guarded (VERDICT
      // r7 item 3): below TextOps.AllPairsRowCeiling input rows the
      // deliberate CartesianProduct ground-truth branch above runs;
      // this audit also prints the banded branch the guard flips to,
      // so the dump shows no UNguarded cartesian.
      if (name == "q_dedup_near" || name == "q_dedup_containment") {
        println(s"----- $name (above-ceiling banded branch; the" +
          " CartesianProduct above is the guarded sub-ceiling" +
          " ground-truth branch) -----")
        val saved = operators.TextOps.AllPairsRowCeiling
        operators.TextOps.AllPairsRowCeiling = -1L
        try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        finally operators.TextOps.AllPairsRowCeiling = saved
      }
    }
    finally {
      operators.GraphOps.ExplainPlansOnly = false
      operators.TextOps.ExplainPlansOnly = false
    }
    spark.stop()
  }
}
