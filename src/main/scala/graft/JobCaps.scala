package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The job census and the caps it is checked against. One counting
  * primitive (`JobCounter`) serves JobCapSpec, `graft.JobCount` and the
  * Bench fleet census, so the guard and the census cannot disagree. */
object JobCaps {

  /** Job-count caps — the suite's regression guard. A key's scheduler
    * exposure is its job COUNT (BASELINE.md per-job floor: ~11-26 ms/job
    * healthy), and unlike wall time the count is config-invariant
    * (measured identical at local[2]/sf0.01 and local[32]/sf0.1) and
    * host weather cannot move it. Guarded set = the keys whose counts
    * the job work pinned down (session-cached artifacts, bounded-census
    * driver folds, iteration unrolls) plus the 20 slowest keys of
    * BENCH_r08; cap = measured + 2 (AQE may add a stage job as data
    * shifts) — a reverted fold or dropped cache costs 3-20 jobs and
    * trips the cap, while organic variance does not. Enforced by
    * JobCapSpec on every `sbt test`. Red demo:
    * GRAFT_JOBCAP_BREAK_KEY=<key> runs 3 extra one-row counts (6 jobs
    * under AQE) inside that key's counting window. */
  // Re-recorded at round-10 close from the full warm census
  // (target/jobcount_r10_final.log, fleet total 1592): every round-9
  // cap refreshed to its new measured count + 2, plus a cap for every
  // key the round-10 job work touched (caches, census-window folds,
  // lazy Dist checkpoint) so a reverted fold trips the guard.
  val jobCaps: Map[String, Int] = Map(
    "q_stats_ljung_box" -> 4, "q_eval_auroc" -> 6,
    "q_eval_pr_auc" -> 6,
    // kappa re-measured round 11 (centroidPred session artifact): 4 + 2
    "q_eval_kappa" -> 6,
    "q_stats_jackknife" -> 6, "q_eval_cluster_purity" -> 9,
    // round-11 cut keys (each measured post-cut + 2):
    "q_privacy_k_anon" -> 6, "q_privacy_l_diversity" -> 7,
    "q_vec_centroid_classify" -> 5, "q_text_langid" -> 9,
    "q_relational_division" -> 11, "q_embed_drift" -> 10,
    // round-11 dailyCensus-adopted time-series family (measured + 2;
    // ljung_box/theil_sen/mann_kendall/changepoint tightened in place):
    "q_stats_seasonal_mk" -> 9, "q_stats_autocorr" -> 5,
    "q_stats_cusum" -> 6, "q_stats_ewma" -> 4,
    "q_stats_decompose" -> 4, "q_stats_anomaly_stl" -> 5,
    "q_stats_runs_test" -> 4,
    "q_stats_granger" -> 5, "q_stats_kendall_tau" -> 5,
    "q_eval_rouge" -> 4, "q_eval_bleu" -> 4,
    "q_sample_dsir" -> 3, "q_sample_ess" -> 4,
    "q_graph_link_jaccard" -> 8, "q_graph_local_bridges" -> 8,
    "q_eval_ndcg" -> 5, "q_eval_map" -> 5,
    "q_events_markov_stationary" -> 8, "q_eval_ks_score" -> 6,
    "q_privacy_dp_quantile" -> 10, "q_sim_sparse_topk" -> 5,
    "q_text_bpe_train" -> 4, "q_text_bpe_encode" -> 4,
    "q_eval_lift_gains" -> 8, "q_graph_hits" -> 11,
    "q_layout_hilbert" -> 5, "q_layout_skipping" -> 5,
    "q_sim_mmr" -> 9, "q_multimodal_phash_hamming" -> 5,
    "q_graph_closeness" -> 9, "q_customer_rfm" -> 12,
    "q_stats_chisq" -> 7, "q_stats_cramers_v" -> 7,
    "q_stats_theil_sen" -> 4, "q_stats_levene" -> 8,
    "q_stats_dw" -> 4, "q_stats_breusch_pagan" -> 4,
    // bh/holm/fisher re-measured round 11 (pinned ksFamily census): 2 + 2
    "q_stats_bh" -> 4, "q_stats_holm" -> 4,
    "q_stats_fisher_combine" -> 4,
    // langid_eval re-measured round 11 (shared prediction frame): 9 + 2
    "q_eval_langid" -> 11, "q_ml_target_encode" -> 7,
    "q_ml_woe_iv" -> 7, "q_events_lateness" -> 9,
    "q_text_keywords" -> 4, "q_text_search_tfidf" -> 3,
    // pmi/llr re-measured round 11 (margin-table rework, ADVICE r10:
    // +2/+3 jobs traded for removing the bigram-frame global-window
    // serialization): caps = new measured (10/7) + 2
    "q_text_llr" -> 9, "q_text_pmi" -> 12,
    "q_text_perplexity" -> 7, "q_text_perplexity_bigram" -> 9,
    "q_text_pack" -> 8, "q_eval_cms_error" -> 9,
    "q_events_window_funnel" -> 14,
    // re-measured round 11 (deg_sum = 2×intra fold): 11 + 2
    "q_graph_modularity" -> 13,
    "q_graph_lpa" -> 14, "q_multimodal_block_jaccard" -> 10,
    "q_multimodal_storage_audit" -> 6, "q_dedup_prefix_filter" -> 10,
    "q_ann_ivfpq" -> 9, "q_eval_pq_recall" -> 8,
    "q_embed_pq" -> 5, "q_stats_pettitt" -> 7,
    "q_stats_cooks_distance" -> 8, "q_stats_mann_kendall" -> 7,
    "q_stats_benford" -> 5, "q_stats_psi" -> 4,
    "q_stats_changepoint" -> 4, "q_sample_neyman" -> 5,
    "q_stats_ks" -> 7, "q_stats_kruskal" -> 8,
    "q_stats_mannwhitney" -> 6, "q_stats_wilcoxon" -> 7,
    "q_abc_analysis" -> 5, "q_stats_spearman" -> 10,
    "q_events_concurrency" -> 7, "q_eval_ece" -> 5,
    "q_eval_mcnemar" -> 4, "q_eval_slice_audit" -> 6,
    "q_text_quality_classifier" -> 6, "q_eval_calibration_slope" -> 4,
    "q_stats_pacf" -> 6, "q_events_attribution" -> 6,
    "q_pipeline_mix" -> 5, "q_agg_kmv_merge" -> 12,
    // the eight slowest-20 keys that had only a wall band (sf0.01,
    // local[4], warm; measured + 2)
    "q_eval_minhash_recall" -> 6, "q_graph_reach" -> 9,
    "q_dedup_simhash_pairs" -> 8, "q_vec_label_noise" -> 6,
    "q_basket_rules" -> 9, "q_join_salted" -> 6,
    "q_graph_pagerank" -> 7, "q_join_asof_nearest" -> 6)

  /** Counts the Spark jobs submitted while it is attached. Listener
    * events post asynchronously (listenerBus.waitUntilEmpty is
    * private[spark]), so both edges of a window are drained: `reset`
    * and `get` poll until the count is stable across two consecutive
    * checks. A newly attached listener also receives queued events from
    * before the attach, which `reset` drains before zeroing. */
  final class JobCounter(s: SparkSession) extends AutoCloseable {
    private val n = new AtomicInteger(0)
    private val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(): Unit
      }
    }
    s.sparkContext.addSparkListener(listener)

    private def quiesce(): Unit = {
      var prev = -1
      var spins = 0
      while (prev != n.get() && spins < 20) {
        prev = n.get()
        Thread.sleep(50)
        spins += 1
      }
    }
    def reset(): Unit = { quiesce(); n.set(0) }
    def get: Int = { quiesce(); n.get() }
    def close(): Unit = s.sparkContext.removeSparkListener(listener)
  }

  /** Jobs and seconds of one counted run. */
  final case class Count(jobs: Int, sec: Double)

  /** Count the Spark jobs one warm run of `key` submits: an untimed
    * run first (artifact builds and codegen land outside the window),
    * then one counted, timed run. Safe in the suite because each forked
    * test JVM runs its suites sequentially, so no concurrent suite's
    * jobs can land in the window. */
  def countJobs(s: SparkSession, sfDir: String, key: String): Count = {
    val fn = SparkEntry.queries(key)
    fn(s, sfDir).count()
    val counter = new JobCounter(s)
    try {
      counter.reset()
      val t0 = System.nanoTime()
      fn(s, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sys.env.get("GRAFT_JOBCAP_BREAK_KEY").contains(key))
        (1 to 3).foreach(_ => s.range(1).count())
      Count(counter.get, sec)
    } finally counter.close()
  }
}
