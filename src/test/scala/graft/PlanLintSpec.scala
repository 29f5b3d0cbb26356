package graft

import scala.util.Try

/** Blanket physical-plan lint over EVERY registered query: the two
  * silent scale-killers — an unconstrained CartesianProduct, or a
  * BroadcastNestedLoopJoin that was not an intentional
  * broadcast-cross — fail the build, not the 100 TB run.
  *
  * The allowlist names the queries whose DESIGN is a broadcast cross
  * (a provably tiny side replicated against a scan: ANN query/probe
  * lists, the fuzzy-join string scorer, PageRank's 1-row node count).
  * Anything new that plans a nested loop must either justify itself
  * here or fix its join keys. */
class PlanLintSpec extends SparkSpec {

  private val bnljAllowed: Set[String] = Set(
    // ANN family: queries/probes/LUTs broadcast against the corpus scan
    "q_ann_topk", "q_ann_ivf", "q_ann_ivf_trained", "q_ann_pq",
    "q_ann_ivf_pq", "q_ann_kmeans", "q_ann_filtered", "q_ann_rerank",
    "q_ann_dedup",
    // stored-index serving: same probe-list broadcast cross as
    // q_ann_rerank (queries x |C| centroids), stage 1 scans the
    // persisted codes table (q_ann_upsert adds the delta segment)
    "q_ann_serve", "q_ann_upsert",
    // segment merge: same serve plan as q_ann_upsert over the single
    // consolidated segment
    "q_ann_merge",
    // lifecycle recall certificate: two stored serves (q_ann_serve's
    // probe-list cross) + two brute truths (bruteTopK's query
    // broadcast) + the 1-row n_exact aggregate crossed into each
    // recall row — every nested loop a bounded broadcast by design
    "q_ann_lifecycle_recall",
    // late-interaction MaxSim: the query set broadcasts against the
    // corpus scan (bruteTopK's cross)
    "q_multi_vector",
    // scalar quantization: quantized query codes broadcast against
    // the corpus code scan + the two exact-truth harness crosses
    "q_ann_sq",
    // graph ANN: the O(1)-sized top layer's broadcast cross, the
    // query-frontier broadcast per greedy hop, and the 1-row
    // accounting-aggregate crosses of the output rows
    "q_ann_hnsw",
    // the ef sweep: the same frontier-broadcast shape as q_ann_hnsw
    // (state keyed by ef) + per-ef 1-row accounting crosses
    "q_ef_curve",
    // deletion propagation: the serve tiers' probe-list crosses plus
    // the per-segment 1-row audit aggregates crossed into one row
    "q_ann_delete",
    // erasure flagship: per-stage 1-row accounting aggregates crossed
    // into each tier's row (the flagship accounting convention)
    "q_forget_pipeline",
    // version diff: the three 1-row added/removed/common aggregates
    // crossed into one diff row per version pair
    "q_time_travel_diff",
    // fuzzy-join primitive: deliberate bounded broadcast cross
    "q_string_sim",
    // 1-row aggregates crossed into every node's teleport term
    "q_pagerank", "q_pagerank_scale",
    // 1-row scalar aggregates broadcast-crossed into a scan (the
    // scalar-subquery pattern): max-date cutoff, corpus doc count,
    // corpus-wide BM25 stats, CDC cutoff timestamp, total mix weight
    "q_window_filter", "q_tfidf", "q_bm25", "q_cdc_apply",
    "q_temperature_mix",
    // perplexity LM: the 1-row vocab-size aggregate crossed into the
    // distinct-bigram model table (smoothing denominator)
    "q_perplexity",
    // signal agreement: embeds q_perplexity's vocab cross
    "q_signal_corr",
    // CUSUM: the 1-row mean and threshold aggregates crossed into the
    // |days|-row frame
    "q_cusum",
    // changepoint: the 1-row mean and the 1-row argmax split crossed
    // into the |days|-row frame
    "q_changepoint",
    // delete cascade accounting: each table's 1-row total crossed with
    // its 1-row deleted aggregate (three 1x1 crosses)
    "q_delete_propagate",
    // Neyman allocation: the 1-row total-weight aggregate crossed into
    // the |strata|-row frame
    "q_neyman_alloc",
    // class weights: the 1-row (total weight, class count) aggregate
    // crossed into the |langs|-row frame
    "q_class_weights",
    // quantile normalization: the 1-row reference-count aggregate
    // crossed into the source scan
    "q_quantile_norm",
    // data card: the 1-row corpus-totals aggregate crossed into the
    // |langs|-row composition frame
    "q_data_card",
    // bootstrap CI: the 1-row full-sample mean crossed into the 1-row
    // percentile fold
    "q_bootstrap_ci",
    // PSI: the 1-row reference-decile array and 1-row reference count
    // crossed into the cohort scan / the 10-row bin grid
    "q_psi",
    // Kaplan-Meier: the 1-row user total and the 1-row step-array
    // crossed into the bounded event-time grid
    "q_survival",
    // vocab curve: the 1-row (total, n_vocab) aggregate crossed into
    // each swept point's ≤32-row coverage fold
    "q_vocab_coverage",
    // calibration: the 1-row decile-edge array crossed into the scan
    "q_calibration",
    // PR curve: the ≤9-row threshold list replicated against the
    // score-domain-bounded histogram (non-equi s > thr), plus the
    // 1-row positive-total cross — two bounded frames by design
    "q_pr_curve",
    // PMI: the 1-row token/bigram totals crossed into the
    // distinct-bigram model table
    "q_pmi",
    // hybrid retrieval: the dense channel is q_ann_topk's broadcast
    // query cross; the lexical channel crosses the 1-row BM25 stats
    "q_hybrid_retrieval",
    // MIPS: q_ann_topk's broadcast query cross + the 1-row max-norm
    "q_ann_mips",
    // MMR: the pool stage is q_ann_topk's broadcast query cross
    "q_mmr_rerank",
    // recall harness: every ANN tier's broadcast query cross + the
    // 1-row brute-count accounting cross
    "q_ann_recall",
    // Matryoshka curve: per-dim q_ann_topk broadcast query crosses +
    // the 1-row truth-count accounting cross
    "q_mrl_curve",
    // NDCG harness: the brute baseline's broadcast query cross (the
    // graded-relevance side) + q_ann_rerank's probe cross
    "q_ndcg",
    // nProbe sweep: the brute baseline's query cross + q_ann_ivf's
    // probe cross per swept point
    "q_nprobe_curve",
    // RAG-indexing flagship: per-stage 1-row accounting aggregates
    // crossed into the 4-row result
    "q_rag_pipeline",
    // sketch rollup: the 1-row global-tier sketch crossed into the
    // 1-row exact-global aggregate
    "q_sketch_rollup",
    // RFM: the 1-row "today" (max purchase date) aggregate crossed
    // into the |users|-row frame
    "q_rfm",
    // A/B test: the 1-row median-conversion-bar aggregate crossed
    // into the |users|-row frame
    "q_abtest",
    // journey flagship: per-stage 1-row accounting aggregates crossed
    // into the 4-row result
    "q_journey_pipeline",
    // bloom FPR contract: two 1-row count aggregates crossed into the
    // single summary row
    "q_bloom_fpr",
    // association rules: the 1-row basket-count aggregate crossed
    // into the bounded (support-filtered) rule table
    "q_assoc_rules", "q_assoc_rules_scale",
    // Benford screen: the 1-row total-count aggregate crossed into
    // the 9-row digit table
    "q_benford",
    // KS test: the ≤|langs|-row cohort list broadcast-crossed into
    // the reference cohort (bounded replication by design)
    "q_ks_test",
    // corpus-pipeline flagship: q_temperature_mix's 1-row total-weight
    // cross, redeployed over the funnel survivors
    "q_corpus_pipeline",
    // epoch mixing: the same 1-row totals aggregate crossed into the
    // |sources|-row weight table
    "q_epoch_mix",
    // z-order layout + its data-skipping planner: the 1-row
    // (max_x, max_y) grid-scaling aggregate broadcast-crossed into
    // the scan
    "q_zorder_layout", "q_zorder_prune",
    // NB classifier: 1-row vocab/doc-total aggregates crossed into
    // the |langs|-row model, and the 5-row model params crossed into
    // every scored doc (per-doc per-class base score)
    "q_nb_classify",
    // the salting demo: the SMALL build side replicated ×8 by a
    // range cross — the technique under test
    "q_join_salted",
    // |sources|² sketch-pair cross over KB-sized KMV rows — the
    // set-arithmetic stage is deliberately pair-wise
    "q_kmv_overlap",
    // quality-filter sweep: the 1-row totals aggregate crossed into
    // the bounded (<=101-row) quality-grid curve
    "q_quality_filter_sweep",
    // curriculum: the 3-row epoch grid crossed into the <=4-row
    // quality-band histogram
    "q_curriculum",
    // data-card diff: the 1-row cohort totals crossed into the
    // |langs|-row comparison frame
    "q_data_card_diff",
    // dedup yield: two 1-row counts crossed into the singleton row
    "q_dedup_yield",
    // anisotropy: the 1-row (s2, t) fold crossed with the 1-row
    // top-dimension row
    "q_embed_anisotropy")

  /** Queries whose partition-less logical Windows run over frames
    * BOUNDED by a domain, not the corpus — the only shape where a
    * single-partition window is the right plan at any scale. Anything
    * new that windows without a partition spec must either justify
    * its bound here or use `graft.ops.Ranks`. */
  private val boundedWindowAllowed: Set[String] = Set(
    // running negative count over the quantized score DOMAIN
    "q_auc",
    // mean/threshold folds over the |days| date grid
    "q_cusum",
    // global lag over the post-aggregation |days| frame
    "q_daily_sums",
    // phase-2 sweep over the per-partition skyline SURVIVORS
    // (output-proportional union of local fronts, never the corpus)
    "q_skyline",
    // risk-set suffix over the ≤horizon event-time grid
    "q_survival",
    // rank over the 32-row TakeOrdered frame (lit partition spec
    // constant-folds away in the optimizer)
    "q_vocab_coverage",
    // cumulative survivors over the [0,100]-bounded quality grid
    "q_quality_filter_sweep",
    // rank + total over the 64-row per-dimension variance frame
    "q_embed_anisotropy")

  /** Each registered query built once at sf0.001 and shared by both
    * lints: the number of partition-less Windows in its optimized plan
    * and its executed plan's text, each or what stopped it. */
  private lazy val plans: Seq[(String, Try[Int], Try[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val qe = Try(fn(spark, sf0001).queryExecution)
        val bare = qe.map(_.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size)
        (name, bare, qe.flatMap(q => Try(q.executedPlan.toString)))
      } finally graft.ops.SideCache.releaseAll()
    }

  test("partition-less windows appear only over bounded domains (allowlisted)") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    plans.foreach { case (name, windows, _) =>
      val bare = windows.get
      if (bare > 0 && !boundedWindowAllowed(name))
        offenders += s"$name: $bare partition-less Window(s)"
    }
    assert(offenders.isEmpty,
      "unallowlisted single-partition windows (use graft.ops.Ranks or " +
        "justify the bound):\n" + offenders.mkString("\n"))
  }

  test("no registered query plans a cartesian product; nested loops only by design") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    plans.foreach { case (name, _, executed) =>
      val plan = executed.fold(
        e => fail(s"$name failed to plan: ${e.getMessage}"), identity)
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: BroadcastNestedLoopJoin (not allowlisted)"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
