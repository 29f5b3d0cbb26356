package graft

import scala.util.{Success, Try}

/** Blanket physical-plan lint over EVERY registered query: the two
  * silent scale-killers — an unconstrained CartesianProduct, or a
  * BroadcastNestedLoopJoin that was not an intentional
  * broadcast-cross — fail the build, not the 100 TB run.
  *
  * The allowlist names the queries whose DESIGN is a broadcast cross
  * (a bounded multi-row side replicated against a scan: ANN query/probe
  * lists, the fuzzy-join string scorer, the salt range). A 1-row side
  * is a scalar subquery (`Dataset.scalar()`), not a cross, unless the
  * entry below records that the subquery measured slower. Anything
  * new that plans a nested loop must either justify itself here or
  * fix its join keys; an entry whose query stops planning one is
  * dropped. */
class PlanLintSpec extends SparkSpec {

  private val bnljAllowed: Set[String] = Set(
    // ANN family: queries/probes/LUTs broadcast against the corpus scan
    "q_ann_topk", "q_ann_ivf", "q_ann_ivf_trained", "q_ann_pq",
    "q_ann_ivf_pq", "q_ann_filtered", "q_ann_rerank", "q_ann_dedup",
    // stored-index serving: same probe-list broadcast cross as
    // q_ann_rerank (queries x |C| centroids), stage 1 scans the
    // persisted codes table (q_ann_upsert adds the delta segment)
    "q_ann_serve", "q_ann_upsert",
    // segment merge: same serve plan as q_ann_upsert over the single
    // consolidated segment
    "q_ann_merge",
    // lifecycle recall certificate: two stored serves (q_ann_serve's
    // probe-list cross) + a brute truth (bruteTopK's query broadcast)
    "q_ann_lifecycle_recall",
    // late-interaction MaxSim: the query set broadcasts against the
    // corpus scan (bruteTopK's cross)
    "q_multi_vector",
    // scalar quantization: quantized query codes broadcast against
    // the corpus code scan + the exact inner-product truth's cross
    "q_ann_sq",
    // deletion propagation: the serve tiers' probe-list crosses
    "q_ann_delete",
    // fuzzy-join primitive: deliberate bounded broadcast cross
    "q_string_sim",
    // PR curve: the ≤9-row threshold list replicated against the
    // score-domain-bounded histogram (non-equi s > thr)
    "q_pr_curve",
    // hybrid retrieval: the dense channel is q_ann_topk's broadcast
    // query cross (the lexical channel's BM25 stats: see below)
    "q_hybrid_retrieval",
    // MIPS: q_ann_topk's broadcast query cross
    "q_ann_mips",
    // recall harness: every ANN tier's broadcast query cross
    "q_ann_recall",
    // Matryoshka curve: per-dim q_ann_topk broadcast query crosses
    "q_mrl_curve",
    // NDCG harness: the brute baseline's broadcast query cross (the
    // graded-relevance side) + q_ann_rerank's probe cross
    "q_ndcg",
    // nProbe sweep: q_ann_ivf's probe cross per swept point
    "q_nprobe_curve",
    // KS test: the ≤|langs|-row cohort list broadcast-crossed into
    // the reference cohort (bounded replication by design)
    "q_ks_test",
    // NB classifier: the |langs|-row model params crossed into every
    // scored doc (per-doc per-class base score)
    "q_nb_classify",
    // the salting demo: the SMALL build side replicated ×8 by a
    // range cross — the technique under test
    "q_join_salted",
    // |sources|² sketch-pair cross over KB-sized KMV rows — the
    // set-arithmetic stage is deliberately pair-wise
    "q_kmv_overlap",
    // crosses kept because their replacement measured >10% slower at
    // sf0.1: the 1-row decile-edge array (as a subquery it is inlined
    // into the bin filter's lambda), the 1-row BM25 corpus stats (also
    // q_hybrid_retrieval's lexical channel), the 1-row PMI token and
    // bigram totals, the 1-row total mix weight, the 1-row basket
    // count, and the 3-row curriculum epoch grid (as an
    // explode(sequence) column)
    "q_calibration", "q_bm25", "q_pmi", "q_temperature_mix",
    "q_assoc_rules", "q_assoc_rules_scale", "q_curriculum")

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
    * (scalar subqueries included) and its executed plan's text, each
    * or what stopped it. */
  private lazy val plans: Seq[(String, Try[Int], Try[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val qe = Try(fn(spark, sf0001).queryExecution)
        val bare = qe.map(_.optimizedPlan.collectWithSubqueries {
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

  test("every allowlist entry still excuses something its query plans") {
    val nested = plans.collect {
      case (name, _, Success(plan)) if plan.contains("BroadcastNestedLoopJoin") => name
    }.toSet
    val windowed = plans.collect {
      case (name, Success(bare), _) if bare > 0 => name
    }.toSet
    val stale =
      (bnljAllowed -- nested).toSeq.sorted.map(_ + ": no BroadcastNestedLoopJoin") ++
        (boundedWindowAllowed -- windowed).toSeq.sorted
          .map(_ + ": no partition-less Window")
    assert(stale.isEmpty, "stale allowlist entries:\n" + stale.mkString("\n"))
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
