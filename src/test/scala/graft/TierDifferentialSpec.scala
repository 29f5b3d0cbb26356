package graft

import graft.ops.Tier

/** Every driver tier agrees with its distributed twin on the queries
  * that reach it. Each registered query is built at sf0.001 with the
  * gates' choices recorded; each query that reached a gate is then run
  * twice, as chosen and with every gate forced to its distributed
  * tier, and must return the same rows in any order. */
class TierDifferentialSpec extends SparkSpec {

  /** Queries known to reach a gate, each on its driver tier at sf0.001. */
  private val expected = Set(
    "q_rfm", "q_quantile_norm", "q_signal_corr",
    "q_bpe_train", "q_bpe_pipeline", "q_tokenizer_fertility", "q_fertility_sweep",
    "q_ann_hnsw", "q_ef_curve", "q_ann_hnsw_upsert", "q_ann_hnsw_delete",
    "q_mmr_rerank", "q_dedup_cluster", "q_semantic_cluster", "q_ann_dedup")

  /** The gates each query reached while it was built. */
  private lazy val gated: Map[String, Seq[Tier.Choice]] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (_, choices) = Tier.scoped(forceDistributed = false)(fn(spark, sf0001))
      ops.SideCache.releaseAll()
      spark.catalog.clearCache()
      if (choices.nonEmpty) Some(name -> choices) else None
    }.toMap

  private def rows(name: String, forceDistributed: Boolean): Seq[String] = {
    val (out, _) = Tier.scoped(forceDistributed) {
      SparkEntry.queries(name)(spark, sf0001).collect().map(_.toString).toSeq
    }
    ops.SideCache.releaseAll()
    spark.catalog.clearCache()
    out.sorted
  }

  test("the gated queries include every known tier and take the driver tier at sf0.001") {
    info(s"gated: ${gated.keySet.toSeq.sorted.mkString(", ")}")
    val missing = expected -- gated.keySet
    assert(missing.isEmpty, s"queries that reached no gate: $missing")
    val distributed = expected.filterNot(q => gated(q).forall(_.driver))
    assert(distributed.isEmpty, s"queries not on the driver tier: $distributed")
  }

  test("every gated query returns the same rows with the distributed tier forced") {
    val diverged = gated.keySet.toSeq.sorted.filter { name =>
      rows(name, forceDistributed = false) != rows(name, forceDistributed = true)
    }
    assert(diverged.isEmpty, s"tiers disagree: ${diverged.mkString(", ")}")
  }
}
