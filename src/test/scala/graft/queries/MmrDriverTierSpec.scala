package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.Tier

/** The MMR greedy-round driver tier (pool/pairs collected under the
  * bounds, 5 argmax rounds run locally) must be row-identical to the
  * distributed round loop: same picks, same order, same quantized
  * mmr_q. */
class MmrDriverTierSpec extends SparkSpec {

  test("driver tier equals the distributed greedy rounds") {
    def rerank() =
      SparkEntry.queries("q_mmr_rerank")(spark, sf0001).collect().map(_.toSeq)
    val (local, chosen) = Tier.scoped(forceDistributed = false)(rerank())
    assert(chosen.map(_.gate) == Seq("mmr.cand", "mmr.pairs") &&
      chosen.forall(_.driver), "driver tier at test scale")
    graft.ops.SideCache.releaseAll()
    val (dist, _) = Tier.scoped(forceDistributed = true)(rerank())
    assert(local.toSet == dist.toSet)
    assert(local.nonEmpty)
    graft.ops.SideCache.releaseAll()
  }
}
