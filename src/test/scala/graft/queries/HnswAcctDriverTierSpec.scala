package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.Tier

/** The hnsw maintenance-accounting driver tier (corpus + stored
  * segments collected under the bounds, affected-bucket algebra
  * replayed locally) must be row-identical to the distributed plan
  * for BOTH queries: same labels, same counts, same ic sums, same
  * edge xors. */
class HnswAcctDriverTierSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** The query's rows on the driver tier and with the distributed tier
    * forced. */
  private def bothTiers(name: String) = {
    val (l, chosen) = Tier.scoped(forceDistributed = false) {
      rows(SparkEntry.queries(name)(spark, sf0001))
    }
    assert(chosen.exists(_.gate == "hnsw.acct.corpus") && chosen.forall(_.driver),
      "tier must engage at sf0.001")
    graft.ops.SideCache.releaseAll()
    val (d, _) = Tier.scoped(forceDistributed = true) {
      rows(SparkEntry.queries(name)(spark, sf0001))
    }
    graft.ops.SideCache.releaseAll()
    (l, d)
  }

  test("upsert accounting driver tier equals the distributed plan") {
    val (l, d) = bothTiers("q_ann_hnsw_upsert")
    assert(l == d)
    assert(l.nonEmpty)
  }

  test("delete accounting driver tier equals the distributed plan") {
    val (l, d) = bothTiers("q_ann_hnsw_delete")
    assert(l == d)
    assert(l.nonEmpty)
  }
}
