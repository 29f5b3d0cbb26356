package graft.text

import graft.SparkSpec
import graft.ops.Tier
import org.apache.spark.sql.functions._

/** The BPE trainer's driver tier (vocab ≤ DriverVocabMax collects the
  * dict and runs the K rounds locally) must be bit-identical to the
  * distributed round loop — same pairs, same counts, same order. */
class BpeDriverTierSpec extends SparkSpec {
  import spark.implicits._

  private def bothTiers(words: org.apache.spark.sql.DataFrame, k: Int)
      : (Seq[(String, Long)], Seq[(String, Long)]) = {
    val (viaPublic, chosen) = Tier.scoped(forceDistributed = false) {
      Bpe.train(words, k)
    }
    assert(chosen === Seq(Tier.Choice("bpe", driver = true)),
      "driver tier at test scale")
    val (viaDistributed, _) = Tier.scoped(forceDistributed = true) {
      Bpe.train(words, k)
    }
    graft.ops.SideCache.releaseAll()
    (viaPublic, viaDistributed)
  }

  test("tiers agree on the sf0.001 corpus, 8 and 32 rounds") {
    val words = graft.tables.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("word"))
    for (k <- Seq(8, 32)) {
      val (local, dist) = bothTiers(words, k)
      assert(local == dist, s"tier divergence at k=$k")
      assert(local.length == k)
    }
  }

  test("tiers agree on ties, repeats, non-alnum symbols, empty words") {
    // aaa: overlapping same-pair runs; tie between 'x y' and 'y x'
    // orderings; '-' breaks the alnum pair filter; "" from double
    // spaces in a text must survive symbolization as a no-pair word.
    val words = Seq("aaa", "aaa", "xyxy", "a-b", "ab", "ab", "", "zz9")
      .toDF("word")
    val (local, dist) = bothTiers(words, 6)
    assert(local == dist)
    assert(local.nonEmpty)
  }
}
