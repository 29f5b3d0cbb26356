package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The one driver-tier gate: a bounded probe, a seam that forces the
  * distributed tier, and no cache of a rank's input. */
class TierSpec extends SparkSpec {
  import spark.implicits._

  test("above its bound a gate reads at most bound + 1 rows to decide") {
    val bound = Ranks.DriverRankMax
    val read = spark.sparkContext.longAccumulator("tier_probe_rows")
    // one partition, so the probe's first task holds every row
    val big = spark.range(0L, 4L * bound, 1L, 1)
      .map { x => read.add(1L); x.longValue }.toDF("id")
    assert(Tier.rows("probe", big, bound).isEmpty)
    assert(read.value <= bound + 1L, s"probe read ${read.value} rows")
    val small = (1L to 10L).toDF("id")
    assert(Tier.rows("probe", small, bound).map(_.map(_.getLong(0)).sorted.toSeq)
      .contains((1L to 10L).toSeq))
  }

  test("under the seam every gate takes the distributed tier and is recorded") {
    val small = (1L to 10L).toDF("id")
    val (forced, forcedChoices) = Tier.scoped(forceDistributed = true) {
      Tier.rows("a", small, 100)
    }
    assert(forced.isEmpty)
    assert(forcedChoices === Seq(Tier.Choice("a", driver = false)))
    val (got, choices) = Tier.scoped(forceDistributed = false) {
      (Tier.rows("a", small, 100), Tier.rows("b", small, 5))
    }
    assert(got._1.map(_.length).contains(10))
    assert(got._2.isEmpty)
    assert(choices === Seq(Tier.Choice("a", driver = true),
      Tier.Choice("b", driver = false)))
    // outside a scope nothing is forced
    assert(Tier.rows("a", small, 100).isDefined)
  }

  test("a rank above DriverRankMax caches only its sorted parts, not its input") {
    SideCache.releaseAll()
    spark.catalog.clearCache()
    val in = spark.range(0L, Ranks.DriverRankMax + 10L).toDF("id")
    val ranked = Ranks.globalRowNumber(in, "rnk", Seq(col("id").desc))
    assert(in.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the rank's input is cached")
    assert(ranked.filter(col("rnk") === 1L).select("id").as[Long].collect()
      .toSeq === Seq(Ranks.DriverRankMax + 9L))
    SideCache.releaseAll()
  }
}
