package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed rank primitive must (a) produce exactly the
  * global-window row_number values, ascending and descending, and
  * (b) rid its consumer queries of single-partition windows — the
  * round-11 verdict's three plan-shape weaknesses (`q_quantile_norm`,
  * `q_signal_corr`, `q_rfm`). */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  test("globalRowNumber equals the single-window formulation (asc and desc)") {
    val rnd = new scala.util.Random(11)
    // duplicate values force the tiebreaker to matter; ids unique
    val df = (1L to 500L).map(id => (id, rnd.nextInt(40))).toDF("id", "v")
    val asc = Ranks.globalRowNumber(df, "rnk", Seq(col("v"), col("id")))
      .select("id", "rnk").as[(Long, Long)].collect().sorted
    val ascRef = df.withColumn("rnk",
        row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("id", "rnk").as[(Long, Long)].collect().sorted
    assert(asc === ascRef)
    val desc = Ranks.globalRowNumber(df, "rnk", Seq(col("v").desc, col("id")))
      .select("id", "rnk").as[(Long, Long)].collect().sorted
    val descRef = df.withColumn("rnk",
        row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
      .select("id", "rnk").as[(Long, Long)].collect().sorted
    assert(desc === descRef)
    SideCache.releaseAll()
  }

  test("property: globalRowNumber equals the single window on random frames (asc/desc, heavy ties, skew)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // pure ScalaCheck generators sampled with fixed seeds (the
    // scalatest bridge isn't on the offline classpath) — the
    // TimeSeriesPropertySpec convention
    val frameGen: Gen[(List[(Long, Long)], Boolean)] = for {
      n <- Gen.choose(1, 300)
      domain <- Gen.oneOf(3L, 50L, Long.MaxValue) // heavy ties → unique
      vs <- Gen.listOfN(n, Gen.choose(0L, domain - 1))
      desc <- Gen.oneOf(true, false)
    } yield (vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, desc)
    (1 to 8).foreach { seed =>
      val (rows, desc) =
        frameGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val df = rows.toDF("id", "v")
      val order =
        if (desc) Seq(col("v").desc, col("id")) else Seq(col("v"), col("id"))
      val got = Ranks.globalRowNumber(df, "rnk", order)
        .select("id", "rnk").as[(Long, Long)].collect().sorted
      val ref = df.withColumn("rnk",
          row_number().over(Window.orderBy(order: _*)).cast("long"))
        .select("id", "rnk").as[(Long, Long)].collect().sorted
      assert(got === ref, s"seed $seed desc=$desc n=${rows.size}")
      SideCache.releaseAll()
    }
  }

  test("both tiers equal the single-window formulation (distributed tier forced)") {
    val rnd = new scala.util.Random(23)
    val df = (1L to 500L).map(id => (id, rnd.nextInt(40))).toDF("id", "v")
    val order = Seq(col("v").desc, col("id"))
    val ref = df.withColumn("rnk",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "rnk").as[(Long, Long)].collect().sorted
    val (dist, forced) = Tier.scoped(forceDistributed = true) {
      Ranks.globalRowNumber(df, "rnk", order)
        .select("id", "rnk").as[(Long, Long)].collect().sorted
    }
    assert(forced === Seq(Tier.Choice("ranks", driver = false)))
    assert(dist === ref)
    SideCache.releaseAll()
    val (bounded, chosen) = Tier.scoped(forceDistributed = false) {
      Ranks.globalRowNumber(df, "rnk", order)
        .select("id", "rnk").as[(Long, Long)].collect().sorted
    }
    assert(chosen === Seq(Tier.Choice("ranks", driver = true)))
    assert(bounded === ref)
    SideCache.releaseAll()
  }

  test("globalRowNumber survives an empty frame") {
    val empty = Seq.empty[(Long, Int)].toDF("id", "v")
    assert(Ranks.globalRowNumber(empty, "rnk",
      Seq(col("v"), col("id"))).count() === 0L)
    SideCache.releaseAll()
  }

  test("the ranking queries plan NO single-partition window (corpus-proportional frames never funnel through one task)") {
    // the three round-11 offenders plus the queries that already used
    // the distributed pattern — every Window in their optimized plans
    // must carry a partition spec; partition-less windows are exactly
    // the "move all data to one partition" shape this primitive kills
    val mustBeClean =
      Seq("q_quantile_norm", "q_signal_corr", "q_rfm",
        "q_sorted_neighborhood", "q_shuffle_shard")
    val offenders = mustBeClean.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.optimizedPlan
      val bare = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (bare.nonEmpty) Some(s"$name: ${bare.size} partition-less Window(s)")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
