package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_forget_pipeline: erasure must actually be absent from the live
  * artifacts on disk (and present in the untouched originals — the
  * rewrite-not-rewrite-history model), the cascade rows must be the
  * standalone query's, and the certification row must fold exactly. */
class GovernancePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val root = graft.ops.FixtureStore.root("forget", sf0001)

  private lazy val rows = SparkEntry.queries("q_forget_pipeline")(spark, sf0001)
    .collect().toSeq

  test("live artifacts retain zero tombstoned keys; originals still do") {
    rows // force the run
    val annRoot = graft.ops.FixtureStore.root("annix_full", sf0001)
    val liveCodes = graft.sim.Similarity.liveSegments(
      spark, annRoot, Seq("codes")).head
    assert(liveCodes != "codes", "ann tier was never compacted")
    val liveVec = spark.read.parquet(s"$annRoot/$liveCodes")
      .select("vec_id").as[Long].collect()
    assert(liveVec.nonEmpty && liveVec.forall(_ % 13 != 0),
      "a tombstoned vector survived compaction")
    val origVec = spark.read.parquet(s"$annRoot/codes")
      .select("vec_id").as[Long].collect()
    assert(origVec.exists(_ % 13 == 0),
      "the original segment should be untouched until retirement")
    val liveEv = spark.read.parquet(s"$root/events_live")
      .select("user_id").as[Long].collect()
    assert(liveEv.nonEmpty && liveEv.forall(_ % 13 != 0),
      "a tombstoned user's events survived the fact rewrite")
    assert(spark.read.parquet(s"$root/events")
      .filter(pmod(col("user_id"), lit(13L)) === 0).count() > 0)
  }

  test("erasure is ONE atomic cross-table commit: all tiers resolve at one slot; a killed pipeline leaves readers on the old state everywhere") {
    rows // force the run
    val logRoot = GovernancePipelineQuery.forgetLogRoot(sf0001)
    // after the run: one spanning slot owns every tier
    val owners = graft.ops.CommitLog.resolvePartitions(logRoot)
    assert(owners.keySet === Set("cascade", "events", "index"))
    assert(owners.values.map(_._1).toSet === Set(2L),
      "every tier must gate on the same resolved slot")
    val (v, tiers) = GovernancePipelineQuery.resolveTiers(logRoot)
    assert(v === 2L)
    assert(tiers("events").endsWith("/events_live"))
    assert(tiers("index").contains("_live_g"))
    // the certification row carries the spanning version; tier rows
    // carry NULL there
    val cert = rows.find(_.getString(0) == "5_certify").get
    assert(cert.getLong(6) === 2L)
    assert(rows.filter(_.getString(0) != "5_certify").forall(_.isNullAt(6)))
    // CRASH SIMULATION on a scratch log: base commit, one tier's new
    // generation staged, pipeline KILLED before the spanning commit —
    // readers must resolve the OLD state for EVERY tier
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_forget_crash").toString
    GovernancePipelineQuery.commitTiers(scratch, "m0", "base", Map(
      "cascade" -> "derived", "events" -> "gen0/events",
      "index" -> "gen0/codes"), 0L)
    // (tier A's rewrite would land here; the kill point)
    val (v0, before) = GovernancePipelineQuery.resolveTiers(scratch)
    assert(v0 === 1L)
    assert(before("events") === "gen0/events" &&
      before("index") === "gen0/codes",
      "a half-applied erasure leaked to a reader")
    // completing the spanning commit flips ALL tiers at once
    GovernancePipelineQuery.commitTiers(scratch, "m1", "erasure", Map(
      "cascade" -> "derived", "events" -> "gen1/events_live",
      "index" -> "gen1/codes_live"), 1L)
    val (v1, after) = GovernancePipelineQuery.resolveTiers(scratch)
    assert(v1 === 2L)
    assert(after("events") === "gen1/events_live" &&
      after("index") === "gen1/codes_live")
  }

  test("cascade rows equal the standalone q_delete_propagate") {
    val cascade = rows.filter(_.getString(0) == "2_cascade")
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    val standalone = SparkEntry.queries("q_delete_propagate")(spark, sf0001)
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(cascade === standalone)
    graft.ops.SideCache.releaseAll()
  }

  test("the certification row folds the cascade/index/fact tiers exactly; every tier erased something") {
    val tiers = rows.filter(_.getString(0) != "5_certify")
    // the fold excludes stage 1: the tombstone list duplicates the
    // cascade's customer row, and folding both would self-cancel the
    // identical key_xors (x^x=0) — the composite would then be blind
    // to customer-key drift
    val folded = tiers.filter(_.getString(0) != "1_tombstones")
    val cert = rows.find(_.getString(0) == "5_certify").get
    assert(cert.getLong(3) === folded.map(_.getLong(3)).sum)
    assert(cert.getLong(5) ===
      folded.map(_.getLong(5)).reduce(_ ^ _))
    // and the exclusion is what keeps the composite sensitive: the
    // all-tier fold would cancel the customer xor out entirely
    val customerXor = tiers.find(_.getString(0) == "1_tombstones")
      .get.getLong(5)
    assert(customerXor != 0L)
    tiers.foreach { t =>
      assert(t.getLong(3) > 0, s"vacuous erasure in ${t.getString(1)}")
      assert(t.getLong(2) - t.getLong(3) === t.getLong(4),
        s"${t.getString(1)}: before - erased != after")
    }
  }
}
