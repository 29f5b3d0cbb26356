package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.VersionChain
import org.apache.spark.sql.functions._

/** q_cdf_read: the stored change-data-feed must agree with a BRUTE
  * snapshot diff of the stored generations — the losslessness proof
  * that lets q_time_travel_diff read deltas instead of scanning two
  * snapshots. Every change type must be non-vacuous on the fixture. */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = graft.ops.FixtureStore.root("verchain", sf0001)
  private lazy val feed = SparkEntry.queries("q_cdf_read")(spark, sf0001)
    .collect().toSeq
  private def byKey(v: Long, ct: String) =
    feed.find(r => r.getLong(0) == v && r.getString(1) == ct)

  private def snap(g: String) = spark.read.parquet(s"$root/$g")
    .select(col("event_id"), col("vc"))

  test("the feed reproduces a brute snapshot diff, version by version") {
    feed // force the chain
    // v0: insert-only commit — feed rows = the full v0 snapshot
    val v0 = snap("gen0").as[(Long, Long)].collect()
    val ins = byKey(0, "insert").get
    assert(ins.getLong(2) === v0.length.toLong)
    assert(ins.getLong(3) === v0.map(_._1).foldLeft(0L)(_ ^ _))
    assert(ins.getLong(4) === v0.map(_._2).sum)
    // v1: rewrite — brute diff of gen0 vs gen1 is empty, and the feed
    // carries NO rows for version 1
    val v1 = snap("gen1").as[(Long, Long)].collect()
    assert(v0.sorted.toSeq === v1.sorted.toSeq,
      "compaction changed content; the empty v1 delta would be a lie")
    assert(feed.count(_.getLong(0) == 1L) === 0)
    // v2: brute removed set (keys in gen1 not in gen2) = the feed's
    // remove rows
    val v2keys = snap("gen2").select("event_id").as[Long].collect().toSet
    val removed = v1.filter(r => !v2keys.contains(r._1))
    val rem = byKey(2, "remove").get
    assert(removed.nonEmpty, "vacuous sweep")
    assert(rem.getLong(2) === removed.length.toLong)
    assert(rem.getLong(3) === removed.map(_._1).foldLeft(0L)(_ ^ _))
    assert(rem.getLong(4) === removed.map(_._2).sum)
    // v3: brute changed set (same key, different vc between gen2 and
    // gen3) = the feed's update pairs, pre-images from gen2 and
    // post-images from gen3
    val v2m = snap("gen2").as[(Long, Long)].collect().toMap
    val v3 = snap("gen3").as[(Long, Long)].collect()
    val changed = v3.filter { case (k, vc) => v2m(k) != vc }
    assert(changed.nonEmpty, "vacuous update commit")
    val pre = byKey(3, "update_pre").get
    val post = byKey(3, "update_post").get
    assert(pre.getLong(2) === changed.length.toLong)
    assert(post.getLong(2) === changed.length.toLong)
    val keyXor = changed.map(_._1).foldLeft(0L)(_ ^ _)
    assert(pre.getLong(3) === keyXor && post.getLong(3) === keyXor)
    assert(pre.getLong(4) === changed.map(c => v2m(c._1)).sum)
    assert(post.getLong(4) === changed.map(_._2).sum)
    assert(post.getLong(4) - pre.getLong(4) === 100L * changed.length)
  }

  test("the stored deltas are change-proportional, not snapshot copies") {
    feed
    def rowsIn(p: String): Long = spark.read.parquet(s"$root/$p").count()
    val n1 = snap("gen1").count()
    assert(rowsIn("cdf/v1") === 0L, "a rewrite commit must store an empty delta")
    assert(rowsIn("cdf/v2") < n1, "the sweep delta must be smaller than the table")
    assert(rowsIn("cdf/v3") < n1, "the update delta must be smaller than the table")
  }
}
