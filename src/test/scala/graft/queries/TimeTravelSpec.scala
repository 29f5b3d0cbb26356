package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.{FixtureStore, VersionChain}

/** q_time_travel: the versioned read must genuinely resolve THROUGH
  * the stored manifest to four immutable generations — all four
  * generation scans in the executed plan, each generation keeping the
  * layout it was written with, and the checksum triples proving
  * compaction preserved content while the update mutated exactly its
  * keys. q_time_travel_diff: the diff must be answered from the
  * stored CHANGE-DATA-FEED deltas, never from snapshot scans. */
class TimeTravelSpec extends SparkSpec {

  private lazy val root = FixtureStore.root("verchain", sf0001)

  private lazy val df = SparkEntry.queries("q_time_travel")(spark, sf0001)
  private lazy val rows = df.collect().toSeq.sortBy(_.getLong(0))

  test("all four generation reads appear in the executed plan") {
    rows // force commits
    val plan = df.queryExecution.executedPlan.toString
    for (g <- Seq("gen0", "gen1", "gen2", "gen3"))
      assert(plan.contains(s"$root/$g"),
        s"as-of read of generation $g missing from the executed plan")
  }

  test("v0/v1 triples identical; v2 the swept subset; v3 the point update; ts rows resolve mid and head") {
    val Seq(r0, r1, r2, r3, r90, r91) = rows
    // the between-commits timestamp probe resolves the EARLIER commit
    // (the compact generation); the far-future probe resolves the head
    assert(r90.toSeq.drop(1) === r1.toSeq.drop(1),
      "ts probe between compact and retain must read the compact gen")
    assert(r91.toSeq.drop(1) === r3.toSeq.drop(1),
      "far-future ts probe must read the head generation")
    // compaction preserves content: same rows, same xor, same sum
    assert(r0.getLong(3) === r1.getLong(3))
    assert(r0.getLong(4) === r1.getLong(4))
    assert(r0.getLong(5) === r1.getLong(5))
    // ...while the file count genuinely drops (the point of OPTIMIZE)
    assert(r1.getLong(2) < r0.getLong(2),
      s"compaction did not reduce files: ${r0.getLong(2)} -> ${r1.getLong(2)}")
    // the sweep removed something and kept something
    assert(r2.getLong(3) > 0 && r2.getLong(3) < r1.getLong(3))
    // the update kept the row count and mutated content: same rows as
    // v2, different xor, content sum up by exactly 100 per touched key
    assert(r3.getLong(3) === r2.getLong(3))
    assert(r3.getLong(4) !== r2.getLong(4), "v3 update changed no content")
    val touched = (r3.getLong(5) - r2.getLong(5)) / 100L
    assert(touched > 0, "v3 update touched no keys")
    assert((r3.getLong(5) - r2.getLong(5)) % 100L === 0L)
  }

  test("generations keep their immutable layouts on disk") {
    rows // force commits
    def files(gen: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/$gen"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    }
    assert(files("gen0").nonEmpty)
    // a reader pinned to v0 after later commits sees the ingest layout
    // (day partitioning), not the compacted one
    assert(files("gen0").forall(_.contains("day=")))
    for (g <- Seq("gen1", "gen2", "gen3"))
      assert(files(g).forall(_.contains("bin=")), s"$g lost bin layout")
  }

  test("the content-keyed commit is reused, and a broken marker recommits") {
    rows // force commits
    val marker = new java.io.File(root, FixtureStore.Marker)
    assert(marker.exists(), "chain committed without its marker")
    val mtime = marker.lastModified()
    // a second consumer run resolves the stored chain — no recommit
    SparkEntry.queries("q_time_travel")(spark, sf0001).collect()
    assert(marker.lastModified() === mtime,
      "a validated chain was recommitted on reuse")
    // corrupt the marker: the next ensure() must rebuild, not trust it
    java.nio.file.Files.writeString(marker.toPath, "0\nbogus\n0\n")
    val root2 = VersionChain.ensure(spark, sf0001)
    assert(root2 === root)
    val txt = java.nio.file.Files.readString(marker.toPath)
    assert(txt.startsWith(s"${FixtureStore.codeFingerprint}\nverchain\n$sf0001\n"),
      "invalid marker was not replaced by a recommit")
  }

  test("q_time_travel_diff: answered from the stored CDF deltas, no snapshot scans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = SparkEntry.queries("q_time_travel_diff")(spark, sf0001)
    val rows = df.collect().toSeq.sortBy(_.getLong(0))
    graft.ops.SideCache.releaseAll()
    val Seq(d01, d12, d23) = rows
    // compaction invariant at row level: NOTHING added/removed/changed
    assert(d01.getLong(2) === 0L && d01.getLong(3) === 0L &&
      d01.getLong(4) === 0L && d01.getLong(5) > 0L)
    // the sweep removes exactly the day-of-month > 20 rows
    val v1 = spark.read.parquet(s"$root/gen1")
    val expectRemoved = v1.filter(dayofmonth(col("day")) > 20)
    assert(d12.getLong(3) === expectRemoved.count())
    assert(d12.getLong(2) === 0L && d12.getLong(4) === 0L)
    assert(d12.getLong(5) === v1.count() - d12.getLong(3))
    val xor = expectRemoved.select("event_id").as[Long].collect()
      .foldLeft(0L)(_ ^ _)
    assert(d12.getLong(6) === xor, "removed-key xor != tombstone manifest")
    // the update commit: changes only, matching the touched-key count
    val v2 = spark.read.parquet(s"$root/gen2")
    assert(d23.getLong(4) === v2.filter(col("event_id") % 7 === 0).count())
    assert(d23.getLong(4) > 0, "vacuous update diff")
    assert(d23.getLong(2) === 0L && d23.getLong(3) === 0L)
    // THE round-13 contract: the executed plan scans the stored
    // per-commit deltas, NOT the generation snapshots — the diff is
    // delta-proportional (the previous design full-scanned both sides)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cdf/v"),
      "diff must read the stored change-data-feed deltas")
    assert(!plan.contains(s"$root/gen"),
      "diff must not scan generation snapshots when deltas exist")
  }

  test("manifest resolution: as-of between commits returns the newest generation <= v") {
    rows
    val log = VersionChain.manifest(spark, root)
    assert(log.map(c => (c.version, c.op, c.path)) ===
      Seq((0L, "ingest", "gen0"), (1L, "compact", "gen1"),
        (2L, "retain", "gen2"), (3L, "update", "gen3")))
    // row counts recorded per commit (what the delta-diff resolves
    // n_common from)
    assert(log.map(_.n_rows).forall(_ > 0))
    assert(log(0).n_rows === log(1).n_rows)
    assert(log(2).n_rows === log(3).n_rows)
    // the resolve rule itself (newest <= v), as the query computes it
    def resolve(v: Long) = log.filter(_.version <= v).maxBy(_.version).path
    assert(resolve(0) === "gen0" && resolve(1) === "gen1" &&
      resolve(2) === "gen2" && resolve(9) === "gen3")
  }
}
