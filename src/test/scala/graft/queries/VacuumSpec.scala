package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.VersionChain

/** q_vacuum over a SHALLOW CLONE: the clone must hold zero data files
  * (metadata-only isolation), the shared chain root must be untouched
  * because the owner still references every generation (refcounted
  * retirement), expiry must drop the clone's references with as-of
  * resolution degrading gracefully, zero-reference retirement must
  * actually delete on an OWNED chain, and a re-run must be
  * idempotent. */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = MaintenancePipelineQuery.vacuumRoot(sf0001)

  private lazy val rows = SparkEntry.queries("q_vacuum")(spark, sf0001)
    .collect().toSeq.sortBy(_.getLong(0))

  private def parquetFiles(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val d = new java.io.File(p)
    if (d.exists()) walk(d).filter(_.getName.endsWith(".parquet")) else Nil
  }

  test("the clone is metadata-only and the shared root is untouched") {
    rows // force the run
    // ZERO data files were copied: the clone holds only its manifest
    // (|versions| rows) — no generation directory exists under it
    for (g <- Seq("gen0", "gen1", "gen2", "gen3"))
      assert(!new java.io.File(s"$root/$g").exists(),
        s"shallow clone materialized $g — data was copied")
    val manifestFiles = parquetFiles(root)
    assert(manifestFiles.nonEmpty &&
      manifestFiles.forall(_.getPath.contains("/manifest/")),
      "clone holds parquet outside its manifest")
    // the SHARED chain is untouched: the owner still references every
    // generation, so refcounted retirement must not reclaim anything
    val shared = graft.ops.FixtureStore.root("verchain", sf0001)
    for (g <- Seq("gen0", "gen1", "gen2", "gen3"))
      assert(new java.io.File(s"$shared/$g/_SUCCESS").exists(),
        s"vacuum reclaimed a generation the owner references ($g)")
    // expired generations stay READABLE through other consumers
    assert(spark.read.parquet(s"$shared/gen0").count() > 0)
  }

  test("audit rows describe the pre-sweep state and the policy") {
    val Seq(r0, r1, r2, r3) = rows
    assert(r0.getString(3) === "vacuumed" && r1.getString(3) === "vacuumed" &&
      r2.getString(3) === "live" && r3.getString(3) === "live")
    // expired generations' audits recorded files and content BEFORE
    // the references were dropped
    for (r <- Seq(r0, r1)) {
      assert(r.getLong(4) > 0 && r.getLong(5) === 0L)
      assert(r.getLong(6) > 0)
    }
    // v0 and v1 carry identical content (compaction preserved it)
    assert(r0.getLong(6) === r1.getLong(6))
    assert(r0.getLong(7) === r1.getLong(7))
    // the update kept v2's row count but changed its checksum
    assert(r3.getLong(6) === r2.getLong(6))
    assert(r3.getLong(7) !== r2.getLong(7))
    // live generations keep their files
    assert(r2.getLong(4) === r2.getLong(5))
    assert(r3.getLong(4) === r3.getLong(5))
  }

  test("as-of resolution over the post-vacuum manifest: every v <= 2 lands on a LIVE generation") {
    rows
    val log = spark.read.parquet(s"$root/manifest")
      .select("version", "path", "status")
      .as[(Long, String, String)].collect().sortBy(_._1)
    def resolveLive(v: Long): String = {
      val live = log.filter(_._3 == "live")
      val le = live.filter(_._1 <= v)
      (if (le.nonEmpty) le.maxBy(_._1) else live.minBy(_._1))._2
    }
    assert(resolveLive(0) === "gen2",
      "a v0 reader must degrade to the oldest live generation")
    assert(resolveLive(2) === "gen2" && resolveLive(9) === "gen3")
    // and the resolved generation is readable THROUGH the clone
    assert(spark.read.parquet(
      VersionChain.resolvePath(root, resolveLive(0))).count() > 0)
  }

  test("zero-reference retirement actually deletes on an owned chain") {
    rows
    val shared = graft.ops.FixtureStore.root("verchain", sf0001)
    val owned =
      s"${System.getProperty("java.io.tmpdir")}/graft_vacuum_owned_test"
    VersionChain.copyTo(shared, owned) // an OWNED copy: its own data root
    MaintenancePipelineQuery.vacuumChain(spark, owned)
    // the owned chain's expired generations have NO remaining
    // references (no owner row marked live, no clones) — files go
    for (g <- Seq("gen0", "gen1"))
      assert(!new java.io.File(s"$owned/$g").exists(),
        s"zero-reference generation $g was not reclaimed")
    for (g <- Seq("gen2", "gen3"))
      assert(spark.read.parquet(s"$owned/$g").count() > 0,
        s"live generation $g must survive retirement")
    // ... while the shared root (referenced by its owner) is intact
    assert(new java.io.File(s"$shared/gen0/_SUCCESS").exists())
    VersionChain.rmTree(new java.io.File(owned))
  }

  test("re-run is idempotent (fresh clone + re-vacuum, same audit)") {
    val first = rows.map(_.toSeq)
    val second = SparkEntry.queries("q_vacuum")(spark, sf0001)
      .collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq)
    assert(first === second)
  }
}
