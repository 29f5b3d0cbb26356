package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.{CommitLog, VersionChain}

/** q_restore — rollback as a forward commit on a SHALLOW CLONE: the
  * restore must be metadata-only (no generation directory under the
  * clone; the restored read scans the ORIGINAL gen1 path), history
  * must stay readable (as-of 3 still serves the pre-restore content),
  * the restore CDF must be reverse-composed correctly from the stored
  * v2/v3 deltas, the shared root must be byte-untouched, and a re-run
  * must be idempotent. */
class RestoreSpec extends SparkSpec {

  private lazy val root = MaintenancePipelineQuery.restoreRoot(sf0001)

  private lazy val rows = SparkEntry.queries("q_restore")(spark, sf0001)
    .collect().toSeq.sortBy(_.getLong(0))

  private def byVersion(v: Long) = rows.find(_.getLong(0) == v).get

  test("restore is metadata-only: no generation data under the clone") {
    rows // force the run
    for (g <- Seq("gen0", "gen1", "gen2", "gen3"))
      assert(!new java.io.File(s"$root/$g").exists(),
        s"restore materialized $g — a restore must move zero data files")
    // the clone-local artifacts are exactly: manifest + its own CDF
    assert(new java.io.File(s"$root/cdf/v4/_SUCCESS").exists(),
      "restore CDF delta missing under the clone")
  }

  test("the restored head points at the ORIGINAL generation files") {
    rows
    val log = VersionChain.manifest(spark, root)
    val head = log.maxBy(_.version)
    assert(head.version == 4L && head.op == "restore" && head.path == "gen1")
    // path resolution lands on the SHARED root's gen1 (no local copy)
    val resolved = VersionChain.resolvePath(root, head.path)
    assert(resolved.startsWith(graft.ops.FixtureStore.root("verchain", sf0001)),
      s"restored read resolves to $resolved, not the shared gen1")
    // and the restored content IS v1's content, bit for bit
    val (_, v4) = VersionChain.asOf(spark, root, log, 4L)
    val (_, v1) = VersionChain.asOf(spark, root, log, 1L)
    assert(v4.withColumn("h", VersionChain.rowHash)
      .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).head() ==
      v1.withColumn("h", VersionChain.rowHash)
        .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).head())
  }

  test("history stays readable: as-of 3 serves the pre-restore content") {
    val r3 = byVersion(3L)
    val r4 = byVersion(4L)
    assert(r3.getString(1) == "update" && r4.getString(1) == "restore")
    // v3 and v4 genuinely differ (the sweep + update were undone)
    assert(r3.getLong(3) < r4.getLong(3),
      "restore did not re-add the swept rows")
    assert(r3.getLong(4) != r4.getLong(4))
  }

  test("restore CDF reverse-composes the undone commits") {
    val ins = byVersion(70L)
    val post = byVersion(71L)
    val pre = byVersion(72L)
    // re-inserts = v2's removes; update posts/pres = v3's pairs swapped
    val sharedRoot = graft.ops.FixtureStore.root("verchain", sf0001)
    val v2Removes = spark.read.parquet(s"$sharedRoot/cdf/v2").count()
    val v3Pairs = spark.read.parquet(s"$sharedRoot/cdf/v3")
    val nUpd = v3Pairs.filter("change_type = 'update_pre'").count()
    assert(ins.getLong(3) == v2Removes)
    assert(post.getLong(3) == nUpd && pre.getLong(3) == nUpd)
    // the restored-to values (posts) are the ORIGINAL values: their
    // content sum is 100 * n lower than the replaced values (pres)
    assert(pre.getLong(5) - post.getLong(5) == 100L * nUpd)
  }

  test("the shared root is untouched by a restore") {
    rows
    val shared = graft.ops.FixtureStore.root("verchain", sf0001)
    assert(!new java.io.File(s"$shared/cdf/v4").exists(),
      "restore wrote its CDF into the SHARED root")
    val sharedLog = VersionChain.manifest(spark, shared)
    assert(sharedLog.map(_.version).max == 3L,
      "restore committed into the shared chain's manifest")
    assert(CommitLog.latestCommitted(
      VersionChain.commitLogRootOf(shared)) == 4L,
      "restore advanced the shared commit log")
  }

  test("a torn restore (crash before the commit) is invisible to readers") {
    rows // ensure the shared chain exists
    val shared = VersionChain.ensure(spark, sf0001)
    val torn = s"${System.getProperty("java.io.tmpdir")}/graft_restore_torn"
    VersionChain.shallowClone(shared, torn)
    import spark.implicits._
    val log = VersionChain.manifest(spark, torn)
    val target = log.find(_.version == 1L).get
    // the crash window: CDF staged + manifest rewritten, NO commit
    spark.read.parquet(VersionChain.resolvePath(torn, "cdf/v2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$torn/cdf/v4")
    (log :+ VersionChain.Commit(4L, "restore", target.path,
      target.n_rows, "delta", "cdf/v4")).toDS.coalesce(1)
      .write.mode("overwrite").parquet(s"$torn/manifest")
    // readers gate manifest rows on commit-resolved slots: the torn
    // v4 row must be invisible and the head must still be v3
    val seen = VersionChain.manifest(spark, torn)
    assert(seen.map(_.version).max == 3L,
      "a torn restore's manifest row leaked to readers")
    val (c, _) = VersionChain.asOf(spark, torn, seen, 99L)
    assert(c.version == 3L && c.op == "update")
  }

  test("re-run is idempotent (fresh clone + re-restore, same rows)") {
    val first = rows.map(_.toSeq)
    val again = SparkEntry.queries("q_restore")(spark, sf0001)
      .collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq)
    assert(first == again)
  }
}
