package graft.io

import graft.SparkSpec
import graft.ops.{CommitLog, LakeRead}
import graft.ops.CommitLog.Entry
import org.apache.spark.sql.functions._

/** Deletion vectors through the `graftlake` connector: a DV layer
  * (`keys/` tombstones + `rows/` post-images, [[LakeRead.isDvLayer]])
  * must resolve as base ⟕anti broadcast(keys) ∪ rows — bit-equal to
  * `q_merge_dv`'s hand-built resolution — with deleted keys never
  * served, a broadcast anti-join in the plan (tombstones small by
  * law), cache reuse across reads, and commutation under
  * [[graft.ops.Reorganize]] compaction. */
class DvConnectorSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_dv_conn").toString

  /** base keys 1..10 (v*10); DV layer: tombstones {2, 9}, rows =
    * update 2→222 + insert 11→110. Expected head: 1,3..8,10 original;
    * 2→222; 11→110; 9 GONE. */
  private def buildDvLake(root: String): Unit = {
    val s = spark
    import s.implicits._
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    Seq(Tuple1(2L), Tuple1(9L)).toDF("k")
      .repartition(1).write.parquet(s"$root/data/dv1/keys")
    Seq((2L, 222L), (11L, 110L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/dv1/rows")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    CommitLog.tryCommit(root, Entry("dv", "dv", "data/dv1",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((2L, 11L)))))
  }

  test("a DV layer resolves as mask-plus-append through the connector; tombstones are never served; the cache is reused") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    buildDvLake(root)
    def read() = s.read.format("graftlake").option("keyColumn", "k")
      .load(root).select("k", "v").as[(Long, Long)].collect().toMap
    val want = (1L to 10L).filterNot(k => k == 2 || k == 9)
      .map(k => k -> k * 10L).toMap + (2L -> 222L) + (11L -> 110L)
    assert(read() === want,
      "DV resolution diverged from mask-plus-append semantics")
    assert(!read().contains(9L), "a tombstoned key must never be served")
    // versionAsOf=1 still serves the pre-DV base (time travel under DV)
    assert(s.read.format("graftlake").option("keyColumn", "k")
      .option("versionAsOf", "1").load(root).count() === 10L)
    // cache reuse: second read must not re-materialize
    val cacheDir = new java.io.File(s"$root/_lake_cache")
      .listFiles().filter(d => d.isDirectory &&
        !d.getName.startsWith("_attempt_")).head
    val success = new java.io.File(cacheDir, "_SUCCESS")
    val mtime = success.lastModified()
    assert(read() === want)
    assert(success.lastModified() === mtime,
      "the second DV read must reuse the content-keyed cache")
    // the masked materialization plans a BROADCAST ANTI-JOIN over the
    // tombstones — never a shuffle of the base against the delta
    val frame = LakeRead.layeredFrame(s,
      CommitLog.resolveLayers(root, "p1"), "k",
      p => if (new java.io.File(p).isAbsolute) p else s"$root/$p")
    frame.collect()
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the DV mask must be a broadcast anti-join:\n$plan")
    // the streaming surface stays usable when the NEWEST commit is a
    // DV layer: schema inference probes rows/ (keys are metadata, and
    // the mixed keys+rows dir would otherwise poison the probe)
    val sch = GraftLakeStreamSource.streamSchema(s, root,
      Map("root" -> root))
    assert(sch.fieldNames.toSeq ===
      Seq("k", "v", "_partition", "_commit_version"),
      s"stream schema over a DV-headed table: ${sch.fieldNames.toSeq}")
  }

  test("connector DV read is bit-equal to q_merge_dv's compacted resolution (gen1) on the shared fixture") {
    val s = spark
    import s.implicits._
    // build (or reuse) the q_merge_dv fixture + the dvlake scenario at
    // sf0.001 by running the registered query once
    graft.SparkEntry.queries("q_lake_read_dv")(s, sf0001).collect()
    val mcRoot = graft.ops.FixtureStore.root("mergedv", sf0001)
    val dvRoot = graft.ops.FixtureStore.root("dvlake", sf0001)
    val viaConnector = s.read.format("graftlake")
      .option("keyColumn", "custkey").load(dvRoot)
      .select("custkey", "nation", "bal")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val viaCompaction = s.read.parquet(s"$mcRoot/gen1")
      .select("custkey", "nation", "bal")
      .as[(Long, Long, Long)].collect().sorted.toSeq
      // gen1 holds only TOUCHED buckets; carried buckets come from gen0
    val carried = s.read.parquet(s"$mcRoot/gen0")
      .join(s.read.parquet(s"$mcRoot/gen1").select("bucket").distinct(),
        Seq("bucket"), "left_anti")
      .select("custkey", "nation", "bal")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(viaConnector === (viaCompaction ++ carried).sorted,
      "connector DV resolution must equal the q_merge_dv compaction")
    // and not one tombstone survives the masked read
    val tombs = s.read.parquet(s"$mcRoot/dv/v2").select("custkey")
      .as[Long].collect().toSet
    val updated = s.read.parquet(s"$mcRoot/append/v2").select("custkey")
      .as[Long].collect().toSet
    val servedDeleted = viaConnector.map(_._1)
      .filter(k => tombs(k) && !updated(k))
    assert(servedDeleted.isEmpty,
      s"deleted keys served through the connector: $servedDeleted")
  }

  test("compaction COMMUTES with a concurrent DV rival: the loser patches mask-plus-append and both land") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val locate =
      (p: String) => if (new java.io.File(p).isAbsolute) p else s"$root/$p"
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    // a DV rival lands BETWEEN the compactor's staging and its commit
    // (the deterministic race-injection seam)
    val v = graft.ops.Reorganize.compactPartition(s, root, "p1", "k",
      s"$root/compact", locate = locate,
      onFirstStage = () => {
        Seq(Tuple1(3L)).toDF("k")
          .repartition(1).write.parquet(s"$root/data/dvr/keys")
        Seq((12L, 120L)).toDF("k", "v")
          .repartition(1).write.parquet(s"$root/data/dvr/rows")
        CommitLog.tryCommit(root, Entry("dv", "dv", "data/dvr",
          Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((3L, 12L)))))
        ()
      })
    // slot numbers may gap (the loser's aborted first claim burns one)
    // — what matters is that BOTH commits landed, compaction last
    val committed = CommitLog.committedVersions(root)
    assert(committed.size === 3 && committed.max === v,
      s"both the DV rival and the rebased compaction must land: " +
        s"$committed, compaction at $v")
    val got = s.read.format("graftlake").load(root)
      .select("k", "v").as[(Long, Long)].collect().toMap
    val want = (1L to 10L).filterNot(_ == 3L).map(k => k -> k * 10L)
      .toMap + (12L -> 120L)
    assert(got === want,
      "the commuted compaction must carry the DV rival's delta")
  }
}
