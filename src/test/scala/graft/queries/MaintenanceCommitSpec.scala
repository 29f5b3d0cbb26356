package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.{CommitLog, VersionChain}
import graft.ops.CommitLog.{CommitConflict, Entry}
import org.apache.spark.sql.functions._

/** The maintenance tier's commits all route through the optimistic
  * [[CommitLog]] — one commit protocol, not two parallel ones: a
  * concurrent MERGE and compaction with OVERLAPPING partitions must
  * produce exactly one winner and one [[CommitConflict]]; the version
  * chain and merge fixtures must be log-resolved (a generation whose
  * commit never landed is invisible to every reader); and vacuum's
  * expiry must commit into the CLONE's own log, never the shared
  * owner's. */
class MaintenanceCommitSpec extends SparkSpec {
  import spark.implicits._

  test("a concurrent MERGE and compaction with overlapping buckets: exactly one winner, one CommitConflict, log serves only the winner") {
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_maintcommit_race"
    VersionChain.rmTree(new java.io.File(root))
    // base table: 160 keys range-bucketed into 16 buckets, log v1
    spark.range(1, 161)
      .select(col("id").as("custkey"), (col("id") * 10L).as("bal"))
      .withColumn("pbucket", expr("(custkey - 1) div 10"))
      .repartition(col("pbucket")).write.mode("overwrite")
      .partitionBy("pbucket").parquet(s"$root/gen0")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "gen0",
      (0L to 15L).map(_.toString), 0L))
    // both writers STAGE privately from the same v1 snapshot — data
    // staging happens entirely outside the commit critical section
    spark.read.parquet(s"$root/gen0").filter(col("pbucket") >= 12)
      .withColumn("bal", col("bal") + 1L)
      .write.mode("overwrite").partitionBy("pbucket")
      .parquet(s"$root/merge_out") // MERGE rewrites the hot tail 12..15
    spark.read.parquet(s"$root/gen0")
      .filter(col("pbucket").between(10, 13))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/compact_out") // compaction bin-packs 10..13
    // race the two commits — overlap {12, 13}
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val oks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val conflicts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(
      ("merge", "merge_out", (12L to 15L)),
      ("compact", "compact_out", (10L to 13L)))
    val threads = writers.map { case (w, out, parts) =>
      new Thread(() => {
        try {
          barrier.await()
          oks.put(w, CommitLog.tryCommit(root,
            Entry(w, w, out, parts.map(_.toString), 1L)))
        } catch {
          case e: CommitConflict => conflicts.add((w, e.getMessage))
          case t: Throwable => errs.add(t)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    assert(oks.size === 1 && conflicts.size === 1,
      s"expected exactly one winner + one conflict, got " +
        s"oks=${oks.keySet()} conflicts=${conflicts.size}")
    val winner = oks.keys().nextElement()
    val loser = writers.map(_._1).filterNot(_ == winner).head
    assert(conflicts.peek()._1 === loser)
    assert(conflicts.peek()._2.contains("rebase"),
      "the loser must be told to rebase")
    // the log serves the winner's data for a contested bucket, and
    // the loser's staged files are invisible to resolution
    val owners = CommitLog.resolvePartitions(root)
    val winnerOut = writers.find(_._1 == winner).get._2
    assert(owners("12")._2 === winnerOut)
    assert(owners("12")._1 === oks.get(winner))
    assert(!owners.valuesIterator.map(_._2).contains(
      writers.find(_._1 == loser).get._2))
    // content check: bucket 12 = custkeys 121..130; the MERGE bumped
    // each bal by 1, compaction preserved content
    val bal12 = spark.read.parquet(s"$root/${owners("12")._2}")
      .filter(col("pbucket") === 12)
      .agg(sum("bal")).head().getLong(0)
    val baseSum = (121L to 130L).map(_ * 10L).sum
    assert(bal12 === (if (winner == "merge") baseSum + 10 else baseSum))
    // untouched cold buckets still resolve to the base generation
    assert(owners("0") === (1L, "gen0"))
    VersionChain.rmTree(new java.io.File(root))
  }

  test("compaction COMMUTES with a concurrent row-level MERGE: both land, the resolved read equals the serial order, row ids survive") {
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_maintcommit_commute"
    VersionChain.rmTree(new java.io.File(root))
    // base: keys 1..100, stable row ids assigned at ingest (= key
    // here), bal = 10·key, one partition
    spark.range(1, 101)
      .select(col("id").as("row_id"), col("id").as("k"),
        (col("id") * 10L).as("bal"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/gen0")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", s"$root/gen0",
      Seq("p"), 0L))
    // the MERGE rival: keys 20..40 get bal+1, committed as a
    // KEY-DOMAIN layer (only its changed rows, row ids carried) —
    // injected BETWEEN the compactor's staging and its commit via the
    // onFirstStage hook (the deterministic race)
    spark.read.parquet(s"$root/gen0")
      .filter(col("k").between(20, 40))
      .withColumn("bal", col("bal") + 1L)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/merge_out")
    def commitMerge(): Long = CommitLog.tryCommit(root,
      Entry("merger", "merge", s"$root/merge_out", Seq("p"),
        CommitLog.stableVersion(root),
        keyDomains = Map("p" -> Seq((20L, 40L)))))
    val vCompact = graft.ops.Reorganize.compactPartition(spark, root,
      "p", "k", s"$root/compact",
      onFirstStage = () => { commitMerge(); () })
    // BOTH landed: ingest v1, merge v2, compaction at v4 (the
    // conflicted first claim left its aborted tombstone at slot 3 —
    // rebased, not given up) — and the compacted entry is a FULL
    // owner again
    assert(CommitLog.committedVersions(root) === Seq(1L, 2L, 4L))
    assert(vCompact === 4L)
    val layers = CommitLog.resolveLayers(root, "p")
    assert(layers.size === 1 && layers.head._1 === 4L,
      "the rebased compaction must shadow the rival layer")
    // the resolved read equals the SERIAL order (merge then compact):
    // every row id kept, keys 20..40 carry the merge's +1
    val got = spark.read.parquet(layers.head._2)
      .select("row_id", "k", "bal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = (1L to 100L).map(k =>
      (k, k, k * 10L + (if (k >= 20 && k <= 40) 1L else 0L)))
    assert(got === want,
      "rebased compaction diverged from the serial merge∘compact order")
    // a FULL-rewrite rival is NOT commutable: surfaces loudly
    spark.range(1, 101).select(col("id").as("row_id"), col("id").as("k"),
      lit(0L).as("bal")).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/full_out")
    intercept[graft.ops.Reorganize.NonCommutable] {
      graft.ops.Reorganize.compactPartition(spark, root, "p", "k",
        s"$root/compact2",
        onFirstStage = () => {
          CommitLog.tryCommit(root, Entry("rewriter", "rewrite",
            s"$root/full_out", Seq("p"), CommitLog.stableVersion(root)))
          ()
        })
    }
    VersionChain.rmTree(new java.io.File(root))
  }

  test("the version chain reads through the log: a commit that never resolved is invisible to every reader") {
    val shared = VersionChain.ensure(spark, sf0001)
    assert(CommitLog.committedVersions(shared) === Seq(1L, 2L, 3L, 4L),
      "every chain generation must be commit-resolved in the log")
    // owned copy with v4's slot torn away (a crash before the commit
    // point): chain v3 must vanish from the manifest and asOf(3)
    // must degrade to the newest surviving generation
    val owned =
      s"${System.getProperty("java.io.tmpdir")}/graft_maintcommit_torn"
    VersionChain.copyTo(shared, owned)
    VersionChain.rmTree(new java.io.File(s"$owned/commitlog/v4"))
    val log = VersionChain.manifest(spark, owned)
    assert(log.map(_.version) === Seq(0L, 1L, 2L),
      "an unresolved commit's manifest row must be invisible")
    val (c, df) = VersionChain.asOf(spark, owned, log, 3L)
    assert(c.path === "gen2" && df.count() > 0)
    // the intact shared chain still resolves all four
    assert(VersionChain.manifest(spark, shared).map(_.version) ===
      Seq(0L, 1L, 2L, 3L))
    VersionChain.rmTree(new java.io.File(owned))
  }

  test("the merge fixture's commits are in the log and the file manifest resolves through it") {
    val root = MaintenancePipelineQuery.ensureMerge(spark, sf0001)
    assert(CommitLog.committedVersions(root) === Seq(1L, 2L))
    val log = CommitLog.readLog(root)
    assert(log.head._2.op === "ingest")
    assert(log.last._2.op === "merge_upsert" &&
      log.last._2.dataPath === "filemanifest/v1",
      "the MERGE commit must name the file manifest (log→files)")
    // bucket resolution: cold buckets owned by the base ingest,
    // touched buckets by the merge commit
    val owners = CommitLog.resolvePartitions(root)
    val touched = log.last._2.partitions.toSet
    assert(touched.nonEmpty && owners.nonEmpty)
    for ((p, (v, _)) <- owners)
      assert(v === (if (touched(p)) 2L else 1L),
        s"bucket $p owned by wrong version $v")
    // and the manifest the query reads came through the log entry
    val man = MaintenancePipelineQuery.mergeManifest(spark, root)
    assert(man.nonEmpty && man.exists(_.rewritten) &&
      man.exists(!_.rewritten))
  }

  test("vacuum's expiry commit lands in the CLONE's own log, never the shared owner's") {
    SparkEntry.queries("q_vacuum")(spark, sf0001).collect()
    val clone = MaintenancePipelineQuery.vacuumRoot(sf0001)
    val cloneLog = CommitLog.readLog(clone)
    assert(CommitLog.committedVersions(clone) === Seq(1L, 2L, 3L, 4L, 5L),
      "the clone must carry the chain's four commits plus its expiry")
    assert(cloneLog.last._2.op === "expire" &&
      cloneLog.last._2.partitions === Seq("gen0", "gen1"))
    // the shared owner's log is untouched by the clone's commit
    assert(CommitLog.committedVersions(
        graft.ops.FixtureStore.root("verchain", sf0001)) ===
      Seq(1L, 2L, 3L, 4L))
  }
}
