package graft.io

import graft.SparkSpec
import graft.ops.{CommitLog, LakeRead}
import graft.ops.CommitLog.Entry
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The `graftlake` read connector: `spark.read.format("graftlake")`
  * must serve the commit-log table bit-equal to the Scala-API
  * resolution at head and at any versionAsOf/timestampAsOf, prune
  * partitions in the EXECUTED plan (numFiles shrinks, before any
  * listing), push data filters to parquet, materialize layered
  * key-domain partitions correctly, and stay consumable from plain
  * SQL (`CREATE TEMPORARY VIEW … USING graftlake`). */
class GraftLakeSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_spec").toString

  /** 3 day-partitions × 2 versions: ingest owns a,b,c at v1; a
    * sweeper rewrites partition a at v2. Hive `pday` layout. */
  private def buildLog(root: String): Unit = {
    val s = spark
    import s.implicits._
    def stage(path: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("k", "v", "pday").repartition(1)
        .write.partitionBy("pday").mode("overwrite")
        .parquet(s"$root/$path")
    stage("data/ingest", for {
      p <- Seq("a", "b", "c"); k <- 1L to 4L
    } yield (k, k * 10L, p))
    stage("data/sweep", Seq((1L, 111L, "a"), (3L, 333L, "a")))
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/ingest",
      Seq("a", "b", "c"), 0L))
    CommitLog.tryCommit(root, Entry("sweeper", "rewrite", "data/sweep",
      Seq("a"), 1L))
  }

  private def lake(root: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graftlake")
        .option("partitionColumn", "pday")) {
      case (r, (k, v)) => r.option(k, v)
    }.load(root)

  private def canon(df: DataFrame): Seq[(Long, Long, String)] = {
    val s = spark
    import s.implicits._
    df.select(col("k"), col("v"), col("pday"))
      .as[(Long, Long, String)].collect().sorted.toSeq
  }

  /** The manual Scala-API read the connector must be bit-equal to. */
  private def apiRead(root: String, asOf: Long): DataFrame =
    CommitLog.resolveAsOf(root, asOf).toSeq.map { case (p, (_, dp)) =>
      spark.read.parquet(s"$root/$dp/pday=$p")
        .withColumn("pday", lit(p))
    }.reduce(_ unionByName _)

  test("connector head read is bit-equal to the resolveAsOf read; versionAsOf and timestampAsOf time-travel") {
    val root = freshRoot()
    buildLog(root)
    assert(canon(lake(root)) === canon(apiRead(root, 2L)),
      "head read diverged from the Scala-API resolution")
    assert(canon(lake(root, "versionAsOf" -> "1")) ===
      canon(apiRead(root, 1L)),
      "versionAsOf=1 must serve the pure-ingest snapshot")
    // timestamp travel floors to the newest commit at or before ts
    assert(canon(lake(root,
      "timestampAsOf" -> s"${CommitLog.commitTimestamp(1L)}")) ===
      canon(apiRead(root, 1L)))
    assert(canon(lake(root,
      "timestampAsOf" -> s"${CommitLog.commitTimestamp(2L) + 1}")) ===
      canon(apiRead(root, 2L)))
    // sanity on the content itself: partition a rewritten, b/c carried
    val head = canon(lake(root)).filter(_._3 == "a").map(r => (r._1, r._2))
    assert(head === Seq((1L, 111L), (3L, 333L)))
  }

  test("partition pruning happens in the executed plan — pruned partitions are neither scanned nor listed") {
    val root = freshRoot()
    buildLog(root)
    val full = lake(root)
    val pruned = lake(root).filter(col("pday") === "b")
    full.collect()
    pruned.collect()
    def scanOf(df: DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }.get
    val fullFiles = scanOf(full).metrics("numFiles").value
    val prunedFiles = scanOf(pruned).metrics("numFiles").value
    assert(fullFiles === 3L, s"expected 3 partition files, got $fullFiles")
    assert(prunedFiles === 1L,
      s"pday='b' must scan exactly ONE partition's file, got $prunedFiles")
    assert(scanOf(pruned).partitionFilters.nonEmpty,
      "the partition filter must reach the scan node")
    // pruning also prunes the LISTING: a fresh relation with the
    // filter never listStatus-es the dropped partitions
    assert(canon(pruned) === canon(apiRead(root, 2L))
      .filter(_._3 == "b"))
    // data filters are pushed into parquet
    val pushed = lake(root).filter(col("k") === 3L)
    pushed.collect()
    assert(scanOf(pushed).metadata("PushedFilters").contains("EqualTo(k,3"),
      s"expected a pushed k=3 filter, got " +
        scanOf(pushed).metadata("PushedFilters"))
  }

  test("default read serves the STABLE head — never past an unresolved lower claim") {
    val root = freshRoot()
    buildLog(root) // v1, v2 committed
    // a stalled claim at slot 3 (entry written, never resolved), then
    // a disjoint commit at slot 4
    val stall = new java.io.File(s"$root/commitlog/v3")
    assert(stall.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(stall, "entry.tsv").toPath,
      "3\tstalled\top\tdata/stall\t2\tzz\n")
    CommitLog.tryCommit(root, Entry("w4", "rewrite", "data/sweep",
      Seq("a"), 2L))
    // the default read pins BELOW the stall: serving v4 would read a
    // state no snapshot can ever have if v3 later commits
    assert(canon(lake(root)) === canon(apiRead(root, 2L)),
      "default read must serve stableVersion, not latestCommitted")
    assert(canon(lake(root, "versionAsOf" -> "4")) ===
      canon(apiRead(root, 4L)),
      "an explicit versionAsOf may still read above the stall")
  }

  test("a layered key-domain partition reads correctly through the connector (merge-on-read materialization, cached once)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // single-partition layout (no partitionColumn): base keys 1..10,
    // two disjoint-range merges layered on top
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    (2L to 4L).map(k => (k, k * 20L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mA")
    (8L to 9L).map(k => (k, 0L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mB")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    CommitLog.tryCommit(root, Entry("mA", "merge", "data/mA",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((2L, 4L)))))
    CommitLog.tryCommit(root, Entry("mB", "merge", "data/mB",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((8L, 9L)))))
    def read() = spark.read.format("graftlake")
      .option("keyColumn", "k").load(root)
      .select("k", "v").as[(Long, Long)].collect().toMap
    val got = read()
    val want = (1L to 10L).map(k => k -> (
      if (k >= 2 && k <= 4) k * 20L
      else if (k >= 8 && k <= 9) 0L
      else k * 10L)).toMap
    assert(got === want,
      "connector layered read diverged from MERGE semantics")
    // the materialization is cached content-keyed: a second read
    // reuses it byte-for-byte (no rewrite — the _SUCCESS mtime holds)
    val cacheDir = new java.io.File(s"$root/_lake_cache")
      .listFiles().filter(_.isDirectory).head
    val success = new java.io.File(cacheDir, "_SUCCESS")
    assert(success.exists())
    val mtime = success.lastModified()
    assert(read() === want)
    assert(success.lastModified() === mtime,
      "the second read must reuse the cache, not re-materialize")
    // the virtual partition column is exposed and prunable
    val byPart = spark.read.format("graftlake").option("keyColumn", "k")
      .load(root).filter(col("_partition") === "p1")
    assert(byPart.count() === 10L)
    // without keyColumn an UNMATERIALIZED layer stack fails LOUDLY,
    // never partially (a new layer changes the stack key, so the
    // existing cache no longer covers it; a cache-hit read needs no
    // key and rightly succeeds above)
    (5L to 6L).map(k => (k, 1L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mC")
    CommitLog.tryCommit(root, Entry("mC", "merge", "data/mC",
      Seq("p1"), 3L, keyDomains = Map("p1" -> Seq((5L, 6L)))))
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graftlake").load(root).collect()
    }
    assert(ex.getMessage.contains("keyColumn"))
    // and WITH the key the new stack materializes on top of the old
    val got2 = read()
    assert(got2 === want ++ Map(5L -> 1L, 6L -> 1L))
  }

  test("WRITE path: Overwrite commits through the log — dynamic partition overwrite, time travel over writes, SaveMode contract") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "v", "pday")
    df((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .write.format("graftlake").option("partitionColumn", "pday")
      .mode("overwrite").save(root)
    assert(CommitLog.committedVersions(root) === Seq(1L))
    assert(canon(lake(root)) ===
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    // DYNAMIC partition overwrite: only the partitions in the data
    // change owner; b and c ride along by reference
    df((9L, 90L, "a")).write.format("graftlake")
      .option("partitionColumn", "pday").mode("overwrite").save(root)
    assert(canon(lake(root)) ===
      Seq((2L, 20L, "b"), (3L, 30L, "c"), (9L, 90L, "a")))
    assert(CommitLog.resolvePartitions(root)("b")._1 === 1L,
      "an untouched partition must keep its original owner")
    // time travel reads across the write history
    assert(canon(lake(root, "versionAsOf" -> "1")) ===
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    // SaveMode contract against an existing table
    intercept[IllegalStateException] {
      df((5L, 50L, "a")).write.format("graftlake")
        .option("partitionColumn", "pday").mode("errorifexists").save(root)
    }
    df((5L, 50L, "a")).write.format("graftlake")
      .option("partitionColumn", "pday").mode("ignore").save(root)
    assert(CommitLog.committedVersions(root) === Seq(1L, 2L),
      "SaveMode.Ignore must not commit")
    // a NULL partition key fails loudly, never a phantom partition
    val ex = intercept[IllegalArgumentException] {
      Seq((Some(6L), Some(60L), None: Option[String]))
        .toDF("k", "v", "pday").write.format("graftlake")
        .option("partitionColumn", "pday").mode("overwrite").save(root)
    }
    assert(ex.getMessage.contains("non-null"))
  }

  test("WRITE path: Append is read-modify-write at partition granularity; RACING appends to one partition both land with no lost update") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "pday")
      .write.format("graftlake").option("partitionColumn", "pday")
      .mode("overwrite").save(root)
    Seq((7L, 70L, "b")).toDF("k", "v", "pday")
      .write.format("graftlake").option("partitionColumn", "pday")
      .mode("append").save(root)
    assert(canon(lake(root)) ===
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (7L, 70L, "b")))
    assert(CommitLog.resolvePartitions(root)("a")._1 === 1L,
      "append must not rewrite the untouched partition")
    // the race that loses updates without the rebase: two appends to
    // the SAME partition from the same snapshot — the loser must
    // re-derive against the winner's commit, so BOTH rows survive
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = Seq(100L, 200L).map(k => new Thread(() =>
      try Seq((k, k * 10L, "a")).toDF("k", "v", "pday")
        .write.format("graftlake").option("partitionColumn", "pday")
        .option("writer", s"w$k").mode("append").save(root)
      catch { case t: Throwable => errs.add(t); () }))
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errs.isEmpty, s"racing append failed: ${errs.peek()}")
    assert(canon(lake(root)).filter(_._3 == "a").map(_._1).sorted ===
      Seq(1L, 100L, 200L),
      "a racing append lost an update — the rebase must re-derive")
  }

  test("WRITE path: flat single-partition layout round-trips and appends only its own partition") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    def put(part: String, mode: String, rows: (Long, Long)*): Unit =
      rows.toDF("k", "v").write.format("graftlake")
        .option("partition", part).mode(mode).save(root)
    put("p1", "overwrite", (1L, 10L), (2L, 20L))
    put("p2", "overwrite", (5L, 50L))
    put("p1", "append", (3L, 30L))
    val got = s.read.format("graftlake").load(root)
      .select("k", "v", "_partition").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(got === Seq((1L, 10L, "p1"), (2L, 20L, "p1"),
      (3L, 30L, "p1"), (5L, 50L, "p2")),
      "flat append must union ONLY its own partition's rows")
  }

  test("SCHEMA-AWARE logical read: rename/drop/re-add and schema time travel through the connector") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // physical data under immutable ids c1..c3, one flat partition
    Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("c1", "c2", "c3")
      .write.format("graftlake").option("partition", "p1")
      .mode("overwrite").save(root) // v1
    def commitMapping(v: Long, change: String,
                      rows: (String, String, String)*): Unit = {
      rows.toSeq.toDF("logical", "physical", "dtype").coalesce(1)
        .write.parquet(s"$root/schema/v$v")
      assert(CommitLog.commitSchema(root, "admin", change,
        s"schema/v$v", v - 1) === v)
    }
    commitMapping(2L, "init",
      ("a", "c1", "bigint"), ("b", "c2", "string"), ("m", "c3", "bigint"))
    commitMapping(3L, "rename",
      ("a", "c1", "bigint"), ("b_renamed", "c2", "string"),
      ("m", "c3", "bigint"))
    commitMapping(4L, "drop_add",
      ("a", "c1", "bigint"), ("b2", "c9", "string"),
      ("m", "c3", "bigint")) // c9: FRESH id, absent in every file
    def at(v: Long) = GraftLakeSource.logicalRead(s, root, Some(v))
    // pre-schema read passes the physical table through
    assert(at(1L).columns.sorted.toSeq ===
      Seq("_partition", "c1", "c2", "c3"))
    // the initial mapping serves logical names over the same bytes
    assert(at(2L).columns.toSeq === Seq("a", "b", "m", "_partition"))
    assert(at(2L).select("a", "b", "m").as[(Long, String, Long)]
      .collect().sorted.toSeq === Seq((1L, "x", 10L), (2L, "y", 20L)))
    // schema TIME TRAVEL: the rename at v3, the old names at v2
    assert(at(3L).columns.take(3).toSeq === Seq("a", "b_renamed", "m"))
    assert(at(3L).select("b_renamed").as[String].collect().sorted.toSeq ===
      Seq("x", "y"))
    // the re-added column under a FRESH physical id reads all-NULL —
    // never resurrecting c2's bytes
    val v4 = at(4L)
    assert(v4.columns.take(3).toSeq === Seq("a", "b2", "m"))
    assert(v4.filter(col("b2").isNull).count() === 2L)
    assert(v4.select("m").as[Long].collect().sorted.toSeq ===
      Seq(10L, 20L))
    // the default head equals the newest mapping
    assert(GraftLakeSource.logicalRead(s, root).columns.toSeq ===
      v4.columns.toSeq)
    // and the raw connector still serves PHYSICAL ids (schema entries
    // are metadata — the reserved partition never leaks as data)
    assert(s.read.format("graftlake").load(root).columns.sorted.toSeq ===
      Seq("_partition", "c1", "c2", "c3"))
  }

  test("STREAMING sink: writeStream.format(graftlake) is exactly-once — accumulates per partition, survives kill/restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = freshRoot()
    val ckpt = s"$root/_sink_ckpt"
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    def start() = in.toDF().toDF("k", "v", "pday")
      .writeStream.format("graftlake")
      .option("root", root)
      .option("partitionColumn", "pday")
      .option("streamId", "s1")
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      in.addData((1L, 10L, "a"), (2L, 20L, "b"))
      q1.processAllAvailable()
      in.addData((3L, 30L, "a"))
      q1.processAllAvailable()
    } finally q1.stop()
    // append ACCUMULATES within a partition across batches (batch 1's
    // partition-a rows must not shadow batch 0's)
    assert(canon(lake(root)) ===
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a")))
    assert(CommitLog.committedVersions(root).size === 2)
    assert(graft.ops.StreamCommit.lastCommittedBatch(root, "s1") ===
      Some(1L))
    // KILL/RESTART with the same checkpoint: the engine re-delivers
    // nothing already committed; a new batch lands exactly once
    val q2 = start()
    try {
      in.addData((4L, 40L, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(CommitLog.committedVersions(root).size === 3,
      "the restart must not re-apply committed batches")
    assert(canon(lake(root)) === Seq((1L, 10L, "a"), (2L, 20L, "b"),
      (3L, 30L, "a"), (4L, 40L, "c")))
    // a DIRECT re-delivery of an old batch id is skipped before
    // staging (the at-least-once crash window, forced by hand)
    val sink = new GraftLakeSink(s.sqlContext, root, "s1",
      Some("pday"), None, org.apache.spark.sql.streaming.OutputMode.Append(),
      Map("root" -> root, "partitionColumn" -> "pday"))
    sink.addBatch(0L, Seq((99L, 990L, "a")).toDF("k", "v", "pday"))
    assert(CommitLog.committedVersions(root).size === 3,
      "a re-delivered batch id must be skipped, not re-applied")
    assert(canon(lake(root)).size === 4)
    // an EMPTY micro-batch commits the sentinel partition — and the
    // table stays fully readable (a zero-file partition lists empty,
    // never breaks the connector's listing or schema inference)
    sink.addBatch(3L, Seq.empty[(Long, Long, String)]
      .toDF("k", "v", "pday"))
    assert(CommitLog.committedVersions(root).size === 4)
    assert(graft.ops.StreamCommit.lastCommittedBatch(root, "s1") ===
      Some(3L), "the empty batch must still advance the watermark")
    assert(canon(lake(root)).size === 4,
      "the sentinel partition must not change the table content")
  }

  test("STREAMING source: readStream.format(graftlake) tails data rows by commit version — paced, live, restart-exact") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    buildLog(root) // v1 ingest(a,b,c), v2 rewrite(a) — a backlog
    val ckpt = s"$root/_src_ckpt"
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Set[(Long, Long, String, Long)]]()
    def start() = s.readStream.format("graftlake")
      .option("root", root).option("partitionColumn", "pday")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("k", "v", "pday", "_commit_version")
          .as[(Long, Long, String, Long)].collect().toSet
        if (rows.nonEmpty) batches.add(rows)
        ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the backlog drains ONE VERSION PER BATCH (pacing)
      val drained = batches.toArray(
        Array.empty[Set[(Long, Long, String, Long)]]).toSeq
      assert(drained.size === 2, s"expected 2 paced batches, got " +
        s"${drained.size}")
      assert(drained(0).map(_._4) === Set(1L) &&
        drained(0).size === 12,
        "batch 1 must carry exactly v1's staged rows")
      assert(drained(1) === Set((1L, 111L, "a", 2L), (3L, 333L, "a", 2L)),
        "batch 2 must carry exactly v2's staged rows (the rewrite)")
      // a LIVE commit while the stream runs
      Seq((9L, 900L, "b")).toDF("k", "v", "pday")
        .repartition(1).write.partitionBy("pday").mode("overwrite")
        .parquet(s"$root/data/w3")
      CommitLog.tryCommit(root, Entry("w3", "rewrite", "data/w3",
        Seq("b"), 2L))
      q1.processAllAvailable()
      assert(batches.size === 3)
      assert(batches.toArray(Array.empty[Set[(Long, Long, String, Long)]])
        .last === Set((9L, 900L, "b", 3L)))
    } finally q1.stop()
    // KILL/RESTART: a commit lands while the consumer is down; only
    // the new version is delivered (checkpointed offsets replay exact)
    Seq((7L, 700L, "c")).toDF("k", "v", "pday")
      .repartition(1).write.partitionBy("pday").mode("overwrite")
      .parquet(s"$root/data/w4")
    CommitLog.tryCommit(root, Entry("w4", "rewrite", "data/w4",
      Seq("c"), 3L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.size === 4,
      "the restart must deliver exactly the one missed version")
    assert(batches.toArray(Array.empty[Set[(Long, Long, String, Long)]])
      .last === Set((7L, 700L, "c", 4L)))
    // PACING AFTER A CLEAN RESTART must resume from the engine's
    // committed position, not startingVersion: the engine re-plans no
    // batch (nothing uncommitted) and only calls commit(end) — a
    // source that forgot it would return min(stable, startV + m),
    // BELOW the engine's offset, and livelock forever
    val src = new GraftLakeStreamSource(s, root,
      Map("root" -> root, "partitioncolumn" -> "pday",
        "maxversionspertrigger" -> "1"))
    src.commit(GraftLakeOffset(3L)) // the clean-restart callback
    assert(src.getOffset.map(_.json) === Some("4"),
      "paced getOffset must advance from the committed position")
  }

  test("write-path MANIFESTS are authoritative: reads plan from the manifest, alien files are invisible; no manifest = listing fallback") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "pday")
      .write.format("graftlake").option("partitionColumn", "pday")
      .mode("overwrite").save(root)
    // the staged owner carries its manifest
    val (_, dp) = CommitLog.resolvePartitions(root)("a")
    val ownerDir = new java.io.File(root, dp)
    assert(new java.io.File(ownerDir, "_MANIFEST.tsv").exists(),
      "the write path must emit a manifest beside the staged data")
    assert(canon(lake(root)) === Seq((1L, 10L, "a"), (2L, 20L, "b")))
    // plant an ALIEN parquet file inside partition a's directory (a
    // torn write / stray file): the manifest is the commit's
    // authoritative file set, so the read must NOT see its rows
    val tmp = s"${java.nio.file.Files.createTempDirectory("alien")}/out"
    Seq((999L, 9990L)).toDF("k", "v").coalesce(1).write.parquet(tmp)
    val alienSrc = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(alienSrc.toPath,
      new java.io.File(s"$ownerDir/pday=a/alien.parquet").toPath)
    assert(canon(lake(root)) === Seq((1L, 10L, "a"), (2L, 20L, "b")),
      "a file outside the manifest must be invisible to readers")
    // removing the manifest falls back to LISTING — the alien file
    // becomes visible, proving the manifest path really served the
    // previous read (zero listStatus, not listing-plus-filter)
    assert(new java.io.File(ownerDir, "_MANIFEST.tsv").delete())
    assert(canon(lake(root)).toSet ===
      Set((1L, 10L, "a"), (2L, 20L, "b"), (999L, 9990L, "a")),
      "without a manifest the fallback must be a plain listing")
  }

  test("VACUUM reclaims aborted staging, stale layered caches, and zombie sink staging — live state untouched") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // a layered table: base + one merge layer, read once (cache built)
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    (2L to 4L).map(k => (k, k * 20L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mA")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    CommitLog.tryCommit(root, Entry("mA", "merge", "data/mA",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((2L, 4L)))))
    s.read.format("graftlake").option("keyColumn", "k").load(root)
      .count()
    val cacheRoot = new java.io.File(s"$root/_lake_cache")
    assert(cacheRoot.listFiles().count(_.isDirectory) === 1)
    // COMPACTION re-keys the partition to a full owner: the old
    // layered cache becomes unreachable — but it must still AGE
    // through retention before the sweep (a long-running reader that
    // resolved pre-compaction may be mid-scan on it)
    graft.ops.Reorganize.compactPartition(s, root, "p1", "k",
      s"$root/compact", locate =
        p => if (new java.io.File(p).isAbsolute) p else s"$root/$p")
    val staleCache = cacheRoot.listFiles().filter(_.isDirectory).head
    assert(!GraftLakeSource.vacuum(root)
      .exists(_.startsWith("_lake_cache/")),
      "an in-retention stale cache must survive (reader race)")
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
      if (f.isDirectory) f.listFiles().foreach(ageTree)
    }
    ageTree(staleCache)
    // an ABORTED writer's staging (the loser physically staged first)
    (1L to 3L).map(k => (k, 0L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/loser")
    intercept[CommitLog.CommitConflict] {
      CommitLog.tryCommit(root, Entry("loser", "rewrite", "data/loser",
        Seq("p1"), CommitLog.stableVersion(root) - 1))
    }
    // ZOMBIE sink staging: an unreferenced dir in the sink namespace,
    // older than retention — plus a FRESH one that must survive
    val zombie = new java.io.File(s"$root/data/stream_s1/b9_r1_dead")
    assert(zombie.mkdirs())
    zombie.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    val fresh = new java.io.File(s"$root/data/stream_s1/b10_r2_live")
    assert(fresh.mkdirs())
    val swept = GraftLakeSource.vacuum(root)
    assert(swept.contains("data/loser"),
      "the aborted writer's staging must be reclaimed")
    assert(swept.exists(_.startsWith("_lake_cache/")),
      "the re-keyed (stale) layered cache must be reclaimed")
    assert(swept.contains("data/stream_s1/b9_r1_dead"),
      "old unreferenced sink staging must be reclaimed")
    assert(!swept.contains("data/stream_s1/b10_r2_live") &&
      fresh.exists(),
      "in-retention sink staging must survive (a live sink may own it)")
    // the table stays fully readable; a second vacuum is a no-op
    assert(s.read.format("graftlake").load(root).count() === 10L)
    assert(GraftLakeSource.vacuum(root).isEmpty)
    // EXPIRED-BUT-FOLDED owners survive: a sink commit whose slot is
    // checkpoint-folded and physically expired is referenced only via
    // the fold — sweeping its (old) staging would be data loss
    val sinkOwned = new java.io.File(s"$root/data/stream_s2/b0_r4_ok")
    assert(sinkOwned.mkdirs())
    Seq((77L, 770L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(sinkOwned.getPath)
    assert(graft.ops.StreamCommit.commitBatch(root, "s2", 0L,
      () => ("data/stream_s2/b0_r4_ok", Seq("p2"))).isDefined)
    val ck = CommitLog.checkpoint(root)
    CommitLog.expireBelow(root, ck)
    sinkOwned.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    assert(!GraftLakeSource.vacuum(root)
      .contains("data/stream_s2/b0_r4_ok"),
      "a checkpoint-folded owner's staging must never be swept")
    assert(s.read.format("graftlake").load(root)
      .where(col("_partition") === "p2").count() === 1L)
    // a batch writer that crashed BEFORE claiming a slot: its staging
    // is referenced by NO entry (the precise aborted-entry sweep can't
    // see it) — reclaimed by age + non-reference once past retention,
    // while a fresh unreferenced dir and every referenced owner survive
    val crashed = new java.io.File(s"$root/data/crashed_writer_ab12")
    assert(crashed.mkdirs())
    crashed.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    val freshBatch = new java.io.File(s"$root/data/live_writer_cd34")
    assert(freshBatch.mkdirs())
    val sweptBatch = GraftLakeSource.vacuum(root)
    assert(sweptBatch.contains("data/crashed_writer_ab12"),
      "aged unreferenced batch staging must be reclaimed")
    assert(!sweptBatch.contains("data/live_writer_cd34") &&
      freshBatch.exists(),
      "in-retention batch staging must survive")
    assert(s.read.format("graftlake").load(root).count() === 11L,
      "referenced owners must survive the generic data/ sweep")
    // an IN-FLIGHT claim's staging survives too (the stalled writer
    // can still commit)
    val stalled = new java.io.File(s"$root/data/stream_s3/b0_r5_live")
    assert(stalled.mkdirs())
    stalled.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    val slot = new java.io.File(s"$root/commitlog/v" +
      (CommitLog.latestCommitted(root) + 1))
    assert(slot.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(slot, "entry.tsv").toPath,
      s"9\ts3\tstream:0\tdata/stream_s3/b0_r5_live\t$ck\tp3\n")
    assert(!GraftLakeSource.vacuum(root)
      .contains("data/stream_s3/b0_r5_live"),
      "an in-flight claim's staging must never be swept")
  }

  test("layered-cache publish is ATOMIC: concurrent materializations never interleave into the shared path; losers clean up; torn squatters are cleared") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    (10L to 40L).map(k => (k, k * 20L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mA")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    CommitLog.tryCommit(root, Entry("mA", "merge", "data/mA",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((10L, 40L)))))
    // two readers race the FIRST materialization of one stack: with
    // check-then-overwrite into the final path both jobs share its
    // _temporary dir and the survivor can carry BOTH jobs' part files
    // (doubled rows) under a valid _SUCCESS — the atomic attempt+rename
    // publish makes that impossible
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (1 to 2).map(_ => new Thread(() =>
      try counts.add(s.read.format("graftlake").option("keyColumn", "k")
        .load(root).count())
      catch { case t: Throwable => errs.add(t); () }))
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errs.isEmpty, s"racing materialization failed: ${errs.peek()}")
    assert(counts.toArray(Array.empty[java.lang.Long]).toSeq ===
      Seq(100L, 100L).map(java.lang.Long.valueOf),
      "a racing materialization corrupted the shared cache (row count)")
    val cacheRoot = new java.io.File(s"$root/_lake_cache")
    val dirs = cacheRoot.listFiles().filter(_.isDirectory)
    assert(dirs.count(_.getName.startsWith("_attempt_")) === 0,
      "the losing attempt dir must be deleted after the publish race")
    assert(dirs.length === 1, "exactly one published cache expected")
    // loser semantics directly: an attempt against an already-published
    // cache is deleted, the winner's cache untouched
    val cache = dirs.head
    val before = cache.listFiles().map(_.getName).toSet
    val attempt = new java.io.File(cacheRoot, "_attempt_loser")
    assert(attempt.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(attempt, "_SUCCESS").toPath, "")
    GraftLakeSource.publishCache(attempt, cache)
    assert(!attempt.exists(), "the losing attempt must be cleaned up")
    assert(cache.listFiles().map(_.getName).toSet === before,
      "the winner's published cache must be untouched")
    // a TORN pre-publish squatter (no _SUCCESS) is cleared and the
    // publish retried — only an atomically-published cache is trusted
    val torn = new java.io.File(cacheRoot, "torn_key")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(torn, "part-junk").toPath, "junk")
    val attempt2 = new java.io.File(cacheRoot, "_attempt_retry")
    assert(attempt2.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(attempt2, "_SUCCESS").toPath, "")
    GraftLakeSource.publishCache(attempt2, torn)
    assert(new java.io.File(torn, "_SUCCESS").exists() &&
      !new java.io.File(torn, "part-junk").exists(),
      "a torn squatter must be cleared and the attempt published")
  }

  test("cacheName cannot alias distinct partitions through sanitization; heartbeat keeps an actively-read stale cache alive across vacuum") {
    // sanitization collision: 'a/b' and 'a_b' sanitize identically —
    // the raw-name hash must keep their cache keys distinct, or one
    // partition's materialized rows would be served as the other's
    val stack = Seq((1L, "data/base", None),
      (2L, "data/m", Some(Seq((1L, 5L)))))
    assert(GraftLakeSource.cacheName("a/b", stack) !==
      GraftLakeSource.cacheName("a_b", stack),
      "sanitization-colliding partitions must get distinct cache keys")
    // heartbeat: a cache whose stack was re-keyed (stale) but that is
    // still ACTIVELY READ via versionAsOf time travel must never be
    // vacuumed mid-use — each read refreshes the dir mtime
    val s = spark
    import s.implicits._
    val root = freshRoot()
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/base")
    (2L to 4L).map(k => (k, k * 20L)).toDF("k", "v")
      .repartition(1).write.parquet(s"$root/data/mA")
    CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
      Seq("p1"), 0L))
    CommitLog.tryCommit(root, Entry("mA", "merge", "data/mA",
      Seq("p1"), 1L, keyDomains = Map("p1" -> Seq((2L, 4L)))))
    def readV2() = s.read.format("graftlake").option("keyColumn", "k")
      .option("versionAsOf", "2").load(root).count()
    assert(readV2() === 10L) // materializes the v1_v2d2-4 cache
    // compaction re-keys the head: the v2 cache is now STALE relative
    // to the current resolution, but still serves versionAsOf=2 reads
    graft.ops.Reorganize.compactPartition(s, root, "p1", "k",
      s"$root/compact", locate =
        p => if (new java.io.File(p).isAbsolute) p else s"$root/$p")
    val cacheDir = new java.io.File(s"$root/_lake_cache")
      .listFiles().filter(d => d.isDirectory &&
        !d.getName.startsWith("_attempt_")).head
    // age it past retention, then READ it — the heartbeat must pull it
    // back inside the window, so vacuum leaves it alone
    cacheDir.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    assert(readV2() === 10L) // cache hit refreshes the heartbeat
    assert(!GraftLakeSource.vacuum(root)
      .exists(_.startsWith("_lake_cache/")),
      "an actively-read time-travel cache must survive vacuum")
    assert(readV2() === 10L, "and keep serving reads afterwards")
  }

  test("an EMPTY first micro-batch never wedges a hive-layout Append sink: the next non-empty batch accumulates and commits") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val sink = new GraftLakeSink(s.sqlContext, root, "sE",
      Some("pday"), None,
      org.apache.spark.sql.streaming.OutputMode.Append(),
      Map("root" -> root, "partitionColumn" -> "pday"))
    // batch 0 is EMPTY: only the sentinel partition commits (v1), and
    // the table has ZERO readable data files
    sink.addBatch(0L, Seq.empty[(Long, Long, String)]
      .toDF("k", "v", "pday"))
    assert(CommitLog.committedVersions(root) === Seq(1L))
    // batch 1 takes the accumulate leg against base=1 — before the
    // dataSchemaJson fallback this threw 'no readable data files at
    // v1', addBatch failed, and every restart re-delivered it (a
    // permanent crash loop)
    sink.addBatch(1L, Seq((1L, 10L, "a")).toDF("k", "v", "pday"))
    assert(CommitLog.committedVersions(root) === Seq(1L, 2L),
      "the non-empty batch after an empty first batch must commit")
    assert(canon(lake(root)) === Seq((1L, 10L, "a")))
    // and the stream keeps flowing normally afterwards
    sink.addBatch(2L, Seq((2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("k", "v", "pday"))
    assert(canon(lake(root)) ===
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")))
  }

  test("the write path scans its input exactly ONCE per save — touched partitions come from the staged manifest, never a second pass") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // count executions that scan OUR input (tagged by a unique column
    // name, so concurrent suites on the shared session can't pollute)
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val n = qe.executedPlan.collect {
          case l: org.apache.spark.sql.execution.LocalTableScanExec
            if l.output.exists(_.name == "k_onescan_probe") => l
        }.size
        scans.addAndGet(n); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    def drain(): Unit = { // listener bus is async
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline &&
          last != scans.get()) { last = scans.get(); Thread.sleep(150) }
    }
    try {
      Seq((1L, "a"), (2L, "b")).toDF("k_onescan_probe", "pday")
        .write.format("graftlake").option("partitionColumn", "pday")
        .mode("overwrite").save(root)
      drain()
      assert(scans.get() === 1,
        s"OVERWRITE must scan its input exactly once, got ${scans.get()}")
      scans.set(0)
      Seq((3L, "a")).toDF("k_onescan_probe", "pday")
        .write.format("graftlake").option("partitionColumn", "pday")
        .mode("append").save(root)
      drain()
      assert(scans.get() === 1,
        s"APPEND must scan its input exactly once (the accumulate " +
          s"attempt unions the STAGED read-back, not the input), got " +
          s"${scans.get()}")
      // the append's private input staging is reclaimed after commit:
      // every data/ dir is referenced by a committed or aborted entry
      val referenced = CommitLog.referencedPaths(root)
      val dataDirs = new java.io.File(s"$root/data").listFiles()
        .filter(_.isDirectory).map(d => s"data/${d.getName}").toSet
      assert(dataDirs.subsetOf(referenced),
        s"unreferenced staging leaked: ${dataDirs -- referenced}")
    } finally s.listenerManager.unregister(listener)
    // and the result is still correct
    assert(s.read.format("graftlake").option("partitionColumn", "pday")
      .load(root).select("k_onescan_probe", "pday")
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "a")))
  }

  test("sizeInBytes is served from COMMIT-ENTRY stats — zero filesystem calls — and a small lake dimension auto-broadcasts in a join") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    (1L to 20L).map(k => (k, k * 10L, s"p${k % 3}"))
      .toDF("k", "v", "pday")
      .write.format("graftlake").option("partitionColumn", "pday")
      .mode("overwrite").save(root)
    // the committed entry carries per-partition byte stats equal to
    // the manifest's file sizes
    val (_, entry) = CommitLog.readLog(root).last
    assert(entry.partBytes.keySet === Set("p0", "p1", "p2"))
    val (_, dp) = CommitLog.resolvePartitions(root)("p0")
    val manifestBytes = java.nio.file.Files.readString(
      new java.io.File(s"$root/$dp/_MANIFEST.tsv").toPath)
      .split("\n").filter(_.nonEmpty).map(_.split("\t"))
      .groupMapReduce(_.apply(1))(_.apply(2).toLong)(_ + _)
    assert(entry.partBytes === manifestBytes,
      "entry stats must equal the staged manifest's per-partition bytes")
    // a FileIndex with full stats coverage never calls its lister for
    // sizeInBytes — the planner pays zero filesystem RPCs
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val idx = new GraftLakeFileIndex(root,
      Map("p0" -> "x", "p1" -> "y"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pday",
          org.apache.spark.sql.types.StringType, nullable = false))),
      _ => { calls.incrementAndGet(); Nil },
      Map("p0" -> 100L, "p1" -> 200L))
    assert(idx.sizeInBytes === 300L)
    assert(calls.get() === 0,
      "sizeInBytes with full entry stats must never list")
    // and the REAL relation's planner estimate equals the entry stats
    val rel = s.read.format("graftlake").option("partitionColumn", "pday")
      .load(root)
    val location = rel.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location
    }.get
    assert(location.sizeInBytes === entry.partBytes.values.sum,
      "the planner's sizeInBytes must be the entry-stats total")
    // the stats total is far under the broadcast threshold, so a join
    // against a larger frame broadcasts the LAKE side — from metadata
    // alone, no listing at plan time
    val big = s.range(0, 10000).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    val joined = big.join(rel, Seq("k"))
    joined.collect()
    // the executed plan is an AdaptiveSparkPlanExec LEAF — string-render
    // it to see the final adaptive plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a small lake dimension must auto-broadcast from entry stats:\n$plan")
    // streaming-sink commits carry stats too
    val sink = new GraftLakeSink(s.sqlContext, root, "sStats",
      Some("pday"), None,
      org.apache.spark.sql.streaming.OutputMode.Append(),
      Map("root" -> root, "partitionColumn" -> "pday"))
    sink.addBatch(0L, Seq((21L, 210L, "p9")).toDF("k", "v", "pday"))
    val (_, sinkEntry) = CommitLog.readLog(root).last
    assert(sinkEntry.op.startsWith("stream:") &&
      sinkEntry.partBytes.keySet === Set("p9"),
      "sink commits must carry per-partition stats")
  }

  test("a versionAsOf read of an entry that records its data schema starts no job; an entry without it reads the same rows through the footer probe") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    def put(rows: Seq[(Long, Long, String)], mode: String): Unit =
      rows.toDF("k", "v", "pday").write.format("graftlake")
        .option("partitionColumn", "pday").mode(mode).save(root)
    put((1L to 12L).map(k => (k, k * 10L, s"p${k % 3}")), "overwrite")
    put(Seq((13L, 130L, "p1")), "append")
    assert(CommitLog.readLog(root).map(_._2.dataSchema.map(_.fieldNames.toSeq)) ===
      Seq(Some(Seq("k", "v")), Some(Seq("k", "v"))))
    val (v1, jobs) = JobCount.of(s.sparkContext)(lake(root, "versionAsOf" -> "1"))
    assert(jobs === 0)
    val (head, headJobs) = JobCount.of(s.sparkContext)(lake(root))
    assert(headJobs === 0)
    val (v1Rows, headRows) = (canon(v1), canon(head))
    assert(v1Rows.length === 12 && headRows.length === 13)
    // drop the trailing schema column, as in an entry written before it
    for (slot <- new java.io.File(root, "commitlog").listFiles() if slot.isDirectory) {
      val f = new java.io.File(slot, "entry.tsv").toPath
      val fields = java.nio.file.Files.readString(f).stripLineEnd.split("\t", -1)
      java.nio.file.Files.writeString(f, fields.dropRight(1).mkString("\t") + "\n")
    }
    assert(CommitLog.readLog(root).map(_._2.dataSchema) === Seq(None, None))
    val (probed, probeJobs) = JobCount.of(s.sparkContext)(lake(root, "versionAsOf" -> "1"))
    assert(probeJobs > 0, "an entry without a schema is read through the footer probe")
    assert(probed.schema === v1.schema)
    assert(canon(probed) === v1Rows)
    assert(canon(lake(root)) === headRows)
  }

  test("plain SQL consumes the table: CREATE TEMPORARY VIEW ... USING graftlake") {
    val root = freshRoot()
    buildLog(root)
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW lake_head
      USING graftlake
      OPTIONS (path '$root', partitionColumn 'pday')""")
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW lake_v1
      USING graftlake
      OPTIONS (path '$root', partitionColumn 'pday', versionAsOf '1')""")
    val head = spark.sql(
      "SELECT pday, count(*) n, sum(v) s FROM lake_head GROUP BY pday")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(head === Seq(("a", 2L, 444L), ("b", 4L, 100L), ("c", 4L, 100L)))
    val v1a = spark.sql(
      "SELECT sum(v) FROM lake_v1 WHERE pday = 'a'").head().getLong(0)
    assert(v1a === 100L, "SQL time travel must see the v1 snapshot")
  }
}
