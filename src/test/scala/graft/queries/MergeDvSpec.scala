package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_merge_dv — deletion-vector merge-on-read: the DV commit must
  * touch zero base files and cost a small fraction of the COW
  * rewrite's bytes; the masked read must apply the tombstones via a
  * broadcast anti-join (never a rewrite) and resolve to exactly the
  * COW merge's content; compaction must materialize the DVs away so
  * the compacted read consults no dv/ path. */
class MergeDvSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = SparkEntry.queries("q_merge_dv")(spark, sf0001)
    .collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  private lazy val root = graft.ops.FixtureStore.root("mergedv", sf0001)

  private def parquetFiles(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val d = new java.io.File(p)
    if (d.exists()) walk(d).filter(_.getName.endsWith(".parquet")) else Nil
  }

  test("masked read == compacted read == the COW merge's final content") {
    val (mN, mX, mS, _) = rows("read_masked")
    val (cN, cX, cS, _) = rows("zz_compacted")
    assert((mN, mX, mS) === (cN, cX, cS),
      "merge-on-read and the materialized compaction must resolve " +
        "to the same table")
    // cross-fixture: the DV tier resolves to EXACTLY what the
    // copy-on-write tier committed (same logical MERGE, two storage
    // strategies)
    val cow = SparkEntry.queries("q_merge_upsert")(spark, sf0001)
      .filter(col("row_kind") === "zz_final")
      .select("n_rows", "key_xor", "bal_sum")
      .as[(Long, Long, Long)].head()
    assert((mN, mX, mS) === cow,
      "DV-resolved content diverged from the COW merge's zz_final")
  }

  test("the DV commit rewrites no base file and costs a fraction of the COW rewrite") {
    rows // force the fixture
    // gen0 keeps exactly its one-file-per-bucket layout — nothing
    // under the base generation was rewritten or added
    val g0Files = parquetFiles(s"$root/gen0")
    val nBuckets = spark.read.parquet(s"$root/gen0")
      .select("pbucket").distinct().count()
    assert(g0Files.size.toLong === nBuckets,
      "base generation no longer one-file-per-bucket — something " +
        "rewrote or appended into gen0")
    // write amplification, in ROWS (the scale-true measure — at tiny
    // SF parquet's per-file header floor swamps byte counts): the DV
    // commit writes only the tombstone keys + the appended rows; the
    // COW merge rewrote every surviving row of every touched file
    val dvRows = spark.read.parquet(s"$root/dv/v2").count() +
      spark.read.parquet(s"$root/append/v2").count()
    val cowRoot = MaintenancePipelineQuery.ensureMerge(spark, sf0001)
    val cowMan = MaintenancePipelineQuery.mergeManifest(spark, cowRoot)
      .filter(_.rewritten)
    val cowRows = spark.read
      .parquet(cowMan.map(f => s"$cowRoot/${f.file}"): _*).count()
    assert(dvRows * 2 < cowRows,
      s"DV commit wrote $dvRows rows vs the COW rewrite's $cowRows — " +
        "merge-on-read should cost a fraction of copy-on-write")
    // bytes still bounded by the COW rewrite even at header-floor SF
    val dvBytes = (parquetFiles(s"$root/dv/v2") ++
      parquetFiles(s"$root/append/v2")).map(_.length).sum
    val cowBytes = cowMan
      .map(f => new java.io.File(s"$cowRoot/${f.file}").length).sum
    assert(dvBytes < cowBytes,
      s"DV commit ($dvBytes B) exceeds the COW rewrite ($cowBytes B)")
  }

  test("the masked read applies DVs via broadcast anti-join over the BASE scan; no tombstone survives") {
    rows
    val g0 = spark.read.parquet(s"$root/gen0")
    val dv = spark.read.parquet(s"$root/dv/v2")
    val masked = g0.join(broadcast(dv.select("custkey")),
        Seq("custkey"), "left_anti")
      .select("custkey", "bal")
      .unionAll(spark.read.parquet(s"$root/append/v2")
        .select("custkey", "bal"))
    val plan = masked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"masked read must be a broadcast anti-join, got:\n$plan")
    assert(plan.contains("gen0") && !plan.contains("gen1"),
      "masked read must scan the BASE generation only")
    // deleted keys are gone, update pre-images are gone, post-images
    // and inserts are present exactly once
    val byKey = masked.groupBy("custkey").count()
    assert(byKey.filter(col("count") > 1).count() === 0L,
      "merge-on-read duplicated a key")
    val tomb = dv.select("custkey").as[Long].collect().toSet
    assert(masked.filter(col("custkey").isin(tomb.toSeq: _*) &&
      !col("custkey").isin(spark.read.parquet(s"$root/append/v2")
        .select("custkey").as[Long].collect().toSeq: _*)).count() === 0L,
      "a tombstoned key (not re-asserted by the append) was served")
  }

  test("the compacted read consults no dv/ path — the carried set comes from commit-log metadata") {
    rows
    val g0 = spark.read.parquet(s"$root/gen0")
    val touched = graft.ops.CommitLog.readLog(root)
      .filter(_._2.op == "compact_dv").head._2.partitions.map(_.toLong)
    val compacted = g0.filter(!col("bucket").isin(touched: _*))
      .select("custkey", "bal")
      .unionAll(spark.read.parquet(s"$root/gen1").select("custkey", "bal"))
    val scans = compacted.queryExecution.executedPlan.toString
    assert(!scans.contains("/dv/"),
      s"compacted read still touches the DV tier:\n$scans")
    assert(scans.contains("gen1") && scans.contains("gen0"))
    // and it equals the masked read — compaction materialized the
    // DVs away without changing the resolved table
    val (mN, mX, mS, _) = rows("read_masked")
    val got = compacted
      .agg(count(lit(1)), expr("bit_xor(custkey)"), sum("bal"))
      .as[(Long, Long, Long)].head()
    assert(got === ((mN, mX, mS)))
  }
}
