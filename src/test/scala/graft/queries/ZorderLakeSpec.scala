package graft.queries

import graft.SparkSpec
import graft.ops.CommitLog
import graft.ops.CommitLog.Entry
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The z-order layout as a COMMITTED lake generation: the layout
  * write is an `optimize` commit through the graftlake log, the
  * per-tile manifest + stats survive the commit, z-tile predicates
  * prune in the connector's FileIndex before listing, and the
  * reorganization commutes with a concurrent key-domain MERGE. */
class ZorderLakeSpec extends SparkSpec {

  private def root: String = graft.ops.FixtureStore.root("zorder_lake", sf0001)

  private def build(): Unit =
    graft.SparkEntry.queries("q_zorder_layout")(spark, sf0001).collect()

  test("the layout is a committed optimize generation with per-tile manifests and stats; z-tile predicates prune in the FileIndex") {
    build()
    // exactly one committed generation, op = optimize
    val log = CommitLog.readLog(root)
    assert(log.map(_._2.op) === Seq("optimize"),
      s"the layout must be one optimize commit, got ${log.map(_._2.op)}")
    val (_, entry) = log.head
    assert(entry.partitions.nonEmpty && entry.partBytes.nonEmpty,
      "the optimize commit must carry its tile partitions and stats")
    // the staged generation carries its manifest (listing-free reads)
    assert(new java.io.File(s"$root/${entry.dataPath}/_MANIFEST.tsv")
      .exists(), "the z-manifest must survive the commit")
    // a z-range predicate maps to file_id tiles and PRUNES the scan:
    // the FileIndex drops non-candidate tiles before listing them
    def lake = spark.read.format("graftlake")
      .option("partitionColumn", "file_id").load(root)
    val nTiles = entry.partitions.size
    val cand = entry.partitions.sorted.take(2)
    val pruned = lake.filter(col("file_id").isin(cand: _*))
    val full = lake
    pruned.collect(); full.collect()
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }.get
    val prunedFiles = scanOf(pruned).metrics("numFiles").value
    val fullFiles = scanOf(full).metrics("numFiles").value
    assert(prunedFiles < fullFiles && prunedFiles > 0,
      s"tile pruning must cut the scan: $prunedFiles vs $fullFiles " +
        s"($nTiles tiles)")
    // every row in a tile is inside the tile's z-range (the pruning
    // SAFETY invariant — skipping never hides a matching row)
    val bad = lake.withColumn("fid", col("file_id").cast("long"))
      .filter(expr("(z >> 28) != fid")).count()
    assert(bad === 0L, "a z value landed outside its tile")
  }

  test("the optimize generation COMMUTES with a concurrent key-domain MERGE (Reorganize patches, both land, serial content)") {
    val s = spark
    import s.implicits._
    build()
    val tile = CommitLog.readLog(root).head._2.partitions.sorted.head
    // layout-aware locate: the optimize owner stages hive tile dirs,
    // a merge layer stages flat — probe for the tile subdir
    val locate = (p: String) => {
      val abs = if (new java.io.File(p).isAbsolute) p else s"$root/$p"
      val hive = new java.io.File(s"$abs/file_id=$tile")
      if (hive.isDirectory) hive.getPath else abs
    }
    val before = s.read.format("graftlake")
      .option("partitionColumn", "file_id").load(root)
      .filter(col("file_id") === tile)
      .select("z").as[Long].collect().toSet
    val zLo = before.min
    // recompact the tile while a MERGE layer on a z-range lands in the
    // staging window: the compactor must patch and both must commit
    val v = graft.ops.Reorganize.compactPartition(s, root, tile, "z",
      s"$root/recompact", locate = locate,
      onFirstStage = () => {
        Seq((0L, 0L, zLo)).toDF("x", "y", "z")
          .repartition(1).write.mode("overwrite")
          .parquet(s"$root/data/rivallayer")
        CommitLog.tryCommit(root, Entry("merger", "merge",
          "data/rivallayer", Seq(tile), CommitLog.stableVersion(root),
          keyDomains = Map(tile -> Seq((zLo, zLo)))))
        ()
      })
    assert(CommitLog.committedVersions(root).max === v,
      "the rebased optimize must land above the merge rival")
    // the compacted owner is a flat generation; manifest-driven reads
    // stay layout-agnostic (untouched tiles keep serving through the
    // optimize owner's manifest)
    val after = s.read.format("graftlake").load(root)
      .filter(col("_partition") === tile)
    // serial semantics: the rival's replacement row for zLo survives
    // the commuted compaction; everything else untouched
    assert(after.filter(col("z") === zLo)
      .select("x", "y").as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L)),
      "the merge rival's row must survive the commuted optimize")
    assert(after.select("z").as[Long].collect().toSet === before,
      "the commuted pair must preserve the tile's key set")
  }
}
