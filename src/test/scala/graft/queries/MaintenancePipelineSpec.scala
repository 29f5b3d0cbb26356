package graft.queries

import graft.{SparkEntry, SparkSpec}

/** q_maintenance_pipeline: the two certifications a maintenance run
  * must produce hold INSIDE the emitted accounting — compaction
  * preserves content (checksum triple equality with fewer files) and
  * the retention sweep partitions the table (counts add, xors fold
  * back) — and the rewritten tables genuinely exist on disk. */
class MaintenancePipelineSpec extends SparkSpec {
  import spark.implicits._

  test("compaction preserves the checksum triple; retention partitions it") {
    val got = SparkEntry.queries("q_maintenance_pipeline")(spark, sf0001)
      .select("stage", "n_files", "n_rows", "xor_hash", "content_sum")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (ing, cmp, ret, del) =
      (got("1_ingest"), got("2_compact"), got("3_retained"), got("4_deleted"))
    // compaction: identical content triple, strictly fewer files
    assert(cmp._3 === ing._3 && cmp._4 === ing._4 && cmp._5 === ing._5,
      "compaction must preserve the checksum triple")
    assert(cmp._2 < ing._2, "compaction must reduce the file count")
    assert(cmp._2 > 1, "packing must stay non-degenerate")
    // retention: a partition — counts add, sums add, xors fold back
    assert(ret._3 + del._3 === ing._3)
    assert(ret._5 + del._5 === ing._5)
    assert((ret._4 ^ del._4) === ing._4,
      "retained xor deleted must reproduce the ingest checksum")
    assert(ret._3 > 0 && del._3 > 0, "the sweep must genuinely split")
    // the rewrites are real: the chain's compacted and retained
    // generations on disk, one parquet file per bin directory
    val root = graft.ops.FixtureStore.root("verchain", sf0001)
    for (sub <- Seq("gen1", "gen2")) {
      val dirs = new java.io.File(s"$root/$sub")
        .listFiles().filter(_.getName.startsWith("bin="))
      assert(dirs.nonEmpty, s"$sub must be bin-partitioned on disk")
      dirs.foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
          s"$sub/${d.getName} must hold exactly one file")
      }
    }
    graft.ops.SideCache.releaseAll()
  }
}
