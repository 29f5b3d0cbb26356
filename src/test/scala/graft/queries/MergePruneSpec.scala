package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_merge_prune — manifest data skipping over the MERGE commit's
  * per-file (min_key, max_key, n_rows) stats: a point lookup must
  * resolve from manifest arithmetic alone, candidates must be a small
  * fraction of the files, non-candidates must never contain a match
  * (the safety invariant), and the stored stats must equal the files
  * they describe. */
class MergePruneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = SparkEntry.queries("q_merge_prune")(spark, sf0001)
    .collect().toSeq

  test("a point lookup prunes to a small fraction of the manifest's files") {
    val nFiles = rows.size
    val nCand = rows.count(_.getLong(5) === 1L)
    assert(nFiles >= 16, s"expected the full file manifest, got $nFiles")
    assert(nCand >= 1 && nCand <= 3,
      s"3 point probes should touch at most 3 of $nFiles files, got $nCand")
  }

  test("safety invariant: a non-candidate file never contains a match; matches land only where expected") {
    for (r <- rows if r.getLong(5) === 0L)
      assert(r.getLong(6) === 0L,
        s"non-candidate bucket ${r.getLong(0)} reported a match — " +
          "the min/max stats are unsafe")
    // two probes exist in the table (the cold key and the first
    // insert); the deleted hot probe must find nothing even where
    // its file's residual range still covers it
    assert(rows.map(_.getLong(6)).sum === 2L,
      "exactly the cold probe and the insert probe should match")
  }

  test("the stored per-file stats equal the files they describe") {
    val root = graft.ops.FixtureStore.root("merge", sf0001)
    val man = MaintenancePipelineQuery.mergeManifest(spark, root)
    assert(man.forall(f => f.min_key <= f.max_key && f.n_rows > 0))
    // spot-check every file: footer-cheap per-file aggregates
    for (f <- man) {
      val r = spark.read.parquet(s"$root/${f.file}")
        .agg(min("custkey"), max("custkey"), count(lit(1))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
        ((f.min_key, f.max_key, f.n_rows)),
        s"stats drift on ${f.file}")
    }
    // stats rows cover the whole manifest 1:1
    assert(rows.size === man.size)
  }
}
