package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_column_mapping — metadata-only rename/drop/re-add through a
  * logical→physical column-id mapping: the physical files must be
  * written once and never rewritten by a schema commit, carry only
  * physical ids, the re-added logical name (fresh physical id) must
  * read all-NULL rather than resurrecting the dropped column's bytes,
  * and a projection through the mapping must prune the scan to the
  * mapped physical column. */
class ColumnMappingSpec extends SparkSpec {

  private lazy val root = graft.ops.FixtureStore.root("colmap", sf0001)

  private lazy val rows = SparkEntry.queries("q_column_mapping")(
    spark, sf0001).collect().toSeq.sortBy(_.getInt(0))

  private def dataFiles: Seq[(String, Long)] = {
    val d = new java.io.File(s"$root/data")
    d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).sortBy(_._1)
  }

  test("schema commits never rewrite data: files identical across runs") {
    rows // force the run (and the fixture)
    val before = dataFiles
    val again = SparkEntry.queries("q_column_mapping")(spark, sf0001)
      .collect().toSeq.sortBy(_.getInt(0))
    assert(dataFiles == before,
      "a metadata-only schema change rewrote a data file")
    assert(again.map(_.toSeq) == rows.map(_.toSeq))
  }

  test("data files carry ONLY physical ids") {
    rows
    val physical = spark.read.parquet(s"$root/data").columns.toSet
    assert(physical == Set("c1", "c2", "c3", "c4"),
      s"physical schema leaked logical names: $physical")
  }

  test("the re-added column reads all-NULL — no resurrection of c2") {
    rows
    val v4 = CoreQueries.columnMappingRead(spark, sf0001, 4)
    assert(v4.columns.sorted.toSeq ==
      Seq("day", "event_id", "event_type", "view_count"))
    val n = v4.count()
    assert(v4.filter(col("event_type").isNull).count() == n,
      "re-added event_type resurrected the dropped physical column")
    // while the files still physically carry the OLD c2 bytes
    assert(spark.read.parquet(s"$root/data")
      .filter(col("c2").isNotNull).count() == n)
  }

  test("rename preserves values: sum_metric constant across versions") {
    val sums = rows.map(_.getLong(6)).distinct
    assert(sums.size == 1, s"rename/drop moved values: $sums")
    // and the logical hash CHANGES at every version (schema really moved)
    assert(rows.map(_.getLong(4)).distinct.size == 4)
    // n_nulls: only the re-added version reads NULLs
    assert(rows.take(3).forall(_.getLong(5) == 0L))
    assert(rows.last.getLong(5) == rows.last.getLong(3))
  }

  test("the fixture's schema commits repel a stale data writer — metadata actions conflict in the real log") {
    rows // force the fixture (schema versions 1..4 committed)
    import graft.ops.CommitLog
    // a data writer whose base predates the later schema commits must
    // conflict even on a partition no schema entry names — its staged
    // files bind the old logical schema (the refused claim leaves an
    // aborted tombstone; committed history and the hash are untouched)
    intercept[CommitLog.CommitConflict] {
      CommitLog.tryCommit(root, CommitLog.Entry("stale_writer",
        "append", "data/stale", Seq("px"), 1L))
    }
    assert(CommitLog.committedVersions(root) === Seq(1L, 2L, 3L, 4L),
      "the refusal must not disturb the fixture's committed history")
    CommitLog.purgeAborted(root) // fixture hygiene across runs
  }

  test("projection through the mapping prunes the scan to the physical col") {
    rows
    val plan = CoreQueries.columnMappingRead(spark, sf0001, 2)
      .select("view_count").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && plan.contains("c3"),
      "mapped projection did not reach the scan")
    assert(!plan.contains("c2"),
      "mapped projection read an unmapped physical column")
  }
}
