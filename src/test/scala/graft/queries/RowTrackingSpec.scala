package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_row_tracking — stable row identity: the oracle hash certifies
  * the stage mappings; these tests pin the STRUCTURAL claims at the
  * row level — per-key id stability through every rewrite, the
  * insert high-water floor, and retirement without reuse. */
class RowTrackingSpec extends SparkSpec {

  private lazy val rows =
    SparkEntry.queries("q_row_tracking")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("ids are dense at ingest and the high-water mark is exact") {
    val (n0, hi0, _, _) = rows("1_ingest")
    assert(n0 === hi0, "ingest ids must be dense 1..N")
    val (n2, hi2, _, _) = rows("3_inserted")
    assert(hi2 === n2, "insert allocation must stay dense above N")
    assert(n2 > n0, "inserts must have landed")
  }

  test("updates and compaction never move an id; deletes retire, never recycle") {
    val (_, hi1, x1, _) = rows("2_updated")
    val (n0, hi0, _, _) = rows("1_ingest")
    assert(hi1 === hi0, "an update allocated or dropped an id")
    val _ = (n0, x1)
    // deletion shrinks rows but the surviving max id can only drop
    // because high ids died — never because one was reassigned
    val (n3, hi3, x3, _) = rows("4_deleted")
    val (n5, hi5, x5, _) = rows("5_compacted")
    assert((n3, hi3, x3) === ((n5, hi5, x5)),
      "the compaction roundtrip changed the (id, key, value) mapping")
  }

  test("the compacted store agrees with a fresh derivation per key") {
    val s = spark
    import s.implicits._
    // re-run to ensure the artifact exists, then compare the stored
    // compacted table against a per-key recomputation of gen0 ids
    SparkEntry.queries("q_row_tracking")(s, sf0001).collect()
    val root = graft.ops.FixtureStore.root("rowtrack", sf0001)
    val compacted = s.read.parquet(s"$root/compacted")
      .select("row_id", "event_id").as[(Long, Long)].collect().toMap
    // survivors from the ORIGINAL population must carry their ingest
    // rank; id = dense rank by (day, key) recomputed independently
    val e = graft.tables.Tables.events(s, sf0001)
      .select(col("event_id"), to_date(col("ts")).as("day"))
      .as[(Long, java.sql.Date)].collect()
      .sortBy { case (id, d) => (d.toString, id) }
    val expect = e.zipWithIndex.map { case ((id, _), i) =>
      id -> (i + 1L)
    }.toMap
    val survivors = compacted.filter { case (_, k) => k < 1000000000L }
    assert(survivors.nonEmpty)
    survivors.foreach { case (rid, k) =>
      assert(expect(k) === rid,
        s"key $k changed identity: ingest ${expect(k)} vs stored $rid")
    }
    // every insert sits strictly above the ingest high-water mark
    val hiWater = e.length.toLong
    compacted.filter { case (_, k) => k >= 1000000000L }
      .foreach { case (rid, k) =>
        assert(rid > hiWater, s"insert $k recycled id $rid <= $hiWater")
      }
  }
}
