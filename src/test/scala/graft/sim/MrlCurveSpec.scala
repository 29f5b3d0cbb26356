package graft.sim

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_mrl_curve — the Matryoshka truncation curve: the full-dim point
  * must anchor at exactly 10000 bp (the prefix of length Dim IS the
  * vector), every point must agree with a live recomputation over
  * sliced embeddings, and the truth must be the stored content-keyed
  * baseline. */
class MrlCurveSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = SparkEntry.queries("q_mrl_curve")(spark, sf0001)
    .collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("the full-dim point anchors at recall 10000 bp") {
    assert(rows.keySet == Set(8, 16, 32, Similarity.Dim))
    val full = rows(Similarity.Dim)
    assert(full._2 == full._1 && full._3 == 10000L)
  }

  test("n_exact is the stored baseline's row count") {
    val emb = graft.tables.Tables.embeddings(spark, sf0001)
    val n = Similarity.ensureBruteBaseline(spark, emb, sf0001).count()
    assert(rows.values.forall(_._1 == n))
    assert(new java.io.File(
      s"${graft.ops.FixtureStore.root("brute10", sf0001)}/${graft.ops.FixtureStore.Marker}").exists())
  }

  test("a truncated point equals the live sliced recomputation") {
    val emb = graft.tables.Tables.embeddings(spark, sf0001)
    val truth = Similarity.ensureBruteBaseline(spark, emb, sf0001)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val hits16 = Similarity.bruteTopK(
      emb.select(col("vec_id"), slice(col("embedding"), 1, 16)
        .as("embedding")), queryMod = 50L, k = 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .count(truth.contains).toLong
    assert(rows(16)._2 == hits16)
    assert(rows(16)._3 == hits16 * 10000 / rows(16)._1)
  }

  test("truncation genuinely degrades recall on this corpus") {
    assert(rows(8)._3 < rows(Similarity.Dim)._3)
  }
}
