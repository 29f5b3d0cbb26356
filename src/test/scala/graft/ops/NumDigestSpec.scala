package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The content digest twin ([[Num.digest]] / [[NumSql.digest]]): the
  * Spark columns and the SQL fragment, run over the same view, give
  * the same row — and an empty input digests to (0, 0, 0), the value
  * the coalesces exist to pin (SQL's bare bit_xor / SUM of no rows is
  * NULL). */
class NumDigestSpec extends SparkSpec {

  private def both(name: String, rows: Seq[(Option[Long], Option[Long])]): (Row, Row) = {
    import spark.implicits._
    rows.toDF("k", "v").createOrReplaceTempView(name)
    val viaCols = spark.table(name)
      .select(Num.digest(col("k"), col("v"), "n_rows", "key_xor", "vc_sum"): _*)
      .collect().toSeq
    val viaSql = spark.sql(
      s"SELECT ${NumSql.digest("k", "v", "n_rows", "key_xor", "vc_sum")} FROM $name")
      .collect().toSeq
    assert(viaCols.size == 1 && viaSql.size == 1)
    (viaCols.head, viaSql.head)
  }

  test("non-empty frame: both sides agree on (count, xor, sum)") {
    val (c, s) = both("num_digest_full",
      Seq((Some(1L), Some(10L)), (Some(2L), Some(20L)), (Some(7L), Some(-3L))))
    assert(c == s)
    assert(c == Row(3L, 1L ^ 2L ^ 7L, 27L))
  }

  test("empty frame digests to (0, 0, 0) on both sides") {
    val (c, s) = both("num_digest_empty", Seq.empty)
    assert(c == s)
    assert(c == Row(0L, 0L, 0L))
  }

  test("null keys and values: counted as rows, skipped by xor and sum") {
    val (c, s) = both("num_digest_nulls",
      Seq((Some(1L), Some(10L)), (None, Some(5L)), (Some(3L), None), (None, None)))
    assert(c == s)
    assert(c == Row(4L, 1L ^ 3L, 15L))
  }
}
