package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q_schema_widening: the widened single-scan read must reconcile the
  * int/float generation with the bigint/double one WITHOUT rewriting
  * the narrow files (their physical parquet types stay int32/float),
  * the naive mergeSchema read must genuinely fail (the case this
  * query exists for), widening must be value-exact, and partition
  * pruning must survive the explicit-schema read. */
class SchemaWideningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = graft.ops.FixtureStore.root("schema_widen", sf0001)

  private lazy val rows =
    SparkEntry.queries("q_schema_widening")(spark, sf0001)
      .collect().sortBy(_.getString(0))

  test("mergeSchema cannot reconcile the type conflict; the widened read can") {
    rows // force the writes
    val e = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(root).collect()
    }
    assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS") ||
      e.getMessage.toLowerCase.contains("merg"),
      s"expected a schema-merge failure, got: ${e.getMessage.take(120)}")
    // ...and the narrow generation's files keep their physical types
    val narrow = spark.read.parquet(s"$root/batch=narrow").schema
    assert(narrow("vc").dataType === IntegerType)
    assert(narrow("score").dataType === FloatType)
  }

  test("widening is value-exact: the narrow generation re-read wide equals itself") {
    rows
    val asWritten = spark.read.parquet(s"$root/batch=narrow")
      .select(col("event_id"), col("vc").cast(LongType),
        col("score").cast(DoubleType))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val widest = StructType(Seq(
      StructField("event_id", LongType), StructField("vc", LongType),
      StructField("score", DoubleType)))
    val widened = spark.read.schema(widest)
      .parquet(s"$root/batch=narrow")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(widened.nonEmpty)
    assert(widened === asWritten,
      "per-file parquet upcast diverged from an explicit cast")
  }

  test("both generations non-vacuous; scores populated (dyadic-exact)") {
    val Array(n, w) = rows
    assert(n.getString(0) === "narrow" && w.getString(0) === "wide")
    assert(n.getLong(1) > 0 && w.getLong(1) > 0)
    // score = (event_id % 16)/16 sums to a dyadic-exact double > 0
    assert(n.getDouble(3) > 0.0 && w.getDouble(3) > 0.0)
    assert((n.getDouble(3) * 16).isWhole,
      "narrow score sum must be dyadic-exact")
  }

  test("partition pruning survives the explicit-schema read") {
    rows
    val widest = StructType(Seq(
      StructField("event_id", LongType), StructField("vc", LongType),
      StructField("score", DoubleType), StructField("batch", StringType)))
    val one = spark.read.schema(widest).parquet(root)
      .filter(col("batch") === "wide")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("batch"),
      s"batch filter did not reach the scan as a partition filter:\n$scan")
    assert(one.count() > 0)
  }
}
