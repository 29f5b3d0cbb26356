package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver test tables (`TESTDATA.md`, `FIXTURES.md` §B).
  *
  * All tables are plain parquet, read with the declared [[schemas]]
  * (schema on read, never inference: a read without a schema runs a
  * footer job while the DataFrame is being built). The three timestamp
  * columns are stored as `TIMESTAMP(MICROS, isAdjustedToUTC=false)`,
  * which Spark reads as `TIMESTAMP_NTZ`; [[events]] casts `ts` to a
  * session-TZ (UTC) timestamp so downstream `to_date` matches DuckDB's
  * `CAST(ts AS DATE)` on the same file. `TablesSchemaSpec` checks every
  * declared schema against the footers at all three scale factors. */
object Tables {

  /** The declared schema of every table, as the footers spell it. */
  val schemas: Map[String, StructType] = Map(
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
    "nation" -> ("n_nationkey INT, n_name STRING, n_regionkey INT"),
    "region" -> ("r_regionkey INT, r_name STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> ("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(dir, name))

  /** events with `ts` as TimestampType (UTC session). */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").withColumn("ts", col("ts").cast(TimestampType))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** documents behind [[graft.ops.Fanout]]'s unsplittable-input
    * branch, for consumers whose first post-scan projection is
    * per-row EXPENSIVE (media codec kernels, tokenizer regex chains,
    * shingle explodes): the fixture's single-row-group scan plans ONE
    * task, so without the fan-out those kernels run single-threaded.
    * Deliberately NOT the default read: for scan→agg consumers the
    * extra exchange plus 32-task stages cost more than the 1-task
    * scan (measured r19: q_bm25 0.36→0.71 s fanned, while
    * q_media_resize 2.58→0.88 s — the trade is real in both
    * directions, so each call site picks by measurement). */
  def documentsFan(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Fanout(documents(spark, dir))
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
