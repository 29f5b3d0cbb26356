package graft.queries

import graft.ops.{CleanOps, Num, NumSql, ReconcileOps, TimeSeriesOps => TS}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference operator inventory (SURVEY.md §2) parameterized onto
  * the driver test tables, one named query per operator, each with a
  * DuckDB oracle twin. Spark side is pure DataFrame API — every plan
  * is a scan → narrow projections → (at most) one shuffle per
  * groupBy/window key, with small dimensions broadcast. */
object CoreQueries {
  import EventSeriesSql.{withSeries, withSpop}

  private val fullFrame =
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"

  /** il_analysis_git.py:52-74 — drop/rename/censor/bool decode/casts/
    * surrogate id as one narrow projection. */
  private def cleanCast(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      (col("user_id") * 10000L + col("event_id") % 100L).as("sid"),
      to_date(col("ts")).as("date"),
      when(Num.cents(col("value")) < 1500L, 0L)
        .otherwise(Num.cents(col("value"))).as("value_c"),
      when(col("event_type") === "click", 1)
        .when(col("event_type") === "view", 0)
        .otherwise(-1).as("flag"),
      regexp_extract(col("props"), "(\\d+)", 1).cast(IntegerType).as("k")
    ).orderBy("event_id")

  private val cleanCastSql =
    s"""SELECT event_id,
       |  user_id * 10000 + event_id % 100 AS sid,
       |  CAST(ts AS DATE) AS date,
       |  CASE WHEN ${NumSql.cents("value")} < 1500 THEN 0 ELSE ${NumSql.cents("value")} END AS value_c,
       |  CASE WHEN event_type = 'click' THEN 1 WHEN event_type = 'view' THEN 0 ELSE -1 END AS flag,
       |  CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k
       |FROM events ORDER BY event_id""".stripMargin

  /** il_analysis_git.py:37-46 — CSV source (SURVEY §2.1), proven as a
    * write→read roundtrip: the events projection is written as headered
    * CSV then read back with an explicit StructType (schema-on-read,
    * never inference — the production rule from SURVEY §1.3). The
    * oracle checks value survival through the text round-trip. */
  private def scanCsv(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_scan_csv"
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Num.cents(col("value")).as("vc"))
      .write.mode("overwrite").option("header", true).csv(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("vc", LongType)))
    spark.read.schema(schema).option("header", true).csv(path)
      .orderBy("event_id")
  }

  private val scanCsvSql =
    s"""SELECT event_id, user_id, event_type, ${NumSql.cents("value")} AS vc
       |FROM events ORDER BY event_id""".stripMargin

  /** ORC source/sink roundtrip (columnar alternative to parquet,
    * natively supported — at 100 TB an engine must read whatever the
    * lake already holds). Write a lineitem projection as ORC, read it
    * back, aggregate. The roundtrip is lossless, so the oracle is the
    * same aggregate over the parquet original — content equality
    * through the format proves the source, the agg keeps output tiny. */
  private def scanOrc(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_scan_orc"
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        Num.cents(col("l_quantity")).as("qty_c"))
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("sum_qty_c"),
        max(col("l_orderkey")).as("max_ok"))
      .orderBy("l_returnflag")
  }

  private val scanOrcSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  CAST(SUM(${NumSql.cents("l_quantity")}) AS BIGINT) AS sum_qty_c,
       |  MAX(l_orderkey) AS max_ok
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Partitioned-sink roundtrip: events written `partitionBy(day)` —
    * the 100 TB fact-table layout (one directory per ingest day, so
    * daily reruns overwrite one partition and date-filtered reads
    * prune at the FILE LISTING level, before any I/O). The read-back
    * filters on the partition column (PartitionFilters in the scan —
    * proven generically in ScaleTechniquesSpec) and aggregates; the
    * oracle computes the same from the raw events table, verifying
    * the writer's partition-value round-trip (date → directory name →
    * partition column, read back under the writer's schema) bit-for-bit. */
  private def writePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_part_events"
    val out = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        Num.cents(col("value")).as("vc"), to_date(col("ts")).as("day"))
    out.write.mode("overwrite").partitionBy("day").parquet(path)
    spark.read.schema(out.schema).parquet(path)
      .filter(dayofmonth(col("day")) <= 5)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day")
  }

  private val writePartitionedSql =
    """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_vc,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCHEMA EVOLUTION read — three writer GENERATIONS of the same
    * table, each adding a column (w1: the baseline projection; w2:
    * + `source`; w3: + `quality`), reconciled by ONE `mergeSchema`
    * parquet read without rewriting a byte of the old files — the
    * lakehouse answer to "the pipeline added a field last month and
    * we cannot recompute history". Old generations surface the new
    * columns as NULLs; the per-batch accounting (rows, evolved-column
    * null counts, content sum) is what an evolved-table consumer must
    * reason about, and its hash pins BOTH the reconciliation (a
    * dropped or misaligned column changes a null count) and the
    * batch→generation assignment (day ranges). `batch` rides as a
    * PARTITION column (dir-per-writer layout), so generation filters
    * prune at file-listing level — SchemaEvolutionSpec asserts the
    * merged schema, all three generation scans in the plan, and the
    * partition-pruned single-generation read.
    *
    * Scale shape: three one-exchange writes; the merged read is a
    * plain scan (schema merge is footer-level metadata work, priced
    * once at planning); the accounting is one map-side aggregate to
    * 3 rows. */
  private def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo"
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("vc"),
        dayofmonth(to_date(col("ts"))).as("dom"))
    e.filter(col("dom") <= 10)
      .select(col("event_id"), col("event_type"), col("vc"))
      .write.mode("overwrite").parquet(s"$root/batch=w1")
    e.filter(col("dom").between(11, 20))
      .select(col("event_id"), col("event_type"), col("vc"),
        concat(lit("s"), pmod(col("event_id"), lit(3L))).as("source"))
      .write.mode("overwrite").parquet(s"$root/batch=w2")
    e.filter(col("dom") > 20)
      .select(col("event_id"), col("event_type"), col("vc"),
        concat(lit("s"), pmod(col("event_id"), lit(3L))).as("source"),
        pmod(coalesce(col("vc"), lit(-1L)), lit(100L)).as("quality"))
      .write.mode("overwrite").parquet(s"$root/batch=w3")
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("source").isNull.cast("long")).as("n_null_source"),
        sum(col("quality").isNull.cast("long")).as("n_null_quality"),
        sum("vc").as("sum_vc"))
      .orderBy("batch")
  }

  private val schemaEvolutionSql =
    s"""WITH e AS (
       |  SELECT event_id, ${NumSql.cents("value")} AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |batched AS (
       |  SELECT CASE WHEN dom <= 10 THEN 'w1'
       |              WHEN dom <= 20 THEN 'w2' ELSE 'w3' END AS batch,
       |    vc,
       |    CASE WHEN dom <= 10 THEN 1 ELSE 0 END AS null_source,
       |    CASE WHEN dom <= 20 THEN 1 ELSE 0 END AS null_quality
       |  FROM e)
       |SELECT batch, COUNT(*) AS n_rows,
       |  CAST(SUM(null_source) AS BIGINT) AS n_null_source,
       |  CAST(SUM(null_quality) AS BIGINT) AS n_null_quality,
       |  CAST(SUM(vc) AS BIGINT) AS sum_vc
       |FROM batched GROUP BY batch ORDER BY batch""".stripMargin

  /** SCHEMA TYPE WIDENING read — the evolution case `mergeSchema`
    * CANNOT reconcile (its field merge throws CANNOT_MERGE_SCHEMAS on
    * an int/bigint or float/double conflict): an old writer
    * generation stored `vc` as INT and `score` as FLOAT; a later
    * writer widened them to BIGINT/DOUBLE. No byte of the old files
    * is rewritten — the reader supplies the WIDEST schema explicitly
    * and Spark 4's parquet readers up-cast int32→int64 / float→double
    * per file at scan time (the Iceberg type-promotion model: the
    * table schema evolves, data files keep their written physical
    * types). `score` is constructed as (event_id mod 16)/16 — a
    * dyadic rational exactly representable in float32 — so the
    * float-written and double-written generations agree bit-exactly
    * after widening and the whole result stays hash-verifiable
    * against DuckDB (and the double sums are exact, order-free).
    * `batch` rides as a partition column, so generation pruning still
    * happens at file-listing level (SchemaWideningSpec asserts the
    * pruned single-generation read, the merged wide schema, and that
    * the naive mergeSchema read genuinely fails).
    *
    * Scale shape: two one-exchange writes (chain fixture); the read
    * is ONE scan with footer-level per-file upcasts — no rewrite, no
    * union-of-casts double plan; the accounting is a map-side
    * aggregate to 2 rows. */
  /** The two-generation widening fixture, dataset-keyed (the round-13
    * version wrote a fixed path per run; interleaved multi-dataset runs
    * in one JVM could read the other dataset's half-written fixture). */
  private def ensureSchemaWiden(spark: SparkSession, dir: String): String =
    graft.ops.FixtureStore.ensure("schema_widen", dir,
        parts = Seq("batch=narrow", "batch=wide")) { root =>
      val e = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          coalesce(Num.cents(col("value")), lit(-1L)).as("vc"),
          (pmod(col("event_id"), lit(16L)).cast(DoubleType) / 16.0d)
            .as("score"),
          dayofmonth(to_date(col("ts"))).as("dom"))
      // generation 1: the NARROW writer (int vc, float score)
      e.filter(col("dom") <= 15)
        .select(col("event_id"), col("vc").cast(IntegerType).as("vc"),
          col("score").cast(FloatType).as("score"))
        .write.mode("overwrite").parquet(s"$root/batch=narrow")
      // generation 2: the WIDE writer (bigint vc, double score)
      e.filter(col("dom") > 15)
        .select(col("event_id"), col("vc"), col("score"))
        .write.mode("overwrite").parquet(s"$root/batch=wide")
    }

  private def schemaWidening(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureSchemaWiden(spark, dir)
    // read-side reconcile: ONE scan under the widest schema
    val widest = StructType(Seq(
      StructField("event_id", LongType), StructField("vc", LongType),
      StructField("score", DoubleType), StructField("batch", StringType)))
    spark.read.schema(widest).parquet(root)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
        sum("score").as("sum_score"),
        coalesce(expr("bit_xor(event_id)"), lit(0L)).as("key_xor"))
      .orderBy("batch")
  }

  private val schemaWideningSql =
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(event_id % 16 AS DOUBLE) / 16.0 AS score,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events)
       |SELECT CASE WHEN dom <= 15 THEN 'narrow' ELSE 'wide' END AS batch,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(vc) AS BIGINT) AS sum_vc,
       |  SUM(score) AS sum_score,
       |  CAST(COALESCE(bit_xor(event_id), 0) AS BIGINT) AS key_xor
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** COLUMN MAPPING — metadata-only rename / drop / re-add (Delta's
    * column-mapping `name` mode, Iceberg's field-id resolution,
    * distilled): data files store columns under IMMUTABLE PHYSICAL
    * IDS (`c1..c4`), and a tiny per-version schema log maps logical
    * names onto them. A RENAME (v2: `vc` → `view_count`) and a DROP
    * (v3: `event_type` unmapped) are |cols|-row metadata commits —
    * at 100 TB the alternative is a full-table rewrite for a column
    * rename. The correctness subtlety the hash pins: v4 RE-ADDS the
    * dropped logical name under a FRESH physical id (`c5`, absent in
    * every file), so it must read as NULL everywhere — resurrecting
    * the old `c2` bytes under the re-added name is the classic
    * column-mapping bug (and why physical ids must never be reused).
    *
    * Per version, the accounting row hashes a canonical
    * `name=value` rendering in sorted-LOGICAL-name order — a rename
    * changes the hash with zero data movement (the certificate that
    * the logical schema really changed), while `sum_metric` stays
    * constant across all four versions (the certificate that no
    * value moved). ColumnMappingSpec additionally pins: the physical
    * files are written once and byte-identical across versions, the
    * file schema carries only physical ids, the re-added column is
    * all-NULL, and a projection through the mapping prunes the scan
    * to the mapped physical column (`ReadSchema` = `c3` when only
    * `view_count` is selected).
    *
    * Scale shape: one content-keyed physical write; every version
    * read is ONE scan whose projection resolves through a bounded
    * |cols| mapping collect; the schema log is |versions|·|cols|
    * rows of metadata. */
  /** (version, op, logical, physical, dtype) — the FULL active
    * mapping per version (Delta stores actions; storing the resolved
    * mapping keeps replay out of the read path). */
  private val colMapLog: Seq[(Int, String, String, String, String)] = Seq(
    (1, "init", "event_id", "c1", "bigint"),
    (1, "init", "event_type", "c2", "string"),
    (1, "init", "vc", "c3", "bigint"),
    (1, "init", "day", "c4", "date"),
    (2, "rename", "event_id", "c1", "bigint"),
    (2, "rename", "event_type", "c2", "string"),
    (2, "rename", "view_count", "c3", "bigint"),
    (2, "rename", "day", "c4", "date"),
    (3, "drop", "event_id", "c1", "bigint"),
    (3, "drop", "view_count", "c3", "bigint"),
    (3, "drop", "day", "c4", "date"),
    (4, "add", "event_id", "c1", "bigint"),
    (4, "add", "event_type", "c5", "string"), // FRESH id — never c2
    (4, "add", "view_count", "c3", "bigint"),
    (4, "add", "day", "c4", "date"))

  /** Schema changes COMMIT THROUGH THE LOG (round 18, closes r17
    * verdict #2 — the schema log was its own TSV artifact, so a data
    * writer racing a rename/drop went undetected; now each version's
    * mapping is a staged artifact flipped live by a `schema:` entry,
    * and the metadata-clash rule makes any concurrent writer
    * conflict, both directions). */
  private def ensureColMap(spark: SparkSession, dir: String): String =
    graft.ops.FixtureStore.ensure("colmap", dir, parts = Seq("data"),
        valid = r => graft.ops.CommitLog.committedVersions(r) ==
          Seq(1L, 2L, 3L, 4L)) { root =>
      import spark.implicits._
      // the ONE physical write: columns live under physical ids only
      colMapData(spark, dir).write.mode("overwrite").parquet(s"$root/data")
      // stage each version's RESOLVED mapping privately, then commit
      // it as a schema: entry — versions 1..4 in the log ARE the
      // schema history, replayable through resolveAsOf
      Seq(1 -> "init", 2 -> "rename", 3 -> "drop", 4 -> "add")
        .foreach { case (v, opName) =>
          colMapLog.filter(_._1 == v).toDF(colMapCols: _*)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/schemalog/v$v")
          val cv = graft.ops.CommitLog.commitSchema(root, "schema_writer",
            opName, s"schemalog/v$v", v - 1L)
          require(cv == v.toLong,
            s"schema commit landed at v$cv, expected v$v")
        }
    }

  private def colMapData(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id").as("c1"), col("event_type").as("c2"),
      coalesce(Num.cents(col("value")), lit(-1L)).as("c3"),
      to_date(col("ts")).as("c4"))

  private val colMapCols = Seq("version", "op", "logical", "physical", "dtype")

  /** Versioned read THROUGH the mapping: logical names resolve to
    * physical columns; a mapped-but-absent physical id (a re-added
    * column) reads as typed NULL. Public for ColumnMappingSpec. */
  def columnMappingRead(spark: SparkSession, dir: String,
                        version: Int): DataFrame = {
    val root = ensureColMap(spark, dir)
    val mapping = colMapLog.filter(_._1 == version)
    val data = spark.read.schema(colMapData(spark, dir).schema)
      .parquet(s"$root/data")
    val present = data.columns.toSet
    data.select(mapping.sortBy(_._3).map { case (_, _, lg, ph, dt) =>
      (if (present(ph)) col(ph) else lit(null).cast(dt)).as(lg)
    }: _*)
  }

  private def columnMapping(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureColMap(spark, dir)
    // the COMMIT LOG is the resolution authority: each version's
    // active mapping is the schema entry resolveAsOf(v) hands the
    // reserved partition to — sequential schema commits replaying
    // through plain resolution (the stored artifacts are bounded
    // |cols|-row files)
    val mappingPaths = (1L to 4L).map(v =>
      graft.ops.CommitLog.resolveAsOf(root, v)(
        graft.ops.CommitLog.SchemaPartition)._2)
    import spark.implicits._
    val stored = spark.read.schema(colMapLog.toDF(colMapCols: _*).schema)
      .parquet(mappingPaths.map(p => s"$root/$p"): _*)
      .collect().map(r => (r.getAs[Int]("version"), r.getAs[String]("op"),
        r.getAs[String]("logical"), r.getAs[String]("physical"),
        r.getAs[String]("dtype"))).toSeq
    def versionRow(v: Int): DataFrame = {
      val m = stored.filter(_._1 == v).sortBy(_._3)
      val op = m.head._2
      val df = columnMappingRead(spark, dir, v)
      val render = concat_ws("|", m.map { case (_, _, lg, _, _) =>
        concat(lit(s"$lg="), coalesce(col(lg).cast("string"), lit("NULL")))
      }: _*)
      val metric = if (m.exists(_._3 == "vc")) col("vc") else col("view_count")
      df.withColumn("h", graft.functions.F.polyHash(render))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("xor_hash"),
          m.map { case (_, _, lg, _, _) =>
            sum(col(lg).isNull.cast("long")) }.reduce(_ + _).as("n_nulls"),
          sum(metric).as("sum_metric"))
        .select(lit(v).as("version"), lit(op).as("op"),
          lit(m.size).as("n_cols"), col("n_rows"), col("xor_hash"),
          col("n_nulls"), col("sum_metric"))
    }
    versionRow(1).unionAll(versionRow(2)).unionAll(versionRow(3))
      .unionAll(versionRow(4)).orderBy("version")
  }

  private val columnMappingSql = {
    def h(parts: String*) = OracleSqlFrag.poly(parts.mkString(" || '|' || "))
    val day = "'day=' || CAST(day AS VARCHAR)"
    val eid = "'event_id=' || CAST(event_id AS VARCHAR)"
    val ety = "'event_type=' || event_type"
    val etyNull = "'event_type=NULL'"
    val vc = "'vc=' || CAST(vc AS VARCHAR)"
    val viewc = "'view_count=' || CAST(vc AS VARCHAR)"
    s"""WITH base AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day
       |  FROM events),
       |rows_ AS (
       |  SELECT 1 AS version, 'init' AS op, 4 AS n_cols, COUNT(*) AS n_rows,
       |    CAST(COALESCE(bit_xor(${h(day, eid, ety, vc)}), 0) AS BIGINT)
       |      AS xor_hash,
       |    CAST(0 AS BIGINT) AS n_nulls,
       |    CAST(SUM(vc) AS BIGINT) AS sum_metric
       |  FROM base
       |  UNION ALL
       |  SELECT 2, 'rename', 4, COUNT(*),
       |    CAST(COALESCE(bit_xor(${h(day, eid, ety, viewc)}), 0) AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(SUM(vc) AS BIGINT)
       |  FROM base
       |  UNION ALL
       |  SELECT 3, 'drop', 3, COUNT(*),
       |    CAST(COALESCE(bit_xor(${h(day, eid, viewc)}), 0) AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(SUM(vc) AS BIGINT)
       |  FROM base
       |  UNION ALL
       |  SELECT 4, 'add', 4, COUNT(*),
       |    CAST(COALESCE(bit_xor(${h(day, eid, etyNull, viewc)}), 0)
       |      AS BIGINT),
       |    COUNT(*), CAST(SUM(vc) AS BIGINT)
       |  FROM base)
       |SELECT version, op, n_cols, n_rows, xor_hash, n_nulls, sum_metric
       |FROM rows_ ORDER BY version""".stripMargin
  }

  /** WRITE-PATH EXPECTATIONS ([[graft.ops.Expectations]] — Delta
    * CHECK constraints / DLT expectations): a constrained write of
    * lineitem under all three enforcement modes at once —
    * `chk_price` (fail: any violation aborts the write BEFORE a byte
    * lands; satisfied here, which the zero row certifies), `chk_qty`
    * + `chk_disc` (drop: ~10% / ~15% of rows quarantined), and
    * `warn_tax` (warn: ~31% violate and are admitted ANYWAY — the
    * hash pins that warn never filters). The certificate reads the
    * STORED artifacts back: the per-expectation report (count + xor
    * of violating keys) and the admitted table's row-content hash —
    * so a write that dropped a warn row, admitted a drop row, or
    * mangled a value hash-fails. ExpectationsSpec additionally pins:
    * fail-mode genuinely throws and leaves nothing partial, NULL
    * predicates PASS (SQL CHECK semantics), and multi-violation rows
    * count once per expectation but quarantine once.
    *
    * Scale shape: enforcement is flag columns inside the write's own
    * scan (codegen'd comparisons, no UDF, no shuffle added); the
    * report is one map-side aggregate to |expectations| rows. */
  /** The lineitem expectation set + key hash — shared with the
    * streaming twin (StreamingSpec), whose micro-batch violation
    * reports must MERGE to this query's stored report bit-for-bit
    * (counts add, xors fold — the report is a mergeable aggregate,
    * which is what lets write-path enforcement run incrementally). */
  val constraintExpectations: Seq[graft.ops.Expectations.Expectation] = {
    import graft.ops.Expectations.Expectation
    Seq(
      Expectation("chk_price", col("l_extendedprice") > 0, "fail"),
      Expectation("chk_qty", col("l_quantity") <= 45, "drop"),
      Expectation("chk_disc", col("l_discount") <= 0.08, "drop"),
      Expectation("warn_tax", col("l_tax") <= 0.05, "warn"))
  }

  def constraintKeyHash: org.apache.spark.sql.Column =
    graft.functions.F.polyHash(
    concat_ws("|", col("l_orderkey"), col("l_linenumber")))

  /** q_constraints' stored-artifact root — KEYED by dataset dir like
    * every sibling fixture (graft_wap_$key, graft_colmap_$key…), so
    * concurrent runs against different datasets never clobber each
    * other's report/admitted tables. */
  def expectRoot(dir: String): String = graft.ops.FixtureStore.root("expect", dir)

  private def constraints(spark: SparkSession, dir: String): DataFrame =
    synchronized {
    import graft.ops.Expectations
    val path = expectRoot(dir)
    val li = Tables.lineitem(spark, dir)
    val exps = constraintExpectations
    val keyHash = constraintKeyHash
    val collected = Expectations.report(li, exps, keyHash)
      .collect() // |expectations| rows — bounded
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    Expectations.enforceFail(collected.map(r => (r._1, r._2, r._3)))
    val admitted = Expectations.admitted(li, exps)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(LongType).as("qty"),
        Num.cents(col("l_discount")).as("disc_c"),
        Num.cents(col("l_tax")).as("tax_c"))
    admitted.write.mode("overwrite").parquet(s"$path/admitted")
    import spark.implicits._
    val report = collected.toDF("cname", "cmode", "n", "key_xor")
    report.coalesce(1).write.mode("overwrite").parquet(s"$path/report")
    val storedRep = spark.read.schema(report.schema).parquet(s"$path/report")
    val admRow = spark.read.schema(admitted.schema).parquet(s"$path/admitted")
      .withColumn("h", graft.functions.F.polyHash(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("qty"),
        col("disc_c"), col("tax_c"))))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("key_xor"))
      .select(lit("zz_admitted").as("cname"), lit("write").as("cmode"),
        col("n"), col("key_xor"))
    storedRep.unionAll(admRow).orderBy("cname")
  }

  private val constraintsSql = {
    val kh = OracleSqlFrag.poly(
      "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")
    val rh = OracleSqlFrag.poly(
      "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)" +
        " || '|' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)" +
        s" || '|' || CAST(${NumSql.cents("l_discount")} AS VARCHAR)" +
        s" || '|' || CAST(${NumSql.cents("l_tax")} AS VARCHAR)")
    s"""WITH li AS (SELECT *, $kh AS kh, $rh AS rh FROM lineitem),
       |rows_ AS (
       |  SELECT 'chk_price' AS cname, 'fail' AS cmode,
       |    CAST(COUNT(*) FILTER (WHERE NOT (l_extendedprice > 0))
       |      AS BIGINT) AS n,
       |    CAST(COALESCE(bit_xor(CASE WHEN NOT (l_extendedprice > 0)
       |      THEN kh END), 0) AS BIGINT) AS key_xor
       |  FROM li
       |  UNION ALL
       |  SELECT 'chk_qty', 'drop',
       |    CAST(COUNT(*) FILTER (WHERE l_quantity > 45) AS BIGINT),
       |    CAST(COALESCE(bit_xor(CASE WHEN l_quantity > 45 THEN kh END), 0)
       |      AS BIGINT)
       |  FROM li
       |  UNION ALL
       |  SELECT 'chk_disc', 'drop',
       |    CAST(COUNT(*) FILTER (WHERE l_discount > 0.08) AS BIGINT),
       |    CAST(COALESCE(bit_xor(CASE WHEN l_discount > 0.08 THEN kh END), 0)
       |      AS BIGINT)
       |  FROM li
       |  UNION ALL
       |  SELECT 'warn_tax', 'warn',
       |    CAST(COUNT(*) FILTER (WHERE l_tax > 0.05) AS BIGINT),
       |    CAST(COALESCE(bit_xor(CASE WHEN l_tax > 0.05 THEN kh END), 0)
       |      AS BIGINT)
       |  FROM li
       |  UNION ALL
       |  SELECT 'zz_admitted', 'write',
       |    CAST(COUNT(*) FILTER (WHERE l_quantity <= 45 AND
       |      l_discount <= 0.08) AS BIGINT),
       |    CAST(COALESCE(bit_xor(CASE WHEN l_quantity <= 45 AND
       |      l_discount <= 0.08 THEN rh END), 0) AS BIGINT)
       |  FROM li)
       |SELECT cname, cmode, n, key_xor FROM rows_ ORDER BY cname""".stripMargin
  }

  /** Z-ORDER data layout ([[graft.functions.MortonInterleave]]):
    * cluster lineitem on TWO columns at once by writing it
    * range-split on the Morton interleave of (l_partkey, l_suppkey).
    * Both dims are scaled to the full 16-bit range by one 1-row
    * max aggregate (scalar subqueries), so the curve GRID is fixed — file =
    * top 4 z-bits, a pure projection: NO global sort, no sampled
    * range boundaries (which an oracle could not replay), and the
    * only shuffle is the writer's dynamic-partition commit. Static
    * z-tiling's known trade-off — skewed data makes uneven files —
    * is visible in the manifest's n_rows and is the price of a
    * deterministic grid. Output = the per-file manifest (n_rows +
    * min/max of BOTH dims + the z range): each file bounds x AND y
    * to a 1/4-width window, so a predicate on EITHER column prunes
    * ~3/4 of the files at the listing level — the reason z-order
    * beats single-column sort for 100 TB two-dimensional scans
    * (spec demonstrates the pruning-bound difference live). */
  private def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    // the layout WRITE is an `optimize` COMMIT through the graftlake
    // log (round 19, closes r18 verdict #4: the previous bare tmpdir
    // overwrite left the reorganized generation outside the table's
    // history — un-time-travelable, invisible to the connector's
    // manifest/stats plane, and racing bench reps on one shared dir).
    // The commit stages each z-tile as a hive partition with its
    // manifest + byte stats, and the read-back goes THROUGH the
    // connector — so z-tile pruning now happens in the commit-log
    // FileIndex before any listing (ZorderLakeSpec pins it), and a
    // concurrent key-domain MERGE commutes with the reorganization
    // (the ops/Reorganize discipline; optimize never loses data races).
    val root = graft.ops.FixtureStore.root("zorder_lake", dir)
    graft.ops.VersionChain.rmTree(new java.io.File(root))
    val src = Tables.lineitem(spark, dir).select(
      col("l_partkey").cast(LongType).as("x"),
      col("l_suppkey").cast(LongType).as("y"))
    val mx = src.agg(max("x").as("max_x"), max("y").as("max_y"))
    src.withColumn("max_x", mx.select("max_x").scalar())
      .withColumn("max_y", mx.select("max_y").scalar())
      .withColumn("xs", expr("(x * 65535) div max_x"))
      .withColumn("ys", expr("(y * 65535) div max_y"))
      .withColumn("z", graft.functions.F.morton(col("xs"), col("ys")))
      .withColumn("file_id", shiftright(col("z"), 28).cast(IntegerType))
      .select("x", "y", "z", "file_id")
      .write.format("graftlake").option("partitionColumn", "file_id")
      .option("writer", "optimizer").option("op", "optimize")
      .mode("overwrite").save(root)
    spark.read.format("graftlake").option("partitionColumn", "file_id")
      .load(root)
      .withColumn("file_id", col("file_id").cast(IntegerType))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"),
        min("z").as("min_z"), max("z").as("max_z"))
      .orderBy("file_id")
  }

  private val zorderLayoutSql =
    """WITH src AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
      |  FROM lineitem),
      |mx AS (SELECT MAX(x) AS max_x, MAX(y) AS max_y FROM src),
      |sc AS (
      |  SELECT x, y, (x * 65535) // max_x AS xs, (y * 65535) // max_y AS ys
      |  FROM src CROSS JOIN mx),
      |zz AS (
      |  SELECT x, y, CAST(list_sum(list_transform(range(0, 16),
      |    b -> (((xs >> b) & 1) << (2*b)) + (((ys >> b) & 1) << (2*b + 1))))
      |    AS BIGINT) AS z
      |  FROM sc)
      |SELECT CAST(z >> 28 AS INT) AS file_id, COUNT(*) AS n_rows,
      |  MIN(x) AS min_x, MAX(x) AS max_x,
      |  MIN(y) AS min_y, MAX(y) AS max_y,
      |  MIN(z) AS min_z, MAX(z) AS max_z
      |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin

  /** Data-skipping PLANNER over the z-order layout — the read side of
    * `q_zorder_layout`: given a 2-D predicate box (both bounds
    * domain-proportional so the probe is meaningful at every SF), emit
    * per file (n_rows, candidate, n_match) where `candidate` is the
    * manifest-level intersection test a lake reader runs at FILE
    * LISTING time and `n_match` is the true matching-row count. The
    * hashed result therefore carries the data-skipping SAFETY
    * invariant itself: every non-candidate file shows n_match = 0 —
    * skipping reads no row it shouldn't — while candidate files ≪ all
    * files is the payoff (the spec asserts both). Same plan as the
    * layout: one scalar max aggregate + one projection + one
    * groupBy(file_id); no write needed to PLAN the skip. */
  private def zorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir).select(
      col("l_partkey").cast(LongType).as("x"),
      col("l_suppkey").cast(LongType).as("y"))
    val mx = src.agg(max("x").as("max_x"), max("y").as("max_y"))
    src.withColumn("max_x", mx.select("max_x").scalar())
      .withColumn("max_y", mx.select("max_y").scalar())
      .withColumn("xs", expr("(x * 65535) div max_x"))
      .withColumn("ys", expr("(y * 65535) div max_y"))
      .withColumn("z", graft.functions.F.morton(col("xs"), col("ys")))
      .withColumn("file_id", shiftright(col("z"), 28).cast(IntegerType))
      .withColumn("x_lo", expr("max_x div 8"))
      .withColumn("x_hi", expr("max_x div 3"))
      .withColumn("y_lo", expr("max_y div 8"))
      .withColumn("y_hi", expr("max_y div 3"))
      .withColumn("hit", col("x").between(col("x_lo"), col("x_hi")) &&
        col("y").between(col("y_lo"), col("y_hi")))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_xf"),
        min("y").as("min_y"), max("y").as("max_yf"),
        sum(col("hit").cast(LongType)).as("n_match"),
        min("x_lo").as("x_lo"), min("x_hi").as("x_hi"),
        min("y_lo").as("y_lo"), min("y_hi").as("y_hi"))
      .select(col("file_id"), col("n_rows"),
        (!(col("max_xf") < col("x_lo") || col("min_x") > col("x_hi") ||
          col("max_yf") < col("y_lo") || col("min_y") > col("y_hi")))
          .as("candidate"),
        col("n_match"))
      .orderBy("file_id")
  }

  /** Compaction / OPTIMIZE primitive — the lakehouse maintenance
    * operator that pairs with `q_zorder_layout`: the partitioned
    * sink's small files are bin-packed into target-size outputs and
    * the compaction ACTUALLY RUNS (write small → plan bins → rewrite
    * compacted → manifest read back from the compacted table).
    *
    * Packing discipline: files in day order, bin = (cumulative bytes
    * of PRECEDING files) div T — the ORDER-PRESERVING cumulative
    * split every production compactor uses (Spark's own file
    * coalescing, Delta/Iceberg OPTIMIZE bin planning). Deliberately
    * NOT lookback first-fit: preserving day contiguity keeps each
    * output file's day min/max tight, so partition-prune-ability
    * SURVIVES compaction (a lookback fit mixes distant days into one
    * file and destroys pruning), it is window-expressible (one
    * running sum over the \|files\|-row manifest — no driver loop),
    * and it has the tight analytic bound n_bins = ⌈total/T⌉ with
    * per-bin bytes < T + max_file (CompactManifestSpec pins both,
    * plus 1-file-per-bin on disk after the rewrite).
    *
    * Sizes are LOGICAL bytes (fixed field widths + string length) —
    * physical parquet bytes are encoder-dependent and not
    * oracle-replicable; the packing math is identical. T scales as
    * total div 8 + 1 so the packing is non-degenerate at every SF
    * (~8 bins of ~4 day-files each; a fixed byte target collapses to
    * one bin at sf0.001 or one file per bin at sf0.1).
    *
    * Scale shape: manifest = one map-side day aggregate (\|days\|
    * rows); the bin plan is a window on that tiny frame; the rewrite
    * is one repartition(bin) exchange of the corpus — the same cost
    * any OPTIMIZE pays; the output manifest re-aggregates the
    * compacted table, proving the rewrite content-preserving inside
    * the query's own hash. */
  private def compactManifest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = System.getProperty("java.io.tmpdir")
    val srcPath = s"$tmp/graft_compact_src"
    val outPath = s"$tmp/graft_compact_out"
    val logicalBytes = (lit(32) + length(col("event_type"))).cast("long")
    // 1. the small-files fixture: one file per day
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"),
        to_date(col("ts")).as("day"))
    src.repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(srcPath)
    val sink = spark.read.schema(src.schema).parquet(srcPath)
    // 2. per-file manifest + cumulative-split bin plan (|days| rows)
    val manifest = sink.groupBy("day")
      .agg(count(lit(1)).as("n_rows"), sum(logicalBytes).as("bytes"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val plan = manifest.withColumn("total", manifest.agg(sum("bytes")).scalar())
      .withColumn("cum_before",
        coalesce(sum("bytes").over(wCum), lit(0L)))
      .withColumn("bin",
        expr("cum_before div (total div 8 + 1)"))
      .select(col("day"), col("bin"))
    // 3. the rewrite: one exchange, one file per bin
    val compacted = sink.join(broadcast(plan), Seq("day"))
    compacted.repartition(col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(outPath)
    // 4. AFTER manifest, read back from the COMPACTED table
    spark.read.schema(compacted.schema).parquet(outPath)
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(countDistinct(col("day")).as("n_files"),
        count(lit(1)).as("n_rows"),
        sum(logicalBytes).as("bytes"),
        min(col("day")).as("d_min"), max(col("day")).as("d_max"))
      .orderBy("bin")
  }

  private val compactManifestSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_rows,
      |    CAST(SUM(32 + length(event_type)) AS BIGINT) AS bytes
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total FROM daily),
      |binned AS (
      |  SELECT day, n_rows, bytes,
      |    CAST(COALESCE(SUM(bytes) OVER
      |        (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) // (total // 8 + 1) AS bin
      |  FROM daily CROSS JOIN tot)
      |SELECT bin, COUNT(*) AS n_files,
      |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
      |  CAST(SUM(bytes) AS BIGINT) AS bytes,
      |  MIN(day) AS d_min, MAX(day) AS d_max
      |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  private val zorderPruneSql =
    """WITH src AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
      |  FROM lineitem),
      |mx AS (SELECT MAX(x) AS max_x, MAX(y) AS max_y FROM src),
      |sc AS (
      |  SELECT x, y, (x * 65535) // max_x AS xs, (y * 65535) // max_y AS ys,
      |    max_x // 8 AS x_lo, max_x // 3 AS x_hi,
      |    max_y // 8 AS y_lo, max_y // 3 AS y_hi
      |  FROM src CROSS JOIN mx),
      |zz AS (
      |  SELECT x, y, x_lo, x_hi, y_lo, y_hi,
      |    CAST(list_sum(list_transform(range(0, 16),
      |      b -> (((xs >> b) & 1) << (2*b)) + (((ys >> b) & 1) << (2*b + 1))))
      |      AS BIGINT) AS z
      |  FROM sc),
      |pf AS (
      |  SELECT CAST(z >> 28 AS INT) AS file_id, COUNT(*) AS n_rows,
      |    MIN(x) AS min_x, MAX(x) AS max_xf, MIN(y) AS min_y, MAX(y) AS max_yf,
      |    CAST(SUM(CASE WHEN x BETWEEN x_lo AND x_hi
      |                   AND y BETWEEN y_lo AND y_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |    MIN(x_lo) AS x_lo, MIN(x_hi) AS x_hi, MIN(y_lo) AS y_lo, MIN(y_hi) AS y_hi
      |  FROM zz GROUP BY 1)
      |SELECT file_id, n_rows,
      |  NOT (max_xf < x_lo OR min_x > x_hi OR max_yf < y_lo OR min_y > y_hi) AS candidate,
      |  n_match
      |FROM pf ORDER BY file_id""".stripMargin

  /** JSON-lines source/sink roundtrip: documents metadata written as
    * NDJSON, read back with an explicit schema (schema-on-read, no
    * inference pass — at scale inference means reading the data
    * twice), aggregated per language. */
  private def scanJsonl(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_scan_jsonl"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("lang")
  }

  private val scanJsonlSql =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** il_analysis_git.py:58 — compound-predicate row purge. */
  private def filterNullCity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(!(col("user_id") % 7 === 0 && col("event_id") % 10 === 0))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  private val filterNullCitySql =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE NOT (user_id % 7 = 0 AND event_id % 10 = 0)
      |ORDER BY event_id""".stripMargin

  /** il_analysis_git.py:84-115 cases 1/2/4 — window-predicate
    * reconciliation on an orders-derived (city, area) fact. */
  private def areaReconcile(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey").as("city"),
      (col("o_orderkey") % 4).as("area"))
    ReconcileOps.reconcileFact(fact)
      .withColumn("id", CleanOps.surrogateId(col("city"), col("area")))
      .orderBy("o_orderkey")
  }

  private val areaReconcileSql =
    """WITH fact AS (
      |  SELECT o_orderkey, o_custkey AS city, o_orderkey % 4 AS area FROM orders
      |), flagged AS (
      |  SELECT *,
      |    MAX(CASE WHEN area = 0 THEN 1 ELSE 0 END) OVER (PARTITION BY city) AS hz,
      |    MAX(CASE WHEN area <> 0 THEN 1 ELSE 0 END) OVER (PARTITION BY city) AS hnz
      |  FROM fact
      |), kept AS (
      |  SELECT o_orderkey, city,
      |    CASE WHEN hz = 1 AND hnz = 0 AND area = 0 THEN 1 ELSE area END AS area
      |  FROM flagged
      |  WHERE NOT (area = 0 AND hz = 1 AND hnz = 1)
      |)
      |SELECT o_orderkey, city, area, city * 10000 + area AS id
      |FROM kept ORDER BY o_orderkey""".stripMargin

  /** il_analysis_git.py:75,:78 — max date without a global sort. */
  private def maxDate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(max(to_date(col("ts"))).as("last_date"))

  private val maxDateSql =
    "SELECT MAX(CAST(ts AS DATE)) AS last_date FROM events"

  /** il_analysis_git.py:78-82,:156 — time-window filter from
    * max(date)−14d, computed lazily as a scalar subquery (no driver
    * round-trip). */
  private def windowFilter(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = EventSeries.daily(spark, dir)
      .agg(date_sub(max(col("date")), 14)).scalar()
    EventSeries.series(spark, dir)
      .filter(col("date") >= cutoff)
      .select(col("id"), col("date"), col("cases"))
      .orderBy("id", "date")
  }

  private val windowFilterSql = withSeries(
    """SELECT id, date, cases FROM series
      |WHERE date >= (SELECT MAX(date) - 14 FROM daily)
      |ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:22-30,:119-124 — rebase_15 imputation as O(n)
    * running-sum windows (per-metric intent; see TimeSeriesOps). */
  private def rebase15(spark: SparkSession, dir: String): DataFrame = {
    val d = EventSeries.daily(spark, dir)
      .withColumn("cval",
        when(col("dval") < EventSeries.CensorCases, 0L).otherwise(col("dval")))
      .withColumn("vval",
        when(col("dval") < EventSeries.CensorVacc, 0L).otherwise(col("dval")))
    val c = TS.rebase15(d, "id", "date", "cval", "new_case", "cases")
    val v = TS.rebase15(c, "id", "date", "vval", "new_vaccine", "vacc")
    v.select(col("id"), col("date"), col("cases_cum"), col("cases_m"),
        col("cases_imputed"), col("vacc_cum"), col("vacc_m"), col("vacc_imputed"))
      .orderBy("id", "date")
  }

  private val rebase15Sql = withSeries(
    """SELECT id, date,
      |  cases AS cases_cum,
      |  CASE WHEN cases = 0 THEN cum_new_case ELSE 0 END AS cases_m,
      |  cases + CASE WHEN cases = 0 THEN cum_new_case ELSE 0 END AS cases_imputed,
      |  vaccine AS vacc_cum,
      |  CASE WHEN vaccine = 0 THEN cum_new_vaccine ELSE 0 END AS vacc_m,
      |  vaccine + CASE WHEN vaccine = 0 THEN cum_new_vaccine ELSE 0 END AS vacc_imputed
      |FROM series ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:126 — fact ⋈ small dimension, broadcast hash
    * join (no shuffle of the fact side). */
  private def joinShape(spark: SparkSession, dir: String): DataFrame =
    EventSeries.seriesWithPop(spark, dir)
      .select(col("id"), col("date"), col("cases"), col("pop"),
        col("area_name"), col("socio_economic_rank"))
      .orderBy("id", "date")

  private val joinShapeSql = withSpop(
    """SELECT id, date, cases, pop, area_name, socio_economic_rank
      |FROM spop ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:134-137 — latest-value percent broadcast onto
    * every row of the group + clamp. */
  private def pctLatest(spark: SparkSession, dir: String): DataFrame = {
    val base = EventSeries.seriesWithPop(spark, dir)
    val p = TS.latestPercent(base, "id", "date", "cases", "pop", "percent")
    val pv = TS.latestPercent(p, "id", "date", "vaccine", "pop", "p_vaccine",
      clampTo = Some(100L))
    pv.select(col("id"), col("date"), col("cases"), col("percent"), col("p_vaccine"))
      .orderBy("id", "date")
  }

  private val pctLatestSql = withSpop(
    s"""SELECT id, date, cases,
       |  ${NumSql.roundEps("CAST(lc AS DOUBLE) / pop * 100")} AS percent,
       |  LEAST(${NumSql.roundEps("CAST(lv AS DOUBLE) / pop * 100")}, 100) AS p_vaccine
       |FROM (
       |  SELECT *,
       |    LAST_VALUE(cases) OVER (PARTITION BY id ORDER BY date $fullFrame) AS lc,
       |    LAST_VALUE(vaccine) OVER (PARTITION BY id ORDER BY date $fullFrame) AS lv
       |  FROM spop)
       |ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:153-154 — desc-anchored every-7th-row sample. */
  private def weeklySample(spark: SparkSession, dir: String): DataFrame =
    TS.strideSample(EventSeries.series(spark, dir), "id", "date", 7)
      .select(col("id"), col("date"), col("cases"))
      .orderBy("id", "date")

  private val weeklySampleSql = withSeries(
    """SELECT id, date, cases FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY date DESC) AS rn
      |  FROM series
      |) WHERE (rn - 1) % 7 = 0
      |ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:158-160 — rebase to window start. */
  private def rebaseWindow(spark: SparkSession, dir: String): DataFrame =
    TS.rebaseToStart(EventSeries.series(spark, dir), "id", "date",
        Seq("cases", "tests"))
      .select(col("id"), col("date"),
        col("cases").as("cases_rebased"), col("tests").as("tests_rebased"))
      .orderBy("id", "date")

  private val rebaseWindowSql = withSeries(
    """SELECT id, date,
      |  cases - FIRST_VALUE(cases) OVER (PARTITION BY id ORDER BY date) AS cases_rebased,
      |  tests - FIRST_VALUE(tests) OVER (PARTITION BY id ORDER BY date) AS tests_rebased
      |FROM series ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:162-164 — lag diff with first-row fallback. */
  private def dailyDelta(spark: SparkSession, dir: String): DataFrame =
    TS.dailyDelta(EventSeries.series(spark, dir), "id", "date", "cases", "delta")
      .select(col("id"), col("date"), col("cases"), col("delta"))
      .orderBy("id", "date")

  private val dailyDeltaSql = withSeries(
    """SELECT id, date, cases,
      |  COALESCE(cases - LAG(cases) OVER (PARTITION BY id ORDER BY date), cases) AS delta
      |FROM series ORDER BY id, date""".stripMargin)

  /** il_analysis_git.py:169 — country-wide per-day totals + diff. */
  private def dailySums(spark: SparkSession, dir: String): DataFrame =
    TS.dailySums(EventSeries.series(spark, dir), "date", "cases")
      .orderBy("date")

  private val dailySumsSql = withSeries(
    """SELECT date, tot, COALESCE(tot - LAG(tot) OVER (ORDER BY date), tot) AS delta
      |FROM (SELECT date, CAST(SUM(cases) AS BIGINT) AS tot FROM series GROUP BY date)
      |ORDER BY date""".stripMargin)

  /** il_analysis_git.py:167 — distinct dates, desc. */
  private def distinctDates(spark: SparkSession, dir: String): DataFrame =
    EventSeries.daily(spark, dir).select(col("date")).distinct()
      .orderBy(col("date").desc)

  private val distinctDatesSql =
    EventSeriesSql.withSeries( // series unused but keeps one prefix helper
      "SELECT DISTINCT date FROM daily ORDER BY date DESC")

  /** il_analysis_git.py:168 — 19 exact color-break quantiles of the
    * per-100k normalized metric. */
  private def colorQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val norm = EventSeries.seriesWithPop(spark, dir)
      .select(Num.roundEps(col("cases").cast(DoubleType) / col("pop") * 100000)
        .as("normalized"))
    val qs = (1 to 19).map(_ / 20.0)
    norm.agg(percentile(col("normalized"), typedlit(qs)).as("qv"))
      .select(posexplode(col("qv")))
      .select((col("pos") + 1).as("q_idx"), Num.floorEps(col("col")).as("q_value"))
      .orderBy("q_idx")
  }

  private val colorQuantilesSql = {
    val norm = NumSql.roundEps("CAST(cases AS DOUBLE) / pop * 100000")
    val selects = (1 to 19).map { i =>
      s"SELECT $i AS q_idx, ${NumSql.floorEps(s"quantile_cont(normalized, ${i / 20.0})")} AS q_value FROM norm"
    }.mkString("\nUNION ALL ")
    withSpop(s""", norm AS (SELECT $norm AS normalized FROM spop)
       |$selects
       |ORDER BY q_idx""".stripMargin)
  }

  /** il_analysis_git.py:138-146 — the revived ramzor rolling score. */
  private def rollingScore(spark: SparkSession, dir: String): DataFrame = {
    val base = EventSeries.seriesWithPop(spark, dir)
      .withColumn("tests_daily", col("n_events") * 100)
    TS.rollingScore(base, "id", "date", "dval", "tests_daily", "pop", "score")
      .select(col("id"), col("date"), col("score"))
      .orderBy("id", "date")
  }

  private val rollingScoreSql = {
    val n = "CAST(weekly_n AS DOUBLE) / pop * 10000"
    val g = "CAST(weekly_n AS DOUBLE) / CAST(prev_n AS DOUBLE)"
    val p = "CAST(weekly_n AS DOUBLE) / CAST(weekly_t AS DOUBLE)"
    val raw = s"2.0 + ln(($n) * ($g) * ($g)) + ($p) / 8"
    val guarded =
      s"CASE WHEN prev_n IS NULL OR prev_n = 0 OR weekly_n = 0 OR weekly_t = 0 THEN NULL ELSE $raw END"
    val clipped = s"LEAST(10.0, GREATEST(0.0, COALESCE($guarded, 0.0)))"
    withSpop(
      s""", roll AS (
         |  SELECT id, date, pop,
         |    CAST(SUM(dval) OVER (PARTITION BY id ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS weekly_n,
         |    CAST(SUM(n_events) OVER (PARTITION BY id ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) * 100 AS weekly_t
         |  FROM spop
         |), lagged AS (
         |  SELECT *, LAG(weekly_n, 7) OVER (PARTITION BY id ORDER BY date) AS prev_n FROM roll
         |)
         |SELECT id, date, ${NumSql.round1Eps(clipped)} AS score
         |FROM lagged ORDER BY id, date""".stripMargin)
  }

  /** il_analysis_git.py:150-172 — the flagship 'all'-window export
    * frame: percent/p_vaccine → weekly sample → rebase-to-start →
    * delta → per-100k normalized, 10-column contract (geometry-less
    * events parameterization of the :172 schema). */
  def exportFrame(spark: SparkSession, dir: String): DataFrame = {
    val base = EventSeries.seriesWithPop(spark, dir)
    val p1 = TS.latestPercent(base, "id", "date", "cases", "pop", "percent")
    val p2 = TS.latestPercent(p1, "id", "date", "vaccine", "pop", "p_vaccine",
      clampTo = Some(100L))
    val sampled = TS.strideSample(p2, "id", "date", 7)
    val rebased = TS.rebaseToStart(sampled, "id", "date", Seq("cases", "tests"))
    val withDelta = TS.dailyDelta(rebased, "id", "date", "cases", "delta")
    withDelta
      .withColumn("normalized",
        Num.roundEps(col("cases").cast(DoubleType) / col("pop") * 100000))
      .select(col("date"), col("cases").as("num_cases"), col("tests"), col("id"),
        col("socio_economic_rank"), col("area_name"), col("percent"),
        col("p_vaccine"), col("delta"), col("normalized"))
      .orderBy("id", "date")
  }

  private val exportFrameSql = withSpop(
    s""", pct AS (
       |  SELECT *,
       |    ${NumSql.roundEps("CAST(lc AS DOUBLE) / pop * 100")} AS percent,
       |    LEAST(${NumSql.roundEps("CAST(lv AS DOUBLE) / pop * 100")}, 100) AS p_vaccine
       |  FROM (
       |    SELECT *,
       |      LAST_VALUE(cases) OVER (PARTITION BY id ORDER BY date $fullFrame) AS lc,
       |      LAST_VALUE(vaccine) OVER (PARTITION BY id ORDER BY date $fullFrame) AS lv
       |    FROM spop)
       |), sampled AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY date DESC) AS rn FROM pct
       |  ) WHERE (rn - 1) % 7 = 0
       |), rebased AS (
       |  SELECT id, date, pop, area_name, socio_economic_rank, percent, p_vaccine,
       |    cases - FIRST_VALUE(cases) OVER (PARTITION BY id ORDER BY date) AS rcases,
       |    tests - FIRST_VALUE(tests) OVER (PARTITION BY id ORDER BY date) AS rtests
       |  FROM sampled
       |)
       |SELECT date, rcases AS num_cases, rtests AS tests, id, socio_economic_rank,
       |  area_name, percent, p_vaccine,
       |  COALESCE(rcases - LAG(rcases) OVER (PARTITION BY id ORDER BY date), rcases) AS delta,
       |  ${NumSql.roundEps("CAST(rcases AS DOUBLE) / pop * 100000")} AS normalized
       |FROM rebased ORDER BY id, date""".stripMargin)

  val all: Seq[Q] = Seq(
    Q("q_clean_cast", cleanCast, Some(cleanCastSql)),
    Q("q_scan_csv", scanCsv, Some(scanCsvSql)),
    Q("q_scan_orc", scanOrc, Some(scanOrcSql)),
    Q("q_write_partitioned", writePartitioned, Some(writePartitionedSql)),
    Q("q_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
    Q("q_schema_widening", schemaWidening, Some(schemaWideningSql)),
    Q("q_column_mapping", columnMapping, Some(columnMappingSql)),
    Q("q_constraints", constraints, Some(constraintsSql)),
    Q("q_zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    Q("q_zorder_prune", zorderPrune, Some(zorderPruneSql)),
    Q("q_compact_manifest", compactManifest, Some(compactManifestSql)),
    Q("q_scan_jsonl", scanJsonl, Some(scanJsonlSql)),
    Q("q_filter_nullcity", filterNullCity, Some(filterNullCitySql)),
    Q("q_area_reconcile", areaReconcile, Some(areaReconcileSql)),
    Q("q_max_date", maxDate, Some(maxDateSql)),
    Q("q_window_filter", windowFilter, Some(windowFilterSql)),
    Q("q_rebase15", rebase15, Some(rebase15Sql)),
    Q("q_join_shape", joinShape, Some(joinShapeSql)),
    Q("q_pct_latest", pctLatest, Some(pctLatestSql)),
    Q("q_weekly_sample", weeklySample, Some(weeklySampleSql)),
    Q("q_rebase_window", rebaseWindow, Some(rebaseWindowSql)),
    Q("q_daily_delta", dailyDelta, Some(dailyDeltaSql)),
    Q("q_daily_sums", dailySums, Some(dailySumsSql)),
    Q("q_distinct_dates", distinctDates, Some(distinctDatesSql)),
    Q("q_color_quantiles", colorQuantiles, Some(colorQuantilesSql)),
    Q("q_rolling_score", rollingScore, Some(rollingScoreSql)),
    Q("q_export_frame", exportFrame, Some(exportFrameSql)),
  )
}
