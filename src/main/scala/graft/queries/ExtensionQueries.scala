package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Further generalized-relational extensions: multi-level aggregation
  * (rollup), cardinality sketches, skew-safe salted joins, and a
  * typed arbitrary group-map — the remaining "absent in the
  * reference, required at 100 TB" surface.
  */
object ExtensionQueries {

  /** ROLLUP over (returnflag, linestatus): per-group, per-flag and
    * grand totals in one pass — Spark expands the grouping sets and
    * still does partial+final hash aggregation. */
  private def rollupPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(Num.cents(col("l_quantity"))).as("sum_qty_c"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty_c"), col("n"))
      .orderBy("rf", "ls")

  private val rollupPricingSql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       |  COALESCE(l_linestatus, 'ALL') AS ls,
       |  CAST(SUM(${NumSql.cents("l_quantity")}) AS BIGINT) AS sum_qty_c,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY rf, ls""".stripMargin

  /** HLL++ approximate distinct counts per order priority — the
    * shuffle-light cardinality sketch (sketches merge associatively,
    * so the combine tree is exact-size-independent). Rows-only driver
    * check: sketch estimates are engine-specific; the accuracy bound
    * vs exact distinct is asserted in ExtensionSpec. */
  private def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Hash-checkable error-bound twin of [[approxDistinct]]: joins the
    * HLL++ estimate against the exact distinct count and emits a
    * deterministic `within_10pct` flag next to the (oracled) exact
    * count. The sketch value itself is engine-specific — but the
    * CLAIM "estimate within 10% of exact" (the bound ExtensionSpec
    * asserts; rsd is 0.02, so 10% is a 5-sigma allowance) is
    * deterministic, and the DuckDB oracle predicts flag = 1 from the
    * exact side alone. A sketch regression would flip the flag and
    * hash-mismatch the driver artifact, making the accuracy contract
    * part of the correctness gate instead of a spec-only claim. */
  private def approxDistinctErr(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
        countDistinct(col("o_custkey")).as("exact_custs"))
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(col("approx_custs") - col("exact_custs"))
          <= col("exact_custs") * 0.1).cast("int").as("within_10pct"))
      .orderBy("o_orderpriority")
  }

  private val approxDistinctErrSql =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_custs,
      |  1 AS within_10pct
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Skew-safe salted join: the build side is replicated `Salts` ways,
    * the probe side sprays rows across salts, so one hot key spreads
    * over `Salts` tasks instead of one straggler. Results are
    * identical to the unsalted join — which is exactly what the
    * oracle checks. (AQE skew-join does this adaptively; the explicit
    * form is for engines/pipelines where the skew is known a priori.) */
  private val Salts = 8

  private def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), Num.cents(col("l_extendedprice")).as("price_c"))
      // deterministic spray: any hash that varies within a join key
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("price_c")), lit(Salts)))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .crossJoin(spark.range(Salts).select(col("id").as("salt")))
    li.join(o,
        li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("price_c")).as("rev_c"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  private val joinSaltedSql =
    s"""SELECT o_orderpriority,
       |  CAST(SUM(${NumSql.cents("l_extendedprice")}) AS BIGINT) AS rev_c,
       |  COUNT(*) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** GROUPING SETS ((rf), (ls), ()) — the shape rollup/cube cannot
    * express: two independent single-column breakdowns plus the grand
    * total, one Expand + one partial+final agg pass, no self-union of
    * scans. GROUPING() bits disambiguate the synthetic NULLs. */
  private def groupingSetsPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(Num.cents(col("l_quantity"))).as("sum_qty_c"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 0, col("l_returnflag")).otherwise(lit("ALL")).as("rf"),
        when(col("g_ls") === 0, col("l_linestatus")).otherwise(lit("ALL")).as("ls"),
        col("sum_qty_c"), col("n"))
      .orderBy("rf", "ls")

  private val groupingSetsPricingSql =
    s"""SELECT CASE WHEN GROUPING(l_returnflag) = 0 THEN l_returnflag ELSE 'ALL' END AS rf,
       |  CASE WHEN GROUPING(l_linestatus) = 0 THEN l_linestatus ELSE 'ALL' END AS ls,
       |  CAST(SUM(${NumSql.cents("l_quantity")}) AS BIGINT) AS sum_qty_c,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY rf, ls""".stripMargin

  /** Approximate-quantile twin of q_color_quantiles: the same
    * 19-point color scale via the KLL/GK-style percentile_approx
    * sketch — single-pass, mergeable, bounded-memory (the exact
    * `percentile` materializes every value per group; the sketch is
    * what survives 100 TB). Rows-only driver check: sketch estimates
    * are engine-specific; the error bound vs exact is asserted in
    * ExtensionSpec. */
  private def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val norm = EventSeries.seriesWithPop(spark, dir)
      .select(Num.roundEps(col("cases").cast(DoubleType) / col("pop") * 100000)
        .as("normalized"))
    val qs = (1 to 19).map(_ / 20.0)
    norm.agg(percentile_approx(col("normalized"), typedlit(qs), lit(10000)).as("qv"))
      .select(posexplode(col("qv")))
      .select((col("pos") + 1).as("q_idx"), Num.floorEps(col("col")).as("q_value"))
      .orderBy("q_idx")
  }

  /** Hash-checkable error-bound twin of [[approxQuantiles]] (same
    * pattern as [[approxDistinctErr]]): one aggregation pass computes
    * BOTH the percentile_approx sketch and the exact percentile at
    * every scale point plus its two neighbors; each sketch value must
    * land inside the exact neighbor band [q-0.05, q+0.05] — the bound
    * ExtensionSpec asserts, far looser than the 1/10000 rank accuracy.
    * The oracled columns are the exact quantile (DuckDB quantile_cont,
    * as in q_color_quantiles) and the deterministic flag. */
  private def approxQuantilesErr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val norm = EventSeries.seriesWithPop(spark, dir)
      .select(Num.roundEps(col("cases").cast(DoubleType) / col("pop") * 100000)
        .as("normalized"))
    val qs = (1 to 19).map(_ / 20.0)
    val los = (1 to 19).map(i => (i - 1) / 20.0)
    val his = (1 to 19).map(i => (i + 1) / 20.0)
    norm.agg(
        percentile_approx(col("normalized"), typedlit(qs), lit(10000)).as("qa"),
        percentile(col("normalized"), typedlit(qs)).as("qe"),
        percentile(col("normalized"), typedlit(los)).as("qlo"),
        percentile(col("normalized"), typedlit(his)).as("qhi"))
      .select(posexplode(col("qa")).as(Seq("pos", "qa_v")),
        col("qe"), col("qlo"), col("qhi"))
      .select((col("pos") + 1).as("q_idx"),
        Num.floorEps(element_at(col("qe"), col("pos") + 1)).as("q_value"),
        (col("qa_v") >= element_at(col("qlo"), col("pos") + 1) - 1e-9 &&
         col("qa_v") <= element_at(col("qhi"), col("pos") + 1) + 1e-9)
          .cast("int").as("within_band"))
      .orderBy("q_idx")
  }

  private val approxQuantilesErrSql = {
    val norm = NumSql.roundEps("CAST(cases AS DOUBLE) / pop * 100000")
    val selects = (1 to 19).map { i =>
      s"SELECT $i AS q_idx, ${NumSql.floorEps(s"quantile_cont(normalized, ${i / 20.0})")} AS q_value, 1 AS within_band FROM norm"
    }.mkString("\nUNION ALL ")
    EventSeriesSql.withSpop(
      s""", norm AS (SELECT $norm AS normalized FROM spop)
         |$selects
         |ORDER BY q_idx""".stripMargin)
  }

  // --------------------------------------------------------------- HLL

  /** HyperLogLog registers (Flajolet et al. 2007) built FROM SCRATCH
    * as two map-side-collapsing aggregates — the white-box twin of
    * `q_approx_distinct`'s opaque HLL++ sketch, fully hash-verified
    * because every step is integer arithmetic:
    *
    *  - 31-bit poly hash of the key, then TWO Lehmer/MINSTD mix steps
    *    (h·48271 mod M, then ·69621 mod M — injective, M prime): the
    *    rolling poly hash of short keys has no avalanche (same-length
    *    keys land in one narrow band, leaving the top bits constant),
    *    and one multiplicative step only stretches the band into an
    *    arithmetic progression; the second wraps it around M so the
    *    top 6 bits go uniform. They pick one of m=64 registers, the
    *    low 25 bits w set the observation
    *    rho = (leading zeros of w in 25-bit width) + 1 — computed as
    *    26 − bitlength(w) via the engines' shared binary-string
    *    primitive (Spark `bin`, DuckDB `printf('%b')`), no float log;
    *  - register value = MAX(rho) per (group, bucket): an algebraic
    *    aggregate, so partial combine collapses each group to ≤ m
    *    rows map-side — at 100 TB the shuffle carries registers, not
    *    keys, and registers from disjoint shards MERGE by the same
    *    MAX (the production shape: registers as incremental state);
    *  - the harmonic-mean denominator Σ 2^(−reg) is kept EXACT by
    *    scaling to the integer Σ 2^(26−reg) (absent buckets contribute
    *    2^26): max 64·2^26 < 2^33, so the sum is order-independent
    *    BIGINT math, and the estimate α·m²·2^26 / sum_scaled is one
    *    correctly-rounded double division — bit-identical cross-engine.
    *
    * No small-range correction on purpose: each group holds ~1300
    * distinct keys at sf0.01, 20× past the 2.5·m boundary (the raw
    * estimator's valid range); ExtensionSpec pins err_pct ≤ 50 (HLL
    * σ = 1.04/√64 ≈ 13%). `reg_checksum` hashes the whole register
    * table, so the oracle equality verifies the SKETCH STATE, not
    * just the estimate. */
  private val HllEstNum: Double =
    0.7213 / (1 + 1.079 / 64.0) * 4096.0 * 67108864.0

  private def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val rho = when(col("w") === 0, lit(26))
      .otherwise(lit(26) - length(bin(col("w"))))
    val reg = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        graft.functions.F.polyHash(col("o_custkey").cast("string")).as("h0"))
      .select(col("grp"),
        expr("(h0 * 48271 % 2147483647) * 69621 % 2147483647").as("h"))
      .select(col("grp"), expr("h div 33554432").as("bucket"),
        expr("h % 33554432").as("w"))
      .groupBy("grp", "bucket").agg(max(rho).cast("long").as("reg"))
    val st = reg.groupBy("grp").agg(
      count(lit(1)).as("n_buckets"),
      (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - reg AS INT))")) +
        (lit(64L) - count(lit(1))) * lit(67108864L)).as("sum_scaled"),
      sum(col("reg") * (col("bucket") + 1)).as("reg_checksum"))
    val exact = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    st.join(broadcast(exact), "grp")
      .withColumn("est",
        Num.floorEps(lit(HllEstNum) / col("sum_scaled").cast("double")))
      .withColumn("err_pct", Num.floorEps(
        abs(col("est") - col("n_exact")) * 100.0 / col("n_exact")))
      .select("grp", "n_buckets", "reg_checksum", "n_exact", "est", "err_pct")
      .orderBy("grp")
  }

  private val hllDistinctSql = {
    val poly = OracleSqlFrag.poly("CAST(o_custkey AS VARCHAR)")
    s"""WITH h0 AS (
       |  SELECT o_orderpriority AS grp, $poly AS h0 FROM orders),
       |h AS (
       |  SELECT grp, (h0 * 48271 % 2147483647) * 69621 % 2147483647 AS h
       |  FROM h0),
       |b AS (
       |  SELECT grp, h // 33554432 AS bucket, h % 33554432 AS w FROM h),
       |reg AS (
       |  SELECT grp, bucket, CAST(MAX(CASE WHEN w = 0 THEN 26
       |    ELSE 26 - length(printf('%b', w)) END) AS BIGINT) AS reg
       |  FROM b GROUP BY grp, bucket),
       |st AS (
       |  SELECT grp, COUNT(*) AS n_buckets,
       |    SUM(1::BIGINT << CAST(26 - reg AS INT))
       |      + (64 - COUNT(*)) * 67108864 AS sum_scaled,
       |    CAST(SUM(reg * (bucket + 1)) AS BIGINT) AS reg_checksum
       |  FROM reg GROUP BY grp),
       |ex AS (
       |  SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS n_exact
       |  FROM orders GROUP BY 1),
       |est AS (
       |  SELECT grp, n_buckets, reg_checksum, n_exact,
       |    ${NumSql.floorEps(s"$HllEstNum / CAST(sum_scaled AS DOUBLE)")} AS est
       |  FROM st JOIN ex USING (grp))
       |SELECT grp, n_buckets, reg_checksum, n_exact, est,
       |  ${NumSql.floorEps("abs(est - n_exact) * 100.0 / n_exact")} AS err_pct
       |FROM est ORDER BY grp""".stripMargin
  }

  /** Pivot: long→wide event-type counts per user. Explicit value list
    * (the production rule — value discovery costs an extra job and
    * breaks plan caching); one partial+final agg pass underneath. */
  private val EventTypes = Seq("click", "view", "purchase", "signup")

  private def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0, EventTypes)
      .orderBy("user_id")

  private val pivotEventsSql =
    s"""SELECT user_id,
       |${EventTypes.map(t =>
            s"  CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS $t")
          .mkString(",\n")}
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** BUCKETED co-located join — the scale technique for REPEATED
    * fact⋈fact joins on one key where neither side broadcasts:
    * both tables are written `bucketBy(8, custkey)` + `sortBy` into
    * the session catalog (Spark's persisted bucketing: each bucket
    * file holds one hash slice of the key space), so the sort-merge
    * join consumes both scans' existing distribution and the plan
    * carries NO shuffle exchange at all (ScaleTechniquesSpec asserts
    * it on these real fixture tables; at 100 TB this converts every
    * repeated join on the bucket key from a full-table shuffle into
    * a local merge). A `merge` join hint pins the SMJ strategy (a
    * session-conf toggle would not survive the lazy plan — strategy
    * resolves at action time; and at real scale neither side
    * broadcasts anyway). The bucketed tables are a CONTENT-KEYED
    * fixture (round 14): written once per dataset ([[graft.ops.FixtureStore]]);
    * later runs — including fresh sessions — re-attach by DDL ONLY
    * (`CREATE TABLE … CLUSTERED BY … LOCATION`, schema taken verbatim
    * from the stored footer so the bucket hash type can never drift),
    * which restores the shuffle-free SMJ without moving a byte.
    * Output: the per-nation order rollup through the bucketed join,
    * oracled by a plain SQL join. */
  /** Ensure the two bucketed tables exist on disk AND in this
    * session's catalog; returns their (dataset-keyed) table names. */
  def ensureBucketed(spark: SparkSession,
                     dir: String): (String, String) = {
    val k = dir.replaceAll("[^A-Za-z0-9]+", "_") // SQL identifier: no dots
    val custT = s"graft_bkt_cust_$k"
    val ordT = s"graft_bkt_ord_$k"
    val root = graft.ops.FixtureStore.ensure("bucketed", dir,
        parts = Seq("cust", "ord")) { root =>
      spark.sql(s"DROP TABLE IF EXISTS $custT")
      spark.sql(s"DROP TABLE IF EXISTS $ordT")
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("custkey"),
          col("c_nationkey").cast("long").as("nation"))
        .write.mode("overwrite").option("path", s"$root/cust")
        .bucketBy(8, "custkey").sortBy("custkey")
        .saveAsTable(custT)
      Tables.orders(spark, dir)
        .select(col("o_custkey").as("custkey"),
          coalesce(Num.cents(col("o_totalprice")), lit(0L)).as("pc"))
        .write.mode("overwrite").option("path", s"$root/ord")
        .bucketBy(8, "custkey").sortBy("custkey")
        .saveAsTable(ordT)
    }
    // stored fixture + (possibly) fresh session: re-attach by DDL.
    // The schema comes from the stored footer VERBATIM — a declared
    // type differing from the written one would silently change the
    // bucket hash (murmur3 of int ≠ of long) and mis-join buckets.
    def attach(tbl: String, sub: String): Unit =
      if (!spark.catalog.tableExists(tbl)) {
        val ddl = spark.read.parquet(s"$root/$sub").schema.toDDL
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $tbl ($ddl) USING parquet
             |CLUSTERED BY (custkey) SORTED BY (custkey) INTO 8 BUCKETS
             |LOCATION '$root/$sub'""".stripMargin)
      }
    attach(custT, "cust")
    attach(ordT, "ord")
    (custT, ordT)
  }

  private def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (custT, ordT) = ensureBucketed(spark, dir)
    spark.table(custT).hint("merge")
      .join(spark.table(ordT), Seq("custkey"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_orders"), sum("pc").as("sum_cents"),
        countDistinct("custkey").as("n_cust"))
      .orderBy("nation")
  }

  private val joinBucketedSql =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |  COUNT(*) AS n_orders,
       |  CAST(SUM(COALESCE(${NumSql.cents("o_totalprice")}, 0)) AS BIGINT)
       |    AS sum_cents,
       |  COUNT(DISTINCT c_custkey) AS n_cust
       |FROM customer JOIN orders ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_join_bucketed", joinBucketed, Some(joinBucketedSql)),
    Q("q_rollup", rollupPricing, Some(rollupPricingSql)),
    Q("q_grouping_sets", groupingSetsPricing, Some(groupingSetsPricingSql)),
    Q("q_approx_distinct", approxDistinct, None),
    Q("q_approx_distinct_err", approxDistinctErr, Some(approxDistinctErrSql)),
    Q("q_hll_distinct", hllDistinct, Some(hllDistinctSql)),
    Q("q_approx_quantiles", approxQuantiles, None),
    Q("q_approx_quantiles_err", approxQuantilesErr, Some(approxQuantilesErrSql)),
    Q("q_join_salted", joinSalted, Some(joinSaltedSql)),
    Q("q_pivot", pivotEvents, Some(pivotEventsSql)),
  )
}
