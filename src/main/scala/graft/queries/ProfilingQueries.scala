package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling / navigation surface: the offset window functions
  * (lead/lag/first/last/nth over an explicit frame), exact-integer
  * histogram binning, and per-column profile stats — the "what is in
  * this 100 TB table" queries that precede any pipeline work.
  */
object ProfilingQueries {

  /** Offset/navigation window family in one pass. Unique sort key
    * (date, orderkey) makes every offset deterministic; the full
    * frame is declared explicitly — Spark's last_value default frame
    * ends at CURRENT ROW, a classic cross-engine trap. */
  private def windowNav(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od"), col("o_orderkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("od"),
        Num.cents(col("o_totalprice")).as("price_c"))
      .select(col("o_orderkey"), col("o_custkey"), col("price_c"),
        lag(col("price_c"), 1).over(ord).as("prev_c"),
        lead(col("price_c"), 1).over(ord).as("next_c"),
        first(col("price_c")).over(full).as("first_c"),
        last(col("price_c")).over(full).as("last_c"),
        nth_value(col("price_c"), 2).over(full).as("second_c"))
      .orderBy("o_orderkey")
  }

  private val windowNavSql =
    s"""SELECT o_orderkey, o_custkey, price_c,
       |  lag(price_c, 1) OVER w AS prev_c,
       |  lead(price_c, 1) OVER w AS next_c,
       |  first_value(price_c) OVER wf AS first_c,
       |  last_value(price_c) OVER wf AS last_c,
       |  nth_value(price_c, 2) OVER wf AS second_c
       |FROM (
       |  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
       |    ${NumSql.cents("o_totalprice")} AS price_c
       |  FROM orders)
       |WINDOW
       |  w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey),
       |  wf AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |ORDER BY o_orderkey""".stripMargin

  /** Exact-integer histogram: fixed [lo, hi) cent range split into
    * `NBins` buckets with pure integer arithmetic (no float binning
    * drift), one partial+final aggregate — the scan-speed profile of
    * a value distribution at any scale. */
  private val NBins = 20
  private val LoC = 0L
  private val HiC = 60000000L // $600k in cents — beyond TPC-H max total

  private def histogram(spark: SparkSession, dir: String): DataFrame = {
    val c = Num.cents(col("o_totalprice"))
    val clamped = least(greatest(c, lit(LoC)), lit(HiC - 1))
    val bucket = ((clamped - LoC) * NBins / (HiC - LoC)).cast("int")
    Tables.orders(spark, dir)
      .select(bucket.as("bucket"), c.as("price_c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("price_c")).as("min_c"), max(col("price_c")).as("max_c"))
      .orderBy("bucket")
  }

  private val histogramSql =
    s"""SELECT bucket, COUNT(*) AS n,
       |  CAST(MIN(price_c) AS BIGINT) AS min_c, CAST(MAX(price_c) AS BIGINT) AS max_c
       |FROM (
       |  SELECT CAST(LEAST(GREATEST(${NumSql.cents("o_totalprice")}, $LoC), ${HiC - 1}) * $NBins // ($HiC - $LoC) AS INT) AS bucket,
       |    ${NumSql.cents("o_totalprice")} AS price_c
       |  FROM orders)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Per-column profile: null count, exact distinct, row count for a
    * fixed column set — one pruned single-column scan per column,
    * unioned. (At 100 TB the same shape runs with approx sketches —
    * see q_approx_distinct — or a single-pass multi-agg; exact
    * distinct per column is the oracle-checkable tier.) */
  private def profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def one(name: String, expr: Column): DataFrame =
      li.select(expr.as("v"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"))
        .select(lit(name).as("column"), col("n_rows"), col("n_nulls"), col("n_distinct"))
    one("l_returnflag", col("l_returnflag"))
      .unionByName(one("l_linestatus", col("l_linestatus")))
      .unionByName(one("l_quantity", Num.cents(col("l_quantity"))))
      .unionByName(one("l_shipdate", col("l_shipdate").cast("date")))
      .orderBy("column")
  }

  private val profileSql = {
    def one(name: String, expr: String) =
      s"""SELECT '$name' AS "column", COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $expr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $expr) AS BIGINT) AS n_distinct
         |FROM lineitem""".stripMargin
    Seq(
      one("l_returnflag", "l_returnflag"),
      one("l_linestatus", "l_linestatus"),
      one("l_quantity", NumSql.cents("l_quantity")),
      one("l_shipdate", "CAST(l_shipdate AS DATE)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Count-min-sketch heavy hitters over the document token stream —
    * the MERGEABLE frequency sketch that answers "which items are hot"
    * at 100 TB with O(d·w) state instead of a full-vocabulary exact
    * count. Depth 3 (independent polynomial hash rows), width 64; the
    * estimate for a token is the min over its three counters, which by
    * construction NEVER under-counts (collisions only add).
    *
    * Scale shape: the sketch build is one partial+final integer
    * aggregate over (d, w) — 192 cells regardless of corpus size; the
    * exact side (needed here to verify the overestimate invariant and
    * rank true heavy hitters) is the oracle-checkable tier you'd drop
    * at full scale. Every counter and estimate is exact integer
    * arithmetic, so the WHOLE sketch — cells, per-token mins, ranks —
    * is replicated in SQL and hash-verified.
    */
  private val CmsW = 64L
  private val CmsBases = Seq(131L, 137L, 139L) // one poly hash per row

  private def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.F
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    // all d cell coordinates of a token in one projection (explode of
    // a 3-struct array, not a 3-leg union that would scan 3×)
    def dwCols(tok: org.apache.spark.sql.Column) = array(
      CmsBases.zipWithIndex.map { case (b, d) =>
        struct(lit(d).as("d"), pmod(F.polyHash(tok, b), lit(CmsW)).as("w"))
      }: _*)
    // sketch build: ONE corpus pass collapsing straight to (d, w)
    // cells — the only state that exists at full scale
    val cms = toks.select(explode(dwCols(col("tok"))).as("dw"))
      .groupBy(col("dw.d").as("d"), col("dw.w").as("w"))
      .agg(count(lit(1)).as("cnt"))
    // vocab-sized (≪ corpus) and used twice (cell probes + final
    // join) — pin it so the corpus isn't re-scanned per use
    val exact = graft.ops.SideCache.persist(
      toks.groupBy("tok").agg(count(lit(1)).as("exact_n")))
    // point queries: each distinct token probes its d cells — derived
    // from the already-aggregated vocab, not another corpus pass
    val cells = exact.select(col("tok"), explode(dwCols(col("tok"))).as("dw"))
      .select(col("tok"), col("dw.d").as("d"), col("dw.w").as("w"))
    val est = cells.join(broadcast(cms), Seq("d", "w"))
      .groupBy("tok").agg(min("cnt").as("est_n"))
    exact.join(est, "tok")
      .select(col("tok"), col("exact_n"), col("est_n"),
        (col("est_n") >= col("exact_n")).as("never_under"))
      .orderBy(col("exact_n").desc, col("tok"))
      .limit(15)
  }

  private val heavyHittersSql = {
    import OracleSqlFrag.poly
    val cmsRows = CmsBases.zipWithIndex.map { case (b, d) =>
      s"SELECT $d AS d, ${poly("tok", b)} % $CmsW AS w FROM toks"
    }.mkString("\nUNION ALL\n")
    val cellRows = CmsBases.zipWithIndex.map { case (b, d) =>
      s"SELECT tok, $d AS d, ${poly("tok", b)} % $CmsW AS w FROM vocab"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
       |), cms AS (
       |  SELECT d, w, COUNT(*) AS cnt FROM ($cmsRows) GROUP BY d, w
       |), exact AS (
       |  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
       |), vocab AS (
       |  SELECT DISTINCT tok FROM toks
       |), est AS (
       |  SELECT tok, MIN(cnt) AS est_n
       |  FROM ($cellRows) c JOIN cms USING (d, w) GROUP BY tok
       |)
       |SELECT e.tok, e.exact_n, s.est_n, s.est_n >= e.exact_n AS never_under
       |FROM exact e JOIN est s USING (tok)
       |ORDER BY exact_n DESC, tok LIMIT 15""".stripMargin
  }

  /** Order-free table checksums — the migration/replication
    * validation primitive ("did the copy preserve every row?"):
    * per table, row count + XOR of a canonical per-row content hash
    * + an integer content sum. XOR is commutative/associative and
    * can't overflow, so the checksum is identical under ANY
    * partitioning, ordering, or engine — and each table's line is
    * one map-side-combining aggregate over a scan (at 100 TB: one
    * pass, a few bytes of state per partition). A single flipped
    * byte, dropped row, or duplicated row changes the triple. */
  private def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    def line(name: String, df: DataFrame, rowKey: Column, metric: Column) =
      df.select(graft.functions.F.polyHash(rowKey).as("h"), metric.as("m"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_hash"),
          sum("m").as("content_sum"))
        .select(lit(name).as("tbl"), col("n_rows"), col("xor_hash"),
          col("content_sum"))
    val docs = line("1_documents", Tables.documents(spark, dir),
      concat_ws("|", col("doc_id"), col("lang"), col("text")), col("n_chars"))
    val orders = line("2_orders", Tables.table(spark, dir, "orders"),
      concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
        Num.cents(col("o_totalprice"))),
      Num.cents(col("o_totalprice")))
    val cust = line("3_customer", Tables.table(spark, dir, "customer"),
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Num.cents(col("c_acctbal")))
    docs.union(orders).union(cust).orderBy("tbl")
  }

  private val tableChecksumSql = {
    def poly(e: String) = OracleSqlFrag.poly(e)
    s"""SELECT '1_documents' AS tbl, COUNT(*) AS n_rows,
       |  bit_xor(${poly("doc_id || '|' || lang || '|' || text")}) AS xor_hash,
       |  CAST(SUM(n_chars) AS BIGINT) AS content_sum
       |FROM documents
       |UNION ALL
       |SELECT '2_orders', COUNT(*),
       |  bit_xor(${poly("o_orderkey || '|' || o_orderstatus || '|' || " + NumSql.cents("o_totalprice"))}),
       |  CAST(SUM(${NumSql.cents("o_totalprice")}) AS BIGINT)
       |FROM orders
       |UNION ALL
       |SELECT '3_customer', COUNT(*),
       |  bit_xor(${poly("c_custkey || '|' || c_name || '|' || c_mktsegment")}),
       |  CAST(SUM(${NumSql.cents("c_acctbal")}) AS BIGINT)
       |FROM customer
       |ORDER BY tbl""".stripMargin
  }

  // -------------------------------------------------------- k-anonymity

  /** k-anonymity audit with a generalization LADDER (Sweeney 2002 /
    * Samarati's minimal generalization, the privacy gate a training
    * pipeline runs before releasing user-derived tables): every
    * customer row is generalized to the MOST SPECIFIC level of
    *   L0 (nation, segment, balance-band) → L1 (nation, segment) →
    *   L2 (region, segment) → L3 (region) → L4 '*' (suppressed)
    * at which its quasi-identifier group reaches k = $KanonK rows, and
    * the result is the per-level accounting: rows settled, distinct
    * groups, worst (min) group size, avg group size.
    *
    * Scale shape — the key move is that a row's settle level is a
    * FUNCTION OF ITS L0 GROUP (coarser counts are sums over L0 cells
    * sharing the coarser key): ONE map-side-collapsing groupBy takes
    * the corpus to |QI₀| cells, every coarser level re-aggregates the
    * CELL table (tiny), labels attach to cells, and the final
    * accounting weights by cell count — the corpus is scanned once,
    * shuffled once, and never touched again. All-integer ⇒ fully
    * hash-verified. */
  private val KanonK = 5

  private def kanonAudit(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        col("n_regionkey").cast("long").as("reg"),
        expr("CAST(floor(c_acctbal / 2000) AS BIGINT)").as("bal_b"))
      .groupBy("nat", "seg", "reg", "bal_b")
      .agg(count(lit(1)).as("n0"))
    val c1 = cells.groupBy("nat", "seg").agg(sum("n0").as("n1"))
    val c2 = cells.groupBy("reg", "seg").agg(sum("n0").as("n2"))
    val c3 = cells.groupBy("reg").agg(sum("n0").as("n3"))
    val lab = cells
      .join(broadcast(c1), Seq("nat", "seg"))
      .join(broadcast(c2), Seq("reg", "seg"))
      .join(broadcast(c3), Seq("reg"))
      .withColumn("level",
        when(col("n0") >= KanonK, 0).when(col("n1") >= KanonK, 1)
          .when(col("n2") >= KanonK, 2).when(col("n3") >= KanonK, 3)
          .otherwise(4))
      .withColumn("gkey", expr(
        """CASE level
          |  WHEN 0 THEN concat(nat, '|', seg, '|', bal_b)
          |  WHEN 1 THEN concat(nat, '|', seg)
          |  WHEN 2 THEN concat('r', reg, '|', seg)
          |  WHEN 3 THEN concat('r', reg)
          |  ELSE '*' END""".stripMargin.replace("\n", " ")))
      .withColumn("gn", expr(
        """CASE level WHEN 0 THEN n0 WHEN 1 THEN n1
          |  WHEN 2 THEN n2 WHEN 3 THEN n3 ELSE n0 END"""
          .stripMargin.replace("\n", " ")))
    lab.groupBy("level")
      .agg(sum("n0").as("n_rows"), countDistinct("gkey").as("n_groups"),
        min("gn").as("min_group"))
      .withColumn("avg_group_x100",
        Num.floorEps(col("n_rows") * 100.0 / col("n_groups")))
      .orderBy("level")
  }

  private val kanonAuditSql =
    s"""WITH cells AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
       |    CAST(n_regionkey AS BIGINT) AS reg,
       |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_b,
       |    COUNT(*) AS n0
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3, 4),
       |c1 AS (SELECT nat, seg, CAST(SUM(n0) AS BIGINT) AS n1 FROM cells GROUP BY 1, 2),
       |c2 AS (SELECT reg, seg, CAST(SUM(n0) AS BIGINT) AS n2 FROM cells GROUP BY 1, 2),
       |c3 AS (SELECT reg, CAST(SUM(n0) AS BIGINT) AS n3 FROM cells GROUP BY 1),
       |lab AS (
       |  SELECT cells.*, n1, n2, n3,
       |    CASE WHEN n0 >= $KanonK THEN 0 WHEN n1 >= $KanonK THEN 1
       |      WHEN n2 >= $KanonK THEN 2 WHEN n3 >= $KanonK THEN 3
       |      ELSE 4 END AS level
       |  FROM cells JOIN c1 USING (nat, seg) JOIN c2 USING (reg, seg)
       |    JOIN c3 USING (reg)),
       |g AS (
       |  SELECT level,
       |    CASE level
       |      WHEN 0 THEN concat(nat, '|', seg, '|', bal_b)
       |      WHEN 1 THEN concat(nat, '|', seg)
       |      WHEN 2 THEN concat('r', reg, '|', seg)
       |      WHEN 3 THEN concat('r', reg)
       |      ELSE '*' END AS gkey,
       |    CASE level WHEN 0 THEN n0 WHEN 1 THEN n1
       |      WHEN 2 THEN n2 WHEN 3 THEN n3 ELSE n0 END AS gn,
       |    n0
       |  FROM lab)
       |SELECT level, CAST(SUM(n0) AS BIGINT) AS n_rows,
       |  COUNT(DISTINCT gkey) AS n_groups,
       |  CAST(MIN(gn) AS BIGINT) AS min_group,
       |  ${NumSql.floorEps("SUM(n0) * 100.0 / COUNT(DISTINCT gkey)")} AS avg_group_x100
       |FROM g GROUP BY level ORDER BY level""".stripMargin

  // --------------------------------------------------------- DP-style noise

  /** e^(−ε) for ε = 0.5, as an exact decimal literal so both engines
    * parse the identical double (exp() is not guaranteed correctly
    * rounded on either side). */
  private val DpAlphaLit = "0.6065306597126334"

  /** Geometric-mechanism noisy counts (Ghosh et al.'s universally
    * utility-maximizing mechanism for counting queries): per
    * (lang, source) cell, the true document count plus two-sided
    * geometric noise P(|k|=m) ∝ α^m with α = e^(−ε), ε = 0.5,
    * clamped at zero — the privacy-release twin of `q_kanon_audit`'s
    * suppression ladder.
    *
    * The noise here is DERIVED, not random: the cell key hashes
    * through the quadratic scramble (the `q_shard_rendezvous`
    * convention), one bit picks the sign, and the remaining 30 bits
    * form u ∈ (0,1] (exact: integer over 2³⁰) whose inverse CDF
    * m = ⌊ln(u)/ln(α)⌋ yields the geometric magnitude. That makes
    * the release REPRODUCIBLE — the mechanism-shape demo a
    * deterministic oracle can verify — while a production deployment
    * swaps only the uniform source for real randomness (and keeps
    * the inverse CDF, the integer post-processing, and the clamp,
    * none of which touch the privacy analysis).
    *
    * Scale shape: one map-side-combined group-by to |lang×source|
    * cells; the noise is a per-cell scalar projection. Nothing else
    * moves. */
  private def dpCount(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.F.polyHash(
      concat_ws("|", col("lang"), col("source"), lit("dp1")))
    val s = pmod(h * h + lit(7919L) * h, lit(2147483647L))
    val u = (expr("s div 2") + lit(1L)).cast("double") / lit(1073741824.0)
    Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_true"))
      .withColumn("s", s)
      .withColumn("noise",
        (when(col("s") % 2 === 0, 1L).otherwise(-1L) *
          Num.floorEps(log(u) / log(lit(DpAlphaLit).cast("double")))).cast("long"))
      .select(col("lang"), col("source"), col("n_true"), col("noise"),
        greatest(col("n_true") + col("noise"), lit(0L)).as("n_noisy"))
      .orderBy("lang", "source")
  }

  private val dpCountSql = {
    val h = OracleSqlFrag.poly("lang || '|' || source || '|dp1'")
    s"""WITH cells AS (
       |  SELECT lang, source, COUNT(*) AS n_true FROM documents GROUP BY 1, 2),
       |sc AS (
       |  SELECT lang, source, n_true,
       |    ($h * $h + 7919 * $h) % 2147483647 AS s
       |  FROM cells),
       |nz AS (
       |  SELECT lang, source, n_true,
       |    (CASE WHEN s % 2 = 0 THEN 1 ELSE -1 END) *
       |      ${NumSql.floorEps(
        s"ln(CAST(s // 2 + 1 AS DOUBLE) / 1073741824.0) / ln(CAST($DpAlphaLit AS DOUBLE))")} AS noise
       |  FROM sc)
       |SELECT lang, source, n_true, CAST(noise AS BIGINT) AS noise,
       |  GREATEST(n_true + noise, 0) AS n_noisy
       |FROM nz ORDER BY lang, source""".stripMargin
  }

  // ----------------------------------------------------------- l-diversity

  /** L-DIVERSITY AUDIT — `q_kanon_audit`'s attack-model complement:
    * k-anonymity counts group SIZES, but a large group whose rows all
    * share one sensitive value still leaks it (the homogeneity
    * attack, Machanavajjhala et al.). Quasi-identifier groups =
    * (nation, acctbal band — the kanon banding); sensitive attribute
    * = market segment. Per distinct-l the audit emits the group
    * count, covered rows, and the WORST top-share (ppm of a group's
    * rows holding its modal sensitive value — 10⁶ ⇔ fully
    * homogeneous). The fixture genuinely contains l = 1 groups at
    * both gate SFs (probed), so the finding the audit exists to
    * surface actually occurs.
    *
    * Scale shape: one (qid, sensitive) map-side count, one (qid)
    * re-aggregate, one \|distinct l\|-row fold — the `q_kanon_audit`
    * shape, nothing wider than the cell table shuffles. */
  private def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nat"),
        expr("CAST(floor(c_acctbal / 2000) AS BIGINT)").as("bal_b"),
        col("c_mktsegment").as("seg"))
      .groupBy("nat", "bal_b", "seg")
      .agg(count(lit(1)).as("c"))
    cells.groupBy("nat", "bal_b")
      .agg(count(lit(1)).as("l"), sum("c").as("n"), max("c").as("mx"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"), sum("n").as("n_rows"),
        max(expr("1000000 * mx div n")).as("max_top_share_ppm"))
      .orderBy("l")
  }

  private val lDiversitySql =
    """WITH cells AS (
      |  SELECT c_nationkey AS nat,
      |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_b,
      |    c_mktsegment AS seg, COUNT(*) AS c
      |  FROM customer GROUP BY 1, 2, 3),
      |grp AS (
      |  SELECT nat, bal_b, COUNT(*) AS l,
      |    CAST(SUM(c) AS BIGINT) AS n, CAST(MAX(c) AS BIGINT) AS mx
      |  FROM cells GROUP BY 1, 2)
      |SELECT l, COUNT(*) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(MAX(1000000 * mx // n) AS BIGINT) AS max_top_share_ppm
      |FROM grp GROUP BY l ORDER BY l""".stripMargin

  // ----------------------------------------------------------------------- PSI

  /** POPULATION STABILITY INDEX — the binned-divergence drift metric
    * (the credit-scoring/ML-monitoring industry standard) completing
    * the drift tier: `q_anomaly_mad` catches a point, `q_cusum` a
    * sustained shift, `q_ks_test` a whole-distribution change by
    * sup-distance, PSI prices the change as a symmetrized KL over the
    * REFERENCE's own decile bins — the number teams alert on with the
    * canonical <0.1 stable / <0.25 moderate / ≥0.25 shifted ladder.
    *
    * Bin edges are the `en` reference's deciles as DATA VALUES
    * (percentile_approx ↔ quantile_disc, the `q_data_card` pairing —
    * integer edges, so bin membership is exact integer comparison);
    * shares are Laplace-smoothed (c+1)/(n+10) so empty bins stay
    * finite; each (q−p)·ln(q/p) term is floorEps'd to micro BEFORE
    * the per-cohort BIGINT fold (the data-card entropy trick — a raw
    * double Σ is partition-order-dependent). The `en` self-PSI is an
    * exact 0 (control); the PLANTED `en_x2` cohort (lengths doubled —
    * the `q_ks_test` convention) must read `shifted`, proving the
    * alarm side on a fixture whose natural langs share one generator.
    *
    * Scale shape: one 1-row reference-decile aggregate read as a
    * scalar subquery by the cohort scan; one (cohort, bin) map-side
    * count to ≤ (\|cohorts\|·10) rows; everything after is tiny. */
  private def psi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
      .select(col("n_chars").as("v"))
    val edges = ref.agg(percentile_approx(col("v"),
      typedlit((1 to 9).map(_ / 10.0)), lit(1000000)))
    val cohorts = docs.select(col("lang").as("cohort"), col("n_chars").as("v"))
      .union(ref.select(lit("en_x2").as("cohort"), (col("v") * 2).as("v")))
    val binned = cohorts.withColumn("edges", edges.scalar())
      .select(col("cohort"),
        size(filter(col("edges"), e => col("v") > e)).cast("long").as("bin"))
    val counts = graft.ops.SideCache.persist(
      binned.groupBy("cohort", "bin").agg(count(lit(1)).as("c")))
    counts.count()
    val grid = counts.select(col("cohort")).distinct()
      .select(col("cohort"), explode(sequence(lit(0L), lit(9L))).as("bin"))
    val refCounts = counts.filter(col("cohort") === "en")
      .select(col("bin"), col("c").as("rc"))
    val refN = counts.filter(col("cohort") === "en").agg(sum("c")).scalar()
    val cohN = counts.groupBy("cohort").agg(sum("c").as("cn"))
    val terms = grid
      .join(counts, Seq("cohort", "bin"), "left")
      .join(refCounts, Seq("bin"), "left")
      .join(cohN, Seq("cohort"))
      .select(col("cohort"), col("cn"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("cn") + 10)).as("qs"),
        ((coalesce(col("rc"), lit(0L)) + 1).cast("double") /
          (refN + 10)).as("ps"))
      .select(col("cohort"), col("cn"),
        Num.floorEps((col("qs") - col("ps")) * log(col("qs") / col("ps"))
          * 1000000).as("term_micro"))
    terms.groupBy("cohort")
      .agg(min("cn").as("n"), sum("term_micro").as("psi_micro"))
      .select(col("cohort"), col("n"), col("psi_micro"),
        when(col("psi_micro") < 100000, "stable")
          .when(col("psi_micro") < 250000, "moderate")
          .otherwise("shifted").as("verdict"))
      .orderBy("cohort")
  }

  private val psiSql = {
    val edgeList = (1 to 9).map(k =>
      s"(SELECT quantile_disc(n_chars, 0.$k) FROM documents WHERE lang = 'en')")
      .mkString("[", ", ", "]")
    s"""WITH cohorts AS (
       |  SELECT lang AS cohort, n_chars AS v FROM documents
       |  UNION ALL
       |  SELECT 'en_x2', n_chars * 2 FROM documents WHERE lang = 'en'),
       |binned AS (
       |  SELECT cohort,
       |    CAST(len(list_filter($edgeList, e -> v > e)) AS BIGINT) AS bin
       |  FROM cohorts),
       |counts AS (
       |  SELECT cohort, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.cohort, b.bin
       |  FROM (SELECT DISTINCT cohort FROM counts) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b),
       |refc AS (SELECT bin, c AS rc FROM counts WHERE cohort = 'en'),
       |refn AS (SELECT CAST(SUM(c) AS BIGINT) AS rn FROM counts WHERE cohort = 'en'),
       |cohn AS (SELECT cohort, CAST(SUM(c) AS BIGINT) AS cn FROM counts GROUP BY 1),
       |terms AS (
       |  SELECT g.cohort, n.cn,
       |    ${NumSql.floorEps(
      "((CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (n.cn + 10)) - " +
        "(CAST(COALESCE(r.rc, 0) + 1 AS DOUBLE) / (rf.rn + 10))) * " +
        "ln((CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (n.cn + 10)) / " +
        "(CAST(COALESCE(r.rc, 0) + 1 AS DOUBLE) / (rf.rn + 10))) * 1000000")} AS term_micro
       |  FROM grid g
       |  LEFT JOIN counts c ON c.cohort = g.cohort AND c.bin = g.bin
       |  LEFT JOIN refc r ON r.bin = g.bin
       |  JOIN cohn n ON n.cohort = g.cohort
       |  CROSS JOIN refn rf)
       |SELECT cohort, MIN(cn) AS n,
       |  CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
       |  CASE WHEN SUM(term_micro) < 100000 THEN 'stable'
       |       WHEN SUM(term_micro) < 250000 THEN 'moderate'
       |       ELSE 'shifted' END AS verdict
       |FROM terms GROUP BY cohort ORDER BY cohort""".stripMargin
  }

  // ------------------------------------------------------------ bootstrap CI

  /** Poisson(1) cumulative-distribution thresholds, pinned literals
    * shared verbatim by both engines (the `benfordExpectedPpm`
    * convention): P(K ≤ k) for k = 0..5; weights cap at 6. */
  val poissonCdf: Seq[(Int, String)] = Seq(
    0 -> "0.36787944117144233", 1 -> "0.7357588823428847",
    2 -> "0.9196986029286058", 3 -> "0.9810118431238462",
    4 -> "0.9963401531726563", 5 -> "0.9994058151824183")

  private val BootB = 64

  /** BOOTSTRAP confidence interval for the mean event value — by the
    * POISSON bootstrap (Owen/Eckles, Kleiner et al.), the resampling
    * scheme that actually runs at 100 TB: classic with-replacement
    * resampling needs a global multinomial draw per replica, but
    * Poisson(1) per-row weights are iid, so every replica is a pure
    * per-row projection — B = 64 replicas are generated map-side (one
    * `sequence` explode, one hash per (replica, row)), each replica
    * folds with ordinary map-side combine, and only B partial rows
    * ever shuffle. Weights are DERIVED randomness (the `q_dp_count`
    * inverse-CDF convention): u from the squared-polyhash uniform,
    * K from the pinned [[poissonCdf]] thresholds — bit-reproducible
    * cross-engine, so even the CI bounds hash-verify. Output: the
    * full-sample mean, the 2.5/97.5 percentile bounds over the B
    * replica means, and the replica spread (max − min, a sanity
    * check that resampling genuinely varied).
    *
    * The CI brackets the point estimate by construction of the
    * percentile bounds unless the bootstrap distribution is wildly
    * skewed; BootstrapSpec asserts bracketing and a positive spread. */
  private def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.SideCache.persist(
      Tables.events(spark, dir)
        .where(col("value").isNotNull)
        .select(col("event_id"), Num.cents(col("value")).as("x")))
    base.count()
    val h = graft.functions.F.polyHash(
      concat_ws(":", col("b"), col("event_id"), lit("boot")))
    val sRand = pmod(h * h + lit(7919L) * h, lit(2147483647L))
    val u = (expr("s div 2") + lit(1L)).cast("double") / lit(1073741824.0)
    val k = poissonCdf.foldRight(lit(6L): Column) { case ((kk, thr), acc) =>
      when(col("u") <= expr(thr), kk.toLong).otherwise(acc)
    }
    val means = base
      .select(col("event_id"), col("x"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("s", sRand)
      .withColumn("u", u)
      .withColumn("k", k)
      .groupBy("b")
      .agg(sum(col("k") * col("x")).as("num"), sum("k").as("den"))
      .select(when(col("den") === 0, 0L)
        .otherwise(Num.floorEps(col("num").cast("double") / col("den")))
        .as("mean_c"))
    val full = base.agg(count(lit(1)).as("n_rows"),
      Num.floorEps(sum("x").cast("double") / count(lit(1))).as("mean_full_c"))
    means.agg(count(lit(1)).as("b_reps"),
        Num.floorEps(percentile(col("mean_c"), lit(0.025))).as("lo_c"),
        Num.floorEps(percentile(col("mean_c"), lit(0.975))).as("hi_c"),
        (max("mean_c") - min("mean_c")).as("spread_c"))
      .select(col("b_reps"), full.select("n_rows").scalar().as("n_rows"),
        full.select("mean_full_c").scalar().as("mean_full_c"),
        col("lo_c"), col("hi_c"), col("spread_c"))
  }

  private val bootstrapCiSql = {
    val h = OracleSqlFrag.poly(
      "CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR) || ':boot'")
    val kCase = poissonCdf.map { case (kk, thr) =>
      s"WHEN u <= $thr THEN $kk"
    }.mkString("CASE ", " ", " ELSE 6 END")
    s"""WITH base AS (
       |  SELECT event_id, ${NumSql.cents("value")} AS x
       |  FROM events WHERE value IS NOT NULL),
       |rep AS (
       |  SELECT event_id, x, b FROM base
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${BootB - 1})) AS b)),
       |uw AS (
       |  SELECT b, x,
       |    CAST((($h * $h + 7919 * $h) % 2147483647) // 2 + 1 AS DOUBLE)
       |      / 1073741824.0 AS u
       |  FROM rep),
       |kw AS (SELECT b, x, $kCase AS k FROM uw),
       |means AS (
       |  SELECT b,
       |    CASE WHEN SUM(k) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE ${NumSql.floorEps(
      "CAST(SUM(k * x) AS DOUBLE) / SUM(k)")} END AS mean_c
       |  FROM kw GROUP BY b),
       |full_ AS (
       |  SELECT COUNT(*) AS n_rows,
       |    ${NumSql.floorEps("CAST(SUM(x) AS DOUBLE) / COUNT(*)")} AS mean_full_c
       |  FROM base)
       |SELECT COUNT(*) AS b_reps, (SELECT n_rows FROM full_) AS n_rows,
       |  (SELECT mean_full_c FROM full_) AS mean_full_c,
       |  ${NumSql.floorEps("quantile_cont(mean_c, 0.025)")} AS lo_c,
       |  ${NumSql.floorEps("quantile_cont(mean_c, 0.975)")} AS hi_c,
       |  CAST(MAX(mean_c) - MIN(mean_c) AS BIGINT) AS spread_c
       |FROM means""".stripMargin
  }

  // ------------------------------------------------------------------ CUSUM

  /** CUSUM change-point chart over the daily event series (Page 1954)
    * — the drift detector that fires on a SUSTAINED small shift long
    * before a per-point outlier rule (`q_anomaly_mad` is the
    * point-wise twin; `q_seasonal_decompose` explains what CUSUM
    * flags). The textbook recursion S⁺_t = max(0, S⁺_{t−1} + dev_t)
    * is not window-expressible, but its closed form is:
    * S⁺_t = cum_t − min(0, min_{i≤t} cum_i) over the running
    * deviation sum — two stock window aggregates, exact integers
    * end-to-end (the mean is floorEps'd once; deviations, running
    * sums, prefix minima, and the alarm compare are all BIGINT).
    * Alarm when either side exceeds h = 4·mean|dev|.
    *
    * Scale shape: one map-side group-by to \|days\| rows; the
    * windows and the two 1-row stats run on that tiny frame (the
    * `q_daily_sums` convention). */
  private def cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(Num.cents(col("value"))).as("total_c"))
    val mu = daily.agg(
      Num.floorEps(sum("total_c").cast("double") / count(lit(1)))).scalar()
    val run = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withDev = daily.withColumn("dev", col("total_c") - mu)
      .withColumn("cum", sum("dev").over(run))
      .withColumn("s_pos", col("cum") - least(lit(0L), min("cum").over(run)))
      .withColumn("s_neg",
        greatest(lit(0L), max("cum").over(run)) - col("cum"))
    val h = withDev.agg(
      Num.floorEps(sum(abs(col("dev"))).cast("double") / count(lit(1))) * 4)
    withDev.withColumn("h", h.scalar())
      .select(col("day"), col("total_c"), col("dev"), col("s_pos"),
        col("s_neg"), col("h"),
        when(col("s_pos") > col("h") || col("s_neg") > col("h"), 1L)
          .otherwise(0L).as("alarm"))
      .orderBy("day")
  }

  private val cusumSql =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(SUM(${NumSql.cents("value")}) AS BIGINT) AS total_c
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |stats AS (
       |  SELECT ${NumSql.floorEps("CAST(SUM(total_c) AS DOUBLE) / COUNT(*)")} AS mu
       |  FROM daily),
       |dev AS (
       |  SELECT day, total_c, total_c - mu AS dev
       |  FROM daily CROSS JOIN stats),
       |cm0 AS (
       |  SELECT day, total_c, dev,
       |    CAST(SUM(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM dev),
       |cm AS (
       |  SELECT day, total_c, dev, cum,
       |    CAST(MIN(cum) OVER w AS BIGINT) AS min_cum,
       |    CAST(MAX(cum) OVER w AS BIGINT) AS max_cum
       |  FROM cm0
       |  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
       |ss AS (
       |  SELECT day, total_c, dev,
       |    cum - LEAST(CAST(0 AS BIGINT), min_cum) AS s_pos,
       |    GREATEST(CAST(0 AS BIGINT), max_cum) - cum AS s_neg
       |  FROM cm),
       |hh AS (
       |  SELECT ${NumSql.floorEps("CAST(SUM(abs(dev)) AS DOUBLE) / COUNT(*)")} * 4 AS h
       |  FROM ss)
       |SELECT day, total_c, dev, s_pos, s_neg, CAST(h AS BIGINT) AS h,
       |  CASE WHEN s_pos > h OR s_neg > h THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS alarm
       |FROM ss CROSS JOIN hh ORDER BY day""".stripMargin

  // ---------------------------------------------------- expectation suite

  /** Data-quality EXPECTATION SUITE (the dbt-test / Great-Expectations
    * operator): six declarative contracts over the lineitem fact
    * evaluated in one pass each — key non-null, positive quantity,
    * discount domain, primary-key uniqueness, referential integrity
    * to orders, and the cross-table ordering invariant ship-date ≥
    * order-date — emitted as one verdict row per check
    * (n_checked, n_viol, pass). The fixture genuinely FAILS two of
    * them (duplicate (orderkey, linenumber) pairs and ships before
    * the order date) while the other four pass, so both verdict paths
    * are hash-verified, not vacuous.
    *
    * Scale shape: the four scalar checks share ONE map-side scan
    * (conditional aggregates → 1 row); pk-uniqueness is one
    * (key)-shuffle; the two relational checks share ONE left join
    * against orders (orphans and date violations counted in the same
    * pass). Six checks, three jobs, none touching more than the
    * fact + the |orders| build side. */
  private def dqExpectations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    def verdict(df: DataFrame): DataFrame = df
      .select(col("check_name"), col("n_checked"), col("n_viol"),
        when(col("n_viol") === 0L, "pass").otherwise("fail").as("pass"))
    val scalars = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("v_disc"))
    val scalarRows = verdict(scalars.select(explode(array(
      struct(lit("key_not_null").as("check_name"),
        col("n").as("n_checked"), col("v_null").as("n_viol")),
      struct(lit("quantity_positive").as("check_name"),
        col("n").as("n_checked"), col("v_qty").as("n_viol")),
      struct(lit("discount_domain").as("check_name"),
        col("n").as("n_checked"), col("v_disc").as("n_viol")))).as("c"))
      .select(col("c.check_name"), col("c.n_checked"), col("c.n_viol")))
    val pk = verdict(li
      .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("cnt"))
      .agg(lit("pk_unique").as("check_name"),
        sum("cnt").as("n_checked"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_viol")))
    val rel = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("v_date"))
    val relRows = verdict(rel.select(explode(array(
      struct(lit("fk_orders").as("check_name"),
        col("n").as("n_checked"), col("v_fk").as("n_viol")),
      struct(lit("ships_after_order").as("check_name"),
        col("n").as("n_checked"), col("v_date").as("n_viol")))).as("c"))
      .select(col("c.check_name"), col("c.n_checked"), col("c.n_viol")))
    scalarRows.unionAll(pk).unionAll(relRows).orderBy("check_name")
  }

  private val dqExpectationsSql =
    """WITH scalars AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
      |  FROM lineitem),
      |pk AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS v
      |  FROM (SELECT COUNT(*) AS cnt FROM lineitem
      |        GROUP BY l_orderkey, l_linenumber)),
      |rel AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk,
      |    CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS v_date
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |checks AS (
      |  SELECT 'key_not_null' AS check_name, n AS n_checked, v_null AS n_viol FROM scalars
      |  UNION ALL
      |  SELECT 'quantity_positive', n, v_qty FROM scalars
      |  UNION ALL
      |  SELECT 'discount_domain', n, v_disc FROM scalars
      |  UNION ALL
      |  SELECT 'pk_unique', n, v FROM pk
      |  UNION ALL
      |  SELECT 'fk_orders', n, v_fk FROM rel
      |  UNION ALL
      |  SELECT 'ships_after_order', n, v_date FROM rel)
      |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
      |  CAST(n_viol AS BIGINT) AS n_viol,
      |  CASE WHEN n_viol = 0 THEN 'pass' ELSE 'fail' END AS pass
      |FROM checks ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------- quarantine

  /** QUARANTINE ROUTING — the act side of `q_dq_expectations`: every
    * fact row is routed to exactly ONE bucket under rule precedence
    * (pk_dup first — a duplicated key is unusable regardless of other
    * faults — then ships_early, else clean), and the router emits the
    * accounting a pipeline run records: per bucket the row count and
    * the bit_xor checksum of the routed keys (the partition-
    * independent manifest `q_delete_propagate` established). The
    * whole-group-quarantine convention for dups: ALL rows of a
    * duplicated (orderkey, linenumber) key quarantine — keeping "the
    * first" of a duplicate pair is exactly the nondeterminism a DQ
    * gate exists to stop.
    *
    * Scale shape: one (key)-window over the fact (the dup flag), one
    * broadcast-probed left join against orders (the date flag), one
    * 3-row aggregate. Nothing leaves the executor except the
    * accounting. */
  private def dqQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey", "l_linenumber")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .withColumn("dup", count(lit(1)).over(w) > 1)
    val routed = li
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .select(
        when(col("dup"), "pk_dup")
          .when(col("l_shipdate") < col("o_orderdate"), "ships_early")
          .otherwise("clean").as("bucket"),
        (col("l_orderkey") * 31 + col("l_linenumber")).as("k"))
    routed.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(k)"), lit(0L)).as("key_xor"))
      .orderBy("bucket")
  }

  private val dqQuarantineSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_shipdate,
      |    COUNT(*) OVER (PARTITION BY l_orderkey, l_linenumber) > 1 AS dup
      |  FROM lineitem),
      |routed AS (
      |  SELECT CASE WHEN li.dup THEN 'pk_dup'
      |           WHEN li.l_shipdate < o.o_orderdate THEN 'ships_early'
      |           ELSE 'clean' END AS bucket,
      |    li.l_orderkey * 31 + li.l_linenumber AS k
      |  FROM li LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey)
      |SELECT bucket, COUNT(*) AS n_rows,
      |  CAST(COALESCE(bit_xor(k), 0) AS BIGINT) AS key_xor
      |FROM routed GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------ changepoint

  /** Change-point LOCALIZATION — the binary-segmentation step that
    * answers the question `q_cusum`'s alarm raises: WHERE did the
    * level shift? The standard CUSUM estimator: the split day k* =
    * argmax\|cum_k\| over the running deviation sum (ties → earliest
    * day), reported with the pre/post segment means and their delta —
    * the one-row readout an incident review starts from. Same daily
    * frame, same floorEps'd mean, exact integers throughout; the
    * argmax is a 1-row `TakeOrderedAndProject` over the \|days\|
    * frame and re-enters the segment aggregate as scalar subqueries.
    *
    * Scale shape: identical to `q_cusum` — one map-side day aggregate
    * to \|days\| rows; everything after runs on that tiny frame. */
  private def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(Num.cents(col("value"))).as("total_c"))
    val mu = daily.agg(
      Num.floorEps(sum("total_c").cast("double") / count(lit(1)))).scalar()
    val run = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cm = graft.ops.SideCache.persist(
      daily.withColumn("cum", sum(col("total_c") - mu).over(run)))
    cm.count() // materialize: split and the segment aggregate both scan
    val split = cm
      .orderBy(abs(col("cum")).desc, col("day"))
      .limit(1)
      .select(col("day").as("split_day"), abs(col("cum")).as("cusum_abs"))
    cm.withColumn("split_day", split.select("split_day").scalar())
      .withColumn("cusum_abs", split.select("cusum_abs").scalar())
      .groupBy(col("split_day"), col("cusum_abs"))
      .agg(
        sum(when(col("day") <= col("split_day"), 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("day") > col("split_day"), 1L).otherwise(0L)).as("n_post"),
        Num.floorEps(
          sum(when(col("day") <= col("split_day"), col("total_c")))
            .cast("double") /
          sum(when(col("day") <= col("split_day"), 1L))).as("mean_pre_c"),
        Num.floorEps(
          sum(when(col("day") > col("split_day"), col("total_c")))
            .cast("double") /
          sum(when(col("day") > col("split_day"), 1L))).as("mean_post_c"))
      .select(col("split_day"), col("cusum_abs"), col("n_pre"), col("n_post"),
        col("mean_pre_c"), col("mean_post_c"),
        (col("mean_post_c") - col("mean_pre_c")).as("delta_c"))
  }

  private val changepointSql =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(SUM(${NumSql.cents("value")}) AS BIGINT) AS total_c
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |stats AS (
       |  SELECT ${NumSql.floorEps("CAST(SUM(total_c) AS DOUBLE) / COUNT(*)")} AS mu
       |  FROM daily),
       |cm AS (
       |  SELECT day, total_c,
       |    CAST(SUM(total_c - mu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM daily CROSS JOIN stats),
       |split AS (
       |  SELECT day AS split_day, abs(cum) AS cusum_abs
       |  FROM cm ORDER BY abs(cum) DESC, day LIMIT 1),
       |segs AS (
       |  SELECT split_day, cusum_abs,
       |    CAST(SUM(CASE WHEN day <= split_day THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
       |    CAST(SUM(CASE WHEN day > split_day THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
       |    ${NumSql.floorEps(
      "CAST(SUM(CASE WHEN day <= split_day THEN total_c END) AS DOUBLE) / " +
        "SUM(CASE WHEN day <= split_day THEN 1 END)")} AS mean_pre_c,
       |    ${NumSql.floorEps(
      "CAST(SUM(CASE WHEN day > split_day THEN total_c END) AS DOUBLE) / " +
        "SUM(CASE WHEN day > split_day THEN 1 END)")} AS mean_post_c
       |  FROM cm CROSS JOIN split
       |  GROUP BY split_day, cusum_abs)
       |SELECT split_day, cusum_abs, n_pre, n_post, mean_pre_c, mean_post_c,
       |  mean_post_c - mean_pre_c AS delta_c
       |FROM segs""".stripMargin

  // ----------------------------------------------------------- skew profile

  /** JOIN-KEY SKEW detector — the pre-join diagnostic that decides
    * whether `q_join_salted`'s replication (or AQE skew splitting) is
    * worth paying, run over every candidate join key at once: per
    * key column, row/key counts, the hottest key's share (basis
    * points), the p99 per-key count, and top1-over-average ×100 —
    * with a 'skewed' verdict above 10× average. A key whose hottest
    * value holds 10% of a 100 TB fact is the difference between a
    * straggler-free join and one task running for hours; this query
    * is how you find out BEFORE the join.
    *
    * Scale shape: one map-side-combined count per key column (the
    * same shuffle the join itself would do, but reducing to \|keys\|
    * rows), then a 1-row stats aggregate each; the five profiles
    * union to five rows. Exact p99 is the oracle convention —
    * `q_approx_quantiles`' sketch is the at-scale drop-in. */
  private def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, keyCol: String, label: String): DataFrame =
      df.groupBy(col(keyCol).cast("long").as("k")).agg(count(lit(1)).as("c"))
        .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
          max("c").as("top1_cnt"),
          Num.floorEps(percentile(col("c"), lit(0.99))).as("p99_cnt"))
        .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
          col("top1_cnt"),
          Num.floorEps(col("top1_cnt").cast("double") * 10000 / col("n_rows"))
            .as("top1_share_bp"),
          col("p99_cnt"),
          Num.floorEps((col("top1_cnt") * col("n_keys")).cast("double") * 100
            / col("n_rows")).as("top1_over_avg_x100"))
        .withColumn("verdict",
          when(col("top1_over_avg_x100") > 1000, "skewed").otherwise("ok"))
    val li = Tables.table(spark, dir, "lineitem")
    profile(li, "l_orderkey", "lineitem.l_orderkey")
      .union(profile(li, "l_suppkey", "lineitem.l_suppkey"))
      .union(profile(li, "l_partkey", "lineitem.l_partkey"))
      .union(profile(Tables.table(spark, dir, "orders"), "o_custkey",
        "orders.o_custkey"))
      .union(profile(Tables.events(spark, dir), "user_id", "events.user_id"))
      .orderBy("key_col")
  }

  private val skewProfileSql = {
    def one(table: String, key: String): String =
      s"""SELECT '$table.$key' AS key_col,
         |  CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS top1_cnt,
         |  ${NumSql.floorEps("CAST(MAX(c) AS DOUBLE) * 10000 / SUM(c)")} AS top1_share_bp,
         |  ${NumSql.floorEps("quantile_cont(c, 0.99)")} AS p99_cnt,
         |  ${NumSql.floorEps("CAST(MAX(c) * COUNT(*) AS DOUBLE) * 100 / SUM(c)")} AS top1_over_avg_x100,
         |  CASE WHEN ${NumSql.floorEps("CAST(MAX(c) * COUNT(*) AS DOUBLE) * 100 / SUM(c)")} > 1000
         |    THEN 'skewed' ELSE 'ok' END AS verdict
         |FROM (SELECT COUNT(*) AS c FROM $table GROUP BY $key)""".stripMargin
    Seq(("lineitem", "l_orderkey"), ("lineitem", "l_suppkey"),
      ("lineitem", "l_partkey"), ("orders", "o_custkey"),
      ("events", "user_id"))
      .map { case (t, k) => one(t, k) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  // ----------------------------------------------------------- MAD anomaly

  /** Robust anomaly detection by modified z-score (Iglewicz–Hoaglin):
    * per event type, median and MAD of the µ-quantized value, and the
    * count of points with 0.6745·|v−med|/MAD > 3.5 — evaluated as the
    * EXACT integer inequality 6745·|v−med| > 35000·MAD, so the flag
    * is immune to FP division on both engines. The mean/σ z-score
    * (`q_rolling_zscore`'s family) breaks down when outliers inflate
    * σ; median/MAD has a 50% breakdown point. MAD = 0 (a constant
    * majority) flags every non-median point — the standard caveat,
    * inherited deliberately.
    *
    * Scale shape: same two-broadcast-pass recipe as `q_winsorize` —
    * medians reduce to \|event_type\| rows and broadcast back, the
    * deviation pass derives MAD the same way, the final flag pass is
    * a projection + map-side count. Exact percentile is the oracle
    * convention; at 100 TB the drop-in is `q_approx_quantiles`'
    * mergeable sketch, same plan. */
  private def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), Num.floorEps(col("value") * 1e6).as("v"))
    val med = base.groupBy("event_type")
      .agg(Num.floorEps(percentile(col("v"), lit(0.5))).as("med"))
    val dev = base.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("v") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(Num.floorEps(percentile(col("d"), lit(0.5))).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("med").as("med_micro"),
        min("mad").as("mad_micro"),
        sum(when(lit(6745L) * col("d") > lit(35000L) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max("d").as("max_absdev"))
      .orderBy("event_type")
  }

  private val anomalyMadSql = {
    val v = NumSql.floorEps("value * 1000000.0")
    s"""WITH base AS (
       |  SELECT event_type, $v AS v FROM events WHERE value IS NOT NULL),
       |med AS (
       |  SELECT event_type, ${NumSql.floorEps("quantile_cont(v, 0.5)")} AS med
       |  FROM base GROUP BY event_type),
       |dev AS (
       |  SELECT b.event_type, b.v, m.med, ABS(b.v - m.med) AS d
       |  FROM base b JOIN med m USING (event_type)),
       |mad AS (
       |  SELECT event_type, ${NumSql.floorEps("quantile_cont(d, 0.5)")} AS mad
       |  FROM dev GROUP BY event_type)
       |SELECT d.event_type, COUNT(*) AS n,
       |  MIN(d.med) AS med_micro, MIN(m.mad) AS mad_micro,
       |  CAST(SUM(CASE WHEN 6745 * d.d > 35000 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  MAX(d.d) AS max_absdev
       |FROM dev d JOIN mad m USING (event_type)
       |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- KS test

  /** Two-sample Kolmogorov–Smirnov drift test: each language's doc-
    * length distribution against the `en` reference cohort, plus one
    * PLANTED drifted cohort (`en_x2` — the reference lengths doubled)
    * so the alarm demonstrably fires on this fixture (the natural
    * langs share one generator and correctly read `same`). Where
    * [[graft.queries.SimilarityQueries]]'s drift monitor compares
    * MEANS, KS compares the whole distribution: D = max over pooled
    * values of \|ECDF_ref − ECDF_cohort\|, computed CROSS-MULTIPLIED
    * (\|ca·nb − cb·na\| in DECIMAL(38,0)/HUGEINT — exact integers, no
    * division until the final ppm readout). The α=0.05 critical value
    * 1.358·√((na+nb)/(na·nb)) is the one double chain, floor-quantized
    * identically on both engines before the verdict comparison.
    *
    * Scale shape: the reference cohort is replicated once per cohort
    * (bounded: ≤\|langs\| rows broadcast-crossed — PlanLint
    * allowlist), the ECDF is a RANGE-frame running sum per cohort
    * (peer rows at equal v share one ECDF step on both engines), and
    * each cohort reduces to one row. At 100 TB you would bin v into a
    * bounded histogram first and run the same plan over bin edges —
    * the formulation is unchanged. */
  private def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").as("v"))
    val cohorts = vals.where(col("lang") =!= "en")
      .select(col("lang").as("cohort")).distinct()
      .union(spark.range(1).select(lit("en_x2").as("cohort")))
    val ref = vals.where(col("lang") === "en")
    val pooled = ref.crossJoin(broadcast(cohorts))
      .select(col("cohort"), col("v"), lit(1L).as("a"), lit(0L).as("b"))
      .union(vals.where(col("lang") =!= "en")
        .select(col("lang").as("cohort"), col("v"),
          lit(0L).as("a"), lit(1L).as("b")))
      .union(ref.select(lit("en_x2").as("cohort"), (col("v") * 2).as("v"),
        lit(0L).as("a"), lit(1L).as("b")))
    // default frame with an ORDER BY is RANGE …CURRENT ROW: ties at v
    // share one ECDF step, matching DuckDB's window semantics
    val wCum = Window.partitionBy("cohort").orderBy("v")
    val wAll = Window.partitionBy("cohort")
    val agg = pooled
      .withColumn("ca", sum(col("a")).over(wCum))
      .withColumn("cb", sum(col("b")).over(wCum))
      .withColumn("na", sum(col("a")).over(wAll))
      .withColumn("nb", sum(col("b")).over(wAll))
      .groupBy("cohort")
      .agg(max(col("na")).as("n_ref"), max(col("nb")).as("n_coh"),
        max(abs(expr("CAST(ca AS DECIMAL(38,0)) * nb - " +
          "CAST(cb AS DECIMAL(38,0)) * na"))).as("d_dec"))
    val crit = Num.floorEps(lit(1.358) *
      sqrt((col("n_ref") + col("n_coh")).cast("double") /
        (col("n_ref").cast("double") * col("n_coh"))) * 1e6)
    agg
      .select(col("cohort"), col("n_ref"), col("n_coh"),
        col("d_dec").cast("long").as("d_num"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * d_dec div " +
          "(CAST(n_ref AS DECIMAL(38,0)) * n_coh)").as("ks_ppm"),
        crit.as("crit_ppm"))
      .withColumn("verdict",
        when(col("ks_ppm") > col("crit_ppm"), "drift").otherwise("same"))
      .orderBy("cohort")
  }

  private val ksTestSql = {
    val crit = NumSql.floorEps("1.358 * sqrt(CAST(n_ref + n_coh AS DOUBLE) " +
      "/ (CAST(n_ref AS DOUBLE) * n_coh)) * 1000000")
    s"""WITH vals AS (SELECT lang, n_chars AS v FROM documents),
       |cohorts AS (
       |  SELECT DISTINCT lang AS cohort FROM vals WHERE lang <> 'en'
       |  UNION ALL SELECT 'en_x2'),
       |pooled AS (
       |  SELECT c.cohort, r.v, CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b
       |  FROM vals r CROSS JOIN cohorts c WHERE r.lang = 'en'
       |  UNION ALL
       |  SELECT lang, v, 0, 1 FROM vals WHERE lang <> 'en'
       |  UNION ALL
       |  SELECT 'en_x2', v * 2, 0, 1 FROM vals WHERE lang = 'en'),
       |cum AS (
       |  SELECT cohort, v,
       |    SUM(a) OVER (PARTITION BY cohort ORDER BY v) AS ca,
       |    SUM(b) OVER (PARTITION BY cohort ORDER BY v) AS cb,
       |    SUM(a) OVER (PARTITION BY cohort) AS na,
       |    SUM(b) OVER (PARTITION BY cohort) AS nb
       |  FROM pooled),
       |agg AS (
       |  SELECT cohort, CAST(MAX(na) AS BIGINT) AS n_ref,
       |    CAST(MAX(nb) AS BIGINT) AS n_coh,
       |    MAX(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
       |      AS d_dec
       |  FROM cum GROUP BY cohort),
       |readout AS (
       |  SELECT cohort, n_ref, n_coh, CAST(d_dec AS BIGINT) AS d_num,
       |    CAST((CAST(1000000 AS HUGEINT) * d_dec) //
       |      (CAST(n_ref AS HUGEINT) * n_coh) AS BIGINT) AS ks_ppm,
       |    $crit AS crit_ppm
       |  FROM agg)
       |SELECT cohort, n_ref, n_coh, d_num, ks_ppm, crit_ppm,
       |  CASE WHEN ks_ppm > crit_ppm THEN 'drift' ELSE 'same' END AS verdict
       |FROM readout ORDER BY cohort""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_table_checksum", tableChecksum, Some(tableChecksumSql)),
    Q("q_window_nav", windowNav, Some(windowNavSql)),
    Q("q_histogram", histogram, Some(histogramSql)),
    Q("q_profile", profile, Some(profileSql)),
    Q("q_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Q("q_kanon_audit", kanonAudit, Some(kanonAuditSql)),
    Q("q_dp_count", dpCount, Some(dpCountSql)),
    Q("q_anomaly_mad", anomalyMad, Some(anomalyMadSql)),
    Q("q_skew_profile", skewProfile, Some(skewProfileSql)),
    Q("q_cusum", cusum, Some(cusumSql)),
    Q("q_changepoint", changepoint, Some(changepointSql)),
    Q("q_dq_expectations", dqExpectations, Some(dqExpectationsSql)),
    Q("q_dq_quarantine", dqQuarantine, Some(dqQuarantineSql)),
    Q("q_bootstrap_ci", bootstrapCi, Some(bootstrapCiSql)),
    Q("q_psi", psi, Some(psiSql)),
    Q("q_l_diversity", lDiversity, Some(lDiversitySql)),
    Q("q_ks_test", ksTest, Some(ksTestSql)),
  )
}
