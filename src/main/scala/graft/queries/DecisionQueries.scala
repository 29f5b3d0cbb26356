package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-support operators beyond the reference's surface: Pareto
  * skyline, robust (IQR) outlier detection, exact distinct counting
  * through mergeable bitmaps, and correlated LATERAL top-k — each one
  * a shape a 100 TB curation pipeline reaches for when "group, join,
  * window" stops being enough.
  *
  * Determinism rules as everywhere ([[graft.ops.Num]]): money →
  * integer cents per row, quantile outputs floor-quantized through an
  * identical expression tree on both engines, every result ordered on
  * a unique key.
  */
object DecisionQueries {

  // ---------------------------------------------------------------- skyline

  /** One 2-D skyline pass: keep a point iff no point with strictly
    * smaller price has size ≥ mine (range frame ending 1 before the
    * current price) and no same-price point has size > mine. All
    * dominators of a row sort at-or-before it under (price asc), so
    * the two window maxima witness every possible dominator. */
  private def skylinePass(pts: DataFrame, part: Seq[Column]): DataFrame = {
    val cheaper = Window.partitionBy(part: _*).orderBy(col("price_c"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy(part :+ col("price_c"): _*)
    pts
      .withColumn("mx_cheaper", max(col("sz")).over(cheaper))
      .withColumn("mx_same", max(col("sz")).over(samePrice))
      .where((col("mx_cheaper").isNull || col("mx_cheaper") < col("sz")) &&
        col("mx_same") === col("sz"))
      .drop("mx_cheaper", "mx_same")
  }

  /** Pareto skyline of `part` (minimize retail price, maximize size):
    * the parts no other part beats on both dimensions. Two-phase so it
    * scales: phase 1 computes a LOCAL skyline per input partition
    * (window partitioned by `spark_partition_id()` — this still plans
    * one hash Exchange on the synthetic pid key, since Spark cannot
    * see the rows are already clustered by it, but every partition
    * sorts independently and in parallel), and only the per-partition
    * survivors — output-sized, not input-sized — reach the single
    * global pass. The win over a direct one-phase skyline is that the
    * full table never funnels through a SINGLE-partition sort; the
    * global sweep sees only the union of local fronts. A point
    * dominated globally is dominated within its own partition by the
    * same witness or survives locally and meets its dominator in
    * phase 2, so the two-phase result is exactly the direct skyline
    * (DecisionQueriesSpec pins the equality). */
  private def skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(spark, dir).select(
      col("p_partkey"),
      Num.cents(col("p_retailprice")).as("price_c"),
      col("p_size").cast("int").as("sz"))
    val local = skylinePass(pts.withColumn("pid", spark_partition_id()),
      Seq(col("pid"))).drop("pid")
    skylinePass(local, Seq.empty)
      .orderBy("p_partkey")
  }

  private val skylineSql =
    s"""WITH pts AS (
       |  SELECT p_partkey, ${NumSql.cents("p_retailprice")} AS price_c,
       |    CAST(p_size AS INT) AS sz
       |  FROM part)
       |SELECT p.p_partkey, p.price_c, p.sz
       |FROM pts p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pts q
       |  WHERE q.price_c <= p.price_c AND q.sz >= p.sz
       |    AND (q.price_c < p.price_c OR q.sz > p.sz))
       |ORDER BY p.p_partkey""".stripMargin

  // ------------------------------------------------------------- outliers

  /** Robust outlier detection, the Tukey-fence recipe: per event type,
    * exact Q1/Q3 of the (µ-quantized) value, fences at 1.5·IQR, return
    * the rows outside them. Two passes and both scale: the stats pass
    * reduces to |event_type| rows (map-side partial percentile
    * buffers), which then BROADCAST back onto the scan — the corpus is
    * never shuffled. Fences are floor-quantized to integers before the
    * long-vs-long comparison so a 1-ulp quantile divergence can't flip
    * a boundary row. */
  private def outlierIqr(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        Num.floorEps(col("value") * 1e6).as("v"))
    val fences = base.groupBy(col("event_type"))
      .agg(percentile(col("v"), lit(0.25)).as("q1"),
        percentile(col("v"), lit(0.75)).as("q3"))
      .select(col("event_type"),
        Num.floorEps(col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        Num.floorEps(col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    base.join(broadcast(fences), "event_type")
      .where(col("v") < col("lo") || col("v") > col("hi"))
      .select(col("event_id"), col("event_type"), col("v"), col("lo"), col("hi"))
      .orderBy("event_id")
  }

  private val outlierIqrSql = {
    val v = NumSql.floorEps("value * 1000000.0")
    s"""WITH base AS (
       |  SELECT event_id, event_type, $v AS v
       |  FROM events WHERE value IS NOT NULL),
       |fences AS (
       |  SELECT event_type,
       |    ${NumSql.floorEps("quantile_cont(v, 0.25) - (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) * 1.5")} AS lo,
       |    ${NumSql.floorEps("quantile_cont(v, 0.75) + (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) * 1.5")} AS hi
       |  FROM base GROUP BY event_type)
       |SELECT b.event_id, b.event_type, b.v, f.lo, f.hi
       |FROM base b JOIN fences f USING (event_type)
       |WHERE b.v < f.lo OR b.v > f.hi
       |ORDER BY b.event_id""".stripMargin
  }

  // ------------------------------------------------------- bitmap distinct

  /** Exact COUNT(DISTINCT) through mergeable bitmaps — the pattern
    * that makes exact distinct counting incremental at 100 TB when the
    * id domain is dense (surrogate/dictionary ids): each (group,
    * bucket-of-4096-ids) cell aggregates a fixed ≤512-byte bitmap
    * (`bitmap_construct_agg`), bitmaps OR-merge map-side like any
    * partial agg, and popcounts sum per group. Unlike
    * `count(distinct)`'s expand-dedup plan the state never holds raw
    * ids, and unlike HLL (`q_approx_distinct`) it is EXACT — the
    * rollup to coarser groups is one cheap `bitmap_or_agg` over stored
    * cells, no rescan. */
  private def bitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), expr("bitmap_bucket_number(c_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))").as("bm"))
      .groupBy(col("n_name"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
      .orderBy("n_name")

  private val bitmapDistinctSql =
    """SELECT n_name, COUNT(DISTINCT c_custkey) AS n_distinct
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ----------------------------------------------------------- bloom prune

  /** Bloom-filter join pruning ([[graft.ops.Bloom]]): lineitem ⋈
    * selective orders as a SHUFFLE join (hinted — the regime where the
    * build side outgrows any broadcast), with the probe side
    * pre-filtered by the build keys' 8 KB bit array before the
    * exchange. The oracle is the PLAIN join — the filter admits false
    * positives (eliminated by the real join) but never false
    * negatives, so the results are row-identical; what the bloom tier
    * buys is the shuffle moving ~matches instead of the whole probe
    * table (BloomPruneSpec measures the survivor fraction live). */
  private def bloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val build = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 250000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lut = graft.ops.Bloom.buildLut(build.select("o_orderkey"), "o_orderkey")
    val probe = graft.ops.Bloom.prune(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), Num.cents(col("l_extendedprice")).as("price_c")),
      "l_orderkey", lut)
    probe.join(build.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum("price_c").as("sum_price_c"),
        countDistinct("l_orderkey").as("n_orders"))
      .orderBy("o_orderpriority")
  }

  private val bloomPruneSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  CAST(SUM(${NumSql.cents("l_extendedprice")}) AS BIGINT) AS sum_price_c,
       |  COUNT(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bloom ACCURACY CONTRACT — the `q_minhash_est_err` pattern on the
    * filter tier: measure the filter's empirical false-positive rate
    * on TRUE NEGATIVES (probe keys provably absent from the build
    * set). The oracle replays the whole construction in SQL — the bit
    * array is exact integer arithmetic, so cells, bit tests, and the
    * FP count are all hash-verified, not trusted. Output: one row
    * (n_build, n_neg, n_fp, fpr_bp); the spec compares fpr against
    * the (1 − e^(−kn/m))^k theory bound, which stays OUT of the
    * hashed result because `exp` is not correctly-rounded
    * cross-engine. */
  private def bloomFpr(spark: SparkSession, dir: String): DataFrame = {
    val build = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 250000.0)
      .select(col("o_orderkey")).distinct()
    val lut = graft.ops.Bloom.buildLut(build, "o_orderkey")
    val neg = graft.ops.SideCache.persist(
      Tables.lineitem(spark, dir).select(col("l_orderkey"))
        .join(build, col("l_orderkey") === col("o_orderkey"), "left_anti"))
    val nBuild = build.count()
    neg.agg(count(lit(1)).as("n_neg"))
      .withColumn("n_fp", graft.ops.Bloom.prune(neg, "l_orderkey", lut)
        .agg(count(lit(1))).scalar())
      .select(lit(nBuild).as("n_build"), col("n_neg"), col("n_fp"),
        expr("(n_fp * 10000) div n_neg").as("fpr_bp"))
  }

  private val bloomFprSql = {
    val mod = 2147483647L
    val bits = graft.ops.Bloom.Bits
    // keys/products are positive, so DuckDB's sign-of-dividend % is
    // exactly Spark's pmod here
    def pos(a: Long, b: Long) =
      s"(((CAST(k AS BIGINT) * $a + $b) % $mod) % $bits)"
    s"""WITH bk AS (
       |  SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000),
       |cells AS (
       |  SELECT p // 63 AS cell, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
       |  FROM (SELECT ${pos(131, 7)} AS p FROM bk
       |        UNION ALL SELECT ${pos(137, 11)} AS p FROM bk)
       |  GROUP BY 1),
       |neg AS (
       |  SELECT l_orderkey AS k FROM lineitem
       |  WHERE l_orderkey NOT IN (SELECT k FROM bk)),
       |probe AS (
       |  SELECT k, ${pos(131, 7)} AS p1, ${pos(137, 11)} AS p2 FROM neg),
       |fp AS (
       |  SELECT p.k FROM probe p
       |  JOIN cells c1 ON c1.cell = p.p1 // 63
       |  JOIN cells c2 ON c2.cell = p.p2 // 63
       |  WHERE ((c1.bits >> CAST(p.p1 % 63 AS INT)) & 1) = 1
       |    AND ((c2.bits >> CAST(p.p2 % 63 AS INT)) & 1) = 1)
       |SELECT (SELECT COUNT(*) FROM bk) AS n_build,
       |  (SELECT COUNT(*) FROM neg) AS n_neg,
       |  (SELECT COUNT(*) FROM fp) AS n_fp,
       |  ((SELECT COUNT(*) FROM fp) * 10000) // (SELECT COUNT(*) FROM neg) AS fpr_bp""".stripMargin
  }

  // --------------------------------------------------------- lateral top-k

  /** Correlated LATERAL top-k: for every region, its 3 richest
    * suppliers. Exercises Catalyst's lateral-join decorrelation — the
    * per-row subquery plans as ONE partitioned window/limit over the
    * whole supplier side, not |regions| rescans (`q_topn_per_group`
    * states the same semantics window-first; this is the SQL-surface
    * twin). Unique tie-break (acctbal desc, suppkey) keeps the k-th
    * row deterministic on both engines. */
  private def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.region(spark, dir).createOrReplaceTempView("v_region")
    Tables.nation(spark, dir).createOrReplaceTempView("v_nation")
    Tables.supplier(spark, dir).createOrReplaceTempView("v_supplier")
    spark.sql(
      s"""SELECT r.r_name, t.s_name, t.bal_c
         |FROM v_region r JOIN LATERAL (
         |  SELECT s.s_name, ${NumSql.cents("s.s_acctbal")} AS bal_c
         |  FROM v_supplier s JOIN v_nation n ON s.s_nationkey = n.n_nationkey
         |  WHERE n.n_regionkey = r.r_regionkey
         |  ORDER BY s.s_acctbal DESC, s.s_suppkey
         |  LIMIT 3) t
         |ORDER BY r.r_name, t.bal_c DESC, t.s_name""".stripMargin)
  }

  private val lateralTopkSql =
    s"""SELECT r.r_name, t.s_name, t.bal_c
       |FROM region r JOIN LATERAL (
       |  SELECT s.s_name, ${NumSql.cents("s.s_acctbal")} AS bal_c
       |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  WHERE n.n_regionkey = r.r_regionkey
       |  ORDER BY s.s_acctbal DESC, s.s_suppkey
       |  LIMIT 3) t ON true
       |ORDER BY r.r_name, t.bal_c DESC, t.s_name""".stripMargin

  // ---------------------------------------------------------------- A/B test

  /** Two-proportion z-test experiment readout — the A/B decision
    * primitive: users split into arms by id parity (the deterministic
    * stand-in for an assignment service), conversion = ≥1 purchase,
    * and the pooled two-proportion z-statistic with a ±1.96
    * significance verdict. The z is a fixed chain of correctly-
    * rounded double ops over exact integer counts, quantized to
    * milli-units (`floorEps`) before the verdict comparison, so the
    * whole readout — lift, z, and the ship/no-ship call — is
    * hash-verified cross-engine.
    *
    * Scale shape: one corpus scan reduces map-side to \|users\| rows
    * (conversion flags), then to 2 arm rows, then to the 1-row
    * readout. Nothing else moves. */
  private def abtest(spark: SparkSession, dir: String): DataFrame = {
    // conversion = purchase count strictly above the GLOBAL median —
    // self-calibrating at any SF (a fixed "≥1 purchase" bar is
    // degenerate on this fixture: every user purchases, p̂ = 1 and
    // the pooled variance is zero)
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("np"))
    val med = counts.agg(
      Num.floorEps(percentile(col("np"), lit(0.5)))).scalar()
    val conv = counts
      .select((col("user_id") % 2).as("arm"),
        when(col("np") > med, 1L).otherwise(0L).as("converted"))
    val arms = conv.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("converted").as("x"))
    arms.agg(
      sum(when(col("arm") === 0, col("n"))).as("n_c"),
      sum(when(col("arm") === 0, col("x"))).as("x_c"),
      sum(when(col("arm") === 1, col("n"))).as("n_t"),
      sum(when(col("arm") === 1, col("x"))).as("x_t"))
      .select(col("n_c"), col("x_c"), col("n_t"), col("x_t"),
        Num.floorEps((col("x_t").cast("double") / col("n_t") -
          col("x_c").cast("double") / col("n_c")) * 10000).as("lift_bp"),
        // zero-variance guard: if every (or no) user converts, z is
        // undefined — report 0 on both engines instead of inf/error
        when(col("x_c") + col("x_t") === 0 ||
          col("x_c") + col("x_t") === col("n_c") + col("n_t"), lit(0L))
          .otherwise(Num.floorEps(
            (col("x_t").cast("double") / col("n_t") -
              col("x_c").cast("double") / col("n_c")) /
              sqrt(((col("x_c") + col("x_t")).cast("double") / (col("n_c") + col("n_t"))) *
                (lit(1.0) - (col("x_c") + col("x_t")).cast("double") / (col("n_c") + col("n_t"))) *
                (lit(1.0) / col("n_c") + lit(1.0) / col("n_t"))) * 1000))
          .as("z_milli"))
      .withColumn("verdict",
        when(abs(col("z_milli")) > 1960, "significant").otherwise("inconclusive"))
  }

  private val abtestSql =
    s"""WITH counts AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
       |  FROM events GROUP BY user_id),
       |med AS (SELECT ${NumSql.floorEps("quantile_cont(np, 0.5)")} AS med FROM counts),
       |conv AS (
       |  SELECT user_id % 2 AS arm,
       |    CASE WHEN np > med THEN 1 ELSE 0 END AS converted
       |  FROM counts CROSS JOIN med),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS x
       |  FROM conv GROUP BY arm),
       |wide AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_c,
       |    CAST(SUM(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x_c,
       |    CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x_t
       |  FROM arms),
       |z AS (
       |  SELECT n_c, x_c, n_t, x_t,
       |    ${NumSql.floorEps(
      "(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c) * 10000")} AS lift_bp,
       |    CASE WHEN x_c + x_t = 0 OR x_c + x_t = n_c + n_t THEN CAST(0 AS BIGINT)
       |      ELSE ${NumSql.floorEps(
      "(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c) / " +
        "sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t)) * " +
        "(1.0 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t)) * " +
        "(1.0 / n_c + 1.0 / n_t)) * 1000")} END AS z_milli
       |  FROM wide)
       |SELECT n_c, x_c, n_t, x_t, lift_bp, z_milli,
       |  CASE WHEN abs(z_milli) > 1960
       |    THEN 'significant' ELSE 'inconclusive' END AS verdict
       |FROM z""".stripMargin

  // --------------------------------------------------------------------- AUC

  /** Rank AUC (Mann–Whitney U) — the threshold-free evaluation number
    * every quality/dedup/contamination classifier in this engine
    * should be judged by. AUC = P(score⁺ > score⁻) + ½·P(tie),
    * computed exactly from the SCORE HISTOGRAM: group scores, then
    * 2U = Σ_s np(s)·(2·nn_below(s) + nn_at(s)) — all BIGINT, ties
    * handled by construction, auc_ppm = floor(10⁶·2U / (2·np·nn)).
    *
    * The classifier under evaluation is synthetic with a KNOWN
    * mid-range operating point (the `q_lsh_curve` planted-twin
    * convention): positives (event_id ≡ 0 mod 5) carry a +50.00
    * score boost over the value distribution — AUC lands at ~0.81 at
    * every SF (probed), so the rank machinery is exercised away from
    * both the 0.5 no-signal and the 1.0 separable degeneracies (a
    * REAL fixture pair — value predicting purchase — measures 0.50:
    * no usable signal to verify against).
    *
    * Scale shape: one map-side (score)-histogram shuffle; the running
    * negative count is a window over the \|distinct scores\| frame —
    * at 100 TB scores are quantized (cents here), so the histogram
    * frame is bounded by the score domain, not the row count; the
    * final fold is a 1-row aggregate. */
  private def auc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(
        (Num.cents(col("value")) +
          when(col("event_id") % 5 === 0, 5000L).otherwise(0L)).as("s"),
        when(col("event_id") % 5 === 0, 1L).otherwise(0L).as("y"))
    val h = e.groupBy("s")
      .agg(sum("y").as("np"), sum(lit(1L) - col("y")).as("nn"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("nb", coalesce(sum("nn").over(w), lit(0L)))
      .agg(sum(col("np") * (col("nb") * 2 + col("nn"))).as("u2"),
        sum("np").as("n_pos"), sum("nn").as("n_neg"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        Num.floorEps(col("u2").cast("double") * 1000000 /
          (col("n_pos") * col("n_neg") * 2)).as("auc_ppm"))
  }

  private val aucSql =
    s"""WITH e AS (
       |  SELECT ${NumSql.cents("value")}
       |      + CASE WHEN event_id % 5 = 0 THEN 5000 ELSE 0 END AS s,
       |    CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS y
       |  FROM events WHERE value IS NOT NULL),
       |h AS (
       |  SELECT s, CAST(SUM(y) AS BIGINT) AS np,
       |    CAST(SUM(1 - y) AS BIGINT) AS nn
       |  FROM e GROUP BY s),
       |w AS (
       |  SELECT s, np, nn,
       |    CAST(COALESCE(SUM(nn) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb
       |  FROM h),
       |t AS (
       |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |    CAST(SUM(nn) AS BIGINT) AS n_neg,
       |    CAST(SUM(np * (nb * 2 + nn)) AS BIGINT) AS u2
       |  FROM w)
       |SELECT n_pos, n_neg, u2,
       |  ${NumSql.floorEps(
      "CAST(u2 AS DOUBLE) * 1000000 / (n_pos * n_neg * 2)")} AS auc_ppm
       |FROM t""".stripMargin

  // --------------------------------------------------------------- calibration

  /** RELIABILITY TABLE — `q_auc`'s companion readout: AUC says the
    * ranker orders well, calibration says WHERE the positives
    * concentrate. The same planted mid-range classifier's scores are
    * cut at their own deciles (edges as DATA VALUES —
    * percentile_approx ↔ quantile_disc, integer comparisons), and
    * each decile bin reports (n, n_pos, pos_rate_pm) — the table a
    * threshold decision is read from. The planted +50.00 boost makes
    * the top bins visibly positive-rich while the bottom stays near
    * the base rate (spec asserts the top-vs-bottom gap), so the
    * measurement is exercised away from the flat no-signal shape.
    *
    * Scale shape: one 1-row decile aggregate broadcast into the
    * scan, one (bin) map-side count to ≤10 rows. */
  private def calibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(
        (Num.cents(col("value")) +
          when(col("event_id") % 5 === 0, 5000L).otherwise(0L)).as("s"),
        when(col("event_id") % 5 === 0, 1L).otherwise(0L).as("y"))
    val edges = scored.agg(percentile_approx(col("s"),
      typedlit((1 to 9).map(_ / 10.0)), lit(1000000)).as("edges"))
    scored.crossJoin(broadcast(edges))
      .select(size(filter(col("edges"), e => col("s") > e))
        .cast("long").as("bin"), col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("1000 * n_pos div n").as("pos_rate_pm"))
      .orderBy("bin")
  }

  private val calibrationSql = {
    val edgeList = (1 to 9).map(k =>
      s"(SELECT quantile_disc(s, 0.$k) FROM scored)").mkString("[", ", ", "]")
    s"""WITH scored AS (
       |  SELECT ${NumSql.cents("value")}
       |      + CASE WHEN event_id % 5 = 0 THEN 5000 ELSE 0 END AS s,
       |    CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS y
       |  FROM events WHERE value IS NOT NULL),
       |binned AS (
       |  SELECT CAST(len(list_filter($edgeList, e -> s > e)) AS BIGINT) AS bin, y
       |  FROM scored)
       |SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CAST(1000 * SUM(y) // COUNT(*) AS BIGINT) AS pos_rate_pm
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ------------------------------------------------------------ PR curve

  /** THRESHOLD-SWEEP PRECISION/RECALL/F1 — the operating-point table
    * a curation gate is actually tuned from (round-11 verdict,
    * "What's missing" #3): `q_auc` says the ranker orders well,
    * `q_calibration` says where positives concentrate; this emits,
    * per decile threshold of the SAME planted mid-range classifier,
    * the confusion counts and the derived rates — the row a filter
    * operator reads to pick its cut when positives are rare (the
    * curation regime). Predict positive ⇔ s > threshold (the
    * calibration bin convention); thresholds are the score deciles AS
    * DATA VALUES (percentile_approx ↔ quantile_disc on integer cents,
    * exact equality), and every output is integer: tp/fp/fn BIGINT,
    * precision_pm = 1000·tp div (tp+fp), recall_pm = 1000·tp div
    * n_pos, f1_pm = 2000·tp div (2·tp+fp+fn) (the harmonic mean
    * without ever leaving integers). Probed: edges are 9 distinct
    * values and ≥10% of rows clear the top edge at every SF, so no
    * division guard is needed and the sweep is non-degenerate.
    *
    * Scale shape: one map-side score-histogram shuffle (bounded by
    * the quantized score DOMAIN, not rows — the `q_auc` convention),
    * a 1-row decile aggregate, then the ≤9-row threshold list
    * replicated against the histogram (a deliberate broadcast
    * non-equi join over two bounded frames — PlanLint allowlist) and
    * a ≤9-row fold; the positive total is a scalar subquery for
    * fn/recall. */
  private def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(
        (Num.cents(col("value")) +
          when(col("event_id") % 5 === 0, 5000L).otherwise(0L)).as("s"),
        when(col("event_id") % 5 === 0, 1L).otherwise(0L).as("y"))
    val scoredP = graft.ops.SideCache.persist(scored)
    val h = graft.ops.SideCache.persist(
      scoredP.groupBy("s")
        .agg(sum("y").as("np"), sum(lit(1L) - col("y")).as("nn")))
    // deciles are ROW-weighted (over scored, not the deduped
    // histogram — distinct-score deciles would be a different curve)
    val thr = scoredP.agg(percentile_approx(col("s"),
        typedlit((1 to 9).map(_ / 10.0)), lit(1000000)).as("edges"))
      .select(posexplode(col("edges")).as(Seq("k", "threshold")))
      .select((col("k") + 1).cast("long").as("decile"), col("threshold"))
    val conf = thr.join(broadcast(h), col("s") > col("threshold"), "left")
      .groupBy("decile", "threshold")
      .agg(coalesce(sum("np"), lit(0L)).as("tp"),
        coalesce(sum("nn"), lit(0L)).as("fp"))
    conf.withColumn("n_pos", h.agg(sum("np")).scalar())
      .select(col("decile"), col("threshold"), col("tp"), col("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        expr("1000 * tp div (tp + fp)").as("precision_pm"),
        expr("1000 * tp div n_pos").as("recall_pm"),
        expr("2000 * tp div (2 * tp + fp + (n_pos - tp))").as("f1_pm"))
      .orderBy("decile")
  }

  private val prCurveSql = {
    val edgeList = (1 to 9).map(k =>
      s"(SELECT quantile_disc(s, 0.$k) FROM scored)").mkString("[", ", ", "]")
    s"""WITH scored AS (
       |  SELECT ${NumSql.cents("value")}
       |      + CASE WHEN event_id % 5 = 0 THEN 5000 ELSE 0 END AS s,
       |    CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS y
       |  FROM events WHERE value IS NOT NULL),
       |h AS (
       |  SELECT s, CAST(SUM(y) AS BIGINT) AS np,
       |    CAST(SUM(1 - y) AS BIGINT) AS nn
       |  FROM scored GROUP BY s),
       |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos FROM h),
       |thr AS (
       |  SELECT CAST(k AS BIGINT) AS decile, e[k] AS threshold
       |  FROM (SELECT $edgeList AS e),
       |       (SELECT unnest(generate_series(1, 9)) AS k)),
       |conf AS (
       |  SELECT t.decile, t.threshold,
       |    CAST(COALESCE(SUM(h.np), 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(SUM(h.nn), 0) AS BIGINT) AS fp
       |  FROM thr t LEFT JOIN h ON h.s > t.threshold
       |  GROUP BY t.decile, t.threshold)
       |SELECT decile, threshold, tp, fp,
       |  CAST(n_pos - tp AS BIGINT) AS fn,
       |  CAST(1000 * tp // (tp + fp) AS BIGINT) AS precision_pm,
       |  CAST(1000 * tp // n_pos AS BIGINT) AS recall_pm,
       |  CAST(2000 * tp // (2 * tp + fp + (n_pos - tp)) AS BIGINT) AS f1_pm
       |FROM conf CROSS JOIN tot ORDER BY decile""".stripMargin
  }

  // ------------------------------------------------------- association rules

  /** Market-basket association rules over order baskets: support,
    * directional confidence, and lift for every part pair co-bought
    * in ≥2 orders, reported as the top-50 rules by lift (ties broken
    * on the pair key). Every ratio is an exact integral division
    * quantized to ppm; lift's numerator is widened to DECIMAL(38,0)
    * because 1e6·s_xy·N overflows BIGINT once basket counts reach
    * fleet scale (~1e10 orders).
    *
    * Scale shape: candidate pairs come from a per-order self-join —
    * baskets are bounded (~4 items at every SF), so candidates are
    * O(\|orders\|·k²), never all-pairs over the catalog. One shuffle
    * counts pair support; item support is \|catalog\|-sized and
    * broadcast to the survivors; the 1-row basket count rides a
    * deliberate broadcast cross (PlanLint allowlist). The top-50 is
    * a `TakeOrderedAndProject` — per-partition heaps, no global
    * sort.
    *
    * `atScale`: broadcast is right for a TPC-H-sized parts catalog
    * but a 10⁹-item catalog would not fit an executor —
    * `q_assoc_rules_scale` runs the IDENTICAL computation with the
    * item-support joins hinted `shuffle_hash` (pair-support side is
    * already key-partitioned on x/y, so the hash join adds one
    * exchange of the \|catalog\|-sized support table and never
    * builds a driver-side broadcast). Same oracle; DecisionQueriesSpec
    * asserts bit-equal output and the shuffled-join plan shape. */
  private def assocRules(spark: SparkSession, dir: String,
                         atScale: Boolean = false): DataFrame = {
    // ONE basket-collapse shuffle (r20, guide §2.4): the former
    // distinct + per-order self-join shuffled the (ok, it) pairs table
    // twice more than needed — grouping to sorted per-basket item SETS
    // dedupes in the same exchange, and because baskets are bounded
    // (docstring above), the x<y candidate pairs expand IN PLACE from
    // each basket's array (codegen transform/slice/flatten — the same
    // O(|orders|·k²) candidate set, no join). Persisted: the basket
    // table feeds the basket count, item support, and pair support.
    val baskets = graft.ops.SideCache.persist(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("it"))
      .groupBy("ok").agg(sort_array(collect_set(col("it"))).as("its")))
    val nbask = baskets.agg(count(lit(1)).as("n"))
    val isup = baskets.select(explode(col("its")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("s"))
    val pairsCol = flatten(transform(col("its"), (x, i) =>
      transform(slice(col("its"), i + lit(2), size(col("its")) - i - lit(1)),
        y => struct(x.as("x"), y.as("y")))))
    val psup = baskets.select(explode(pairsCol).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("s_xy"))
      .where(col("s_xy") >= 2)
    def side(as: String, sAs: String) = {
      val t = isup.select(col("it").as(as), col("s").as(sAs))
      if (atScale) t.hint("shuffle_hash") else broadcast(t)
    }
    psup
      .join(side("x", "s_x"), "x")
      .join(side("y", "s_y"), "y")
      .crossJoin(broadcast(nbask))
      .select(col("x"), col("y"), col("s_xy"), col("s_x"), col("s_y"),
        expr("1000000 * s_xy div s_x").as("conf_xy_ppm"),
        expr("1000000 * s_xy div s_y").as("conf_yx_ppm"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * s_xy * n div " +
          "(CAST(s_x AS DECIMAL(38,0)) * s_y)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("x"), col("y"))
      .limit(50)
  }

  private val assocRulesSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
      |nbask AS (SELECT COUNT(DISTINCT ok) AS n FROM items),
      |isup AS (SELECT it, COUNT(*) AS s FROM items GROUP BY it),
      |psup AS (
      |  SELECT a.it AS x, b.it AS y, COUNT(*) AS s_xy
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.it < b.it
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT p.x, p.y, p.s_xy, sx.s AS s_x, sy.s AS s_y,
      |  CAST(1000000 * p.s_xy // sx.s AS BIGINT) AS conf_xy_ppm,
      |  CAST(1000000 * p.s_xy // sy.s AS BIGINT) AS conf_yx_ppm,
      |  CAST((CAST(1000000 AS HUGEINT) * p.s_xy * n.n) //
      |    (CAST(sx.s AS HUGEINT) * sy.s) AS BIGINT) AS lift_ppm
      |FROM psup p
      |JOIN isup sx ON p.x = sx.it
      |JOIN isup sy ON p.y = sy.it
      |CROSS JOIN nbask n
      |ORDER BY lift_ppm DESC, x, y LIMIT 50""".stripMargin

  // ----------------------------------------------------------------- gini

  /** Gini coefficient of customer revenue within each nation — the
    * concentration/inequality readout every marketplace and corpus-
    * source audit wants ("is 1% of sources 90% of the tokens?").
    * Uses the rank identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    * per-customer revenue cents ranked ascending (ties broken on
    * custkey), all in DECIMAL(38,0)/HUGEINT — rank·cents reaches
    * ~1e16 per row and its sum overflows BIGINT at fleet scale —
    * then one exact integral division to ppm.
    *
    * Scale shape: orders reduce map-side to one row per customer,
    * the customer⋈nation join shuffles on custkey, and the rank is
    * a per-nation window (25 partitions here; for a skewed partition
    * key the [[skyline]]-style two-phase local/global split applies).
    * Output is \|nations\| rows. */
  private def gini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(Num.cents(col("o_totalprice"))).as("cents"))
    val ranked = rev
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nk")),
        col("ck") === col("c_custkey"))
      .withColumn("i", row_number().over(
        Window.partitionBy("nk").orderBy(col("cents"), col("ck"))))
    val byNation = ranked.groupBy("nk").agg(
      count(lit(1)).as("n_cust"),
      sum(expr("CAST(cents AS DECIMAL(38,0))")).as("s"),
      sum(expr("CAST(i AS DECIMAL(38,0)) * cents")).as("ws"))
    byNation
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("n_cust"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * (2 * ws - (n_cust + 1) * s) " +
          "div (CAST(n_cust AS DECIMAL(38,0)) * s)").as("gini_ppm"))
      .orderBy("n_name")
  }

  private val giniSql =
    s"""WITH rev AS (
       |  SELECT o_custkey AS ck,
       |    SUM(${NumSql.cents("o_totalprice")}) AS cents
       |  FROM orders GROUP BY o_custkey),
       |ranked AS (
       |  SELECT c.c_nationkey AS nk, r.cents,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY c.c_nationkey ORDER BY r.cents, r.ck) AS i
       |  FROM rev r JOIN customer c ON r.ck = c.c_custkey),
       |agg AS (
       |  SELECT nk, COUNT(*) AS n_cust,
       |    SUM(CAST(cents AS HUGEINT)) AS s,
       |    SUM(CAST(i AS HUGEINT) * cents) AS ws
       |  FROM ranked GROUP BY nk)
       |SELECT n.n_name, a.n_cust,
       |  CAST((CAST(1000000 AS HUGEINT) * (2 * a.ws - (a.n_cust + 1) * a.s)) //
       |    (CAST(a.n_cust AS HUGEINT) * a.s) AS BIGINT) AS gini_ppm
       |FROM agg a JOIN nation n ON a.nk = n.n_nationkey
       |ORDER BY n.n_name""".stripMargin

  // -------------------------------------------------------------- benford

  /** Benford's-law screen over order totals: the leading-digit
    * distribution of the amount column against the log₁₀(1+1/d)
    * expectation — the classic fraud/synthetic-data smell test. The
    * leading digit comes from the decimal rendering of exact integer
    * cents (identical in both engines — no float log10 near a power-
    * of-ten boundary), and the expected ppm values are pinned
    * literals (floor(1e6·log₁₀(1+1/d)), asserted against math.log10
    * in spec) rather than engine-computed doubles.
    *
    * Scale shape: the corpus reduces map-side to ≤9 digit counts;
    * the 9-row expectation table rides a broadcast join and the total
    * is a scalar subquery. Nothing but the scan touches the data. */
  private def benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .where(col("o_totalprice") > 0)
      .select(Num.cents(col("o_totalprice")).as("c"))
      .select(expr("CAST(substring(CAST(c AS STRING), 1, 1) AS BIGINT)")
        .as("d"))
    val obs = digits.groupBy("d").agg(count(lit(1)).as("cnt"))
    val expected = spark.createDataFrame(benfordExpectedPpm).toDF("d", "exp_ppm")
    expected
      .join(obs, Seq("d"), "left")
      .withColumn("n", digits.agg(count(lit(1))).scalar())
      .select(col("d"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        expr("1000000 * coalesce(cnt, 0) div n").as("obs_ppm"),
        col("exp_ppm"),
        abs(expr("1000000 * coalesce(cnt, 0) div n") - col("exp_ppm"))
          .as("dev_ppm"))
      .orderBy("d")
  }

  /** floor(1e6·log₁₀(1+1/d)) for d = 1..9, pinned so neither engine
    * evaluates a float log near a rounding boundary. */
  private[graft] val benfordExpectedPpm: Seq[(Long, Long)] = Seq(
    1L -> 301029L, 2L -> 176091L, 3L -> 124938L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66946L, 7L -> 57991L, 8L -> 51152L, 9L -> 45757L)

  private val benfordSql = {
    val values = benfordExpectedPpm
      .map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH cents AS (
       |  SELECT ${NumSql.cents("o_totalprice")} AS c
       |  FROM orders WHERE o_totalprice > 0),
       |digits AS (
       |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
       |  FROM cents),
       |obs AS (SELECT d, COUNT(*) AS cnt FROM digits GROUP BY d),
       |tot AS (SELECT COUNT(*) AS n FROM digits),
       |expected AS (SELECT * FROM (VALUES $values) AS t(d, exp_ppm))
       |SELECT CAST(e.d AS BIGINT) AS d,
       |  CAST(COALESCE(o.cnt, 0) AS BIGINT) AS cnt,
       |  CAST(1000000 * COALESCE(o.cnt, 0) // t.n AS BIGINT) AS obs_ppm,
       |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST(abs(1000000 * COALESCE(o.cnt, 0) // t.n - e.exp_ppm) AS BIGINT)
       |    AS dev_ppm
       |FROM expected e LEFT JOIN obs o ON e.d = o.d CROSS JOIN tot t
       |ORDER BY e.d""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_skyline", skyline, Some(skylineSql)),
    Q("q_outlier_iqr", outlierIqr, Some(outlierIqrSql)),
    Q("q_bitmap_distinct", bitmapDistinct, Some(bitmapDistinctSql)),
    Q("q_bloom_prune", bloomPrune, Some(bloomPruneSql)),
    Q("q_bloom_fpr", bloomFpr, Some(bloomFprSql)),
    Q("q_lateral_topk", lateralTopk, Some(lateralTopkSql)),
    Q("q_abtest", abtest, Some(abtestSql)),
    Q("q_auc", auc, Some(aucSql)),
    Q("q_calibration", calibration, Some(calibrationSql)),
    Q("q_pr_curve", prCurve, Some(prCurveSql)),
    Q("q_assoc_rules", (sp, d) => assocRules(sp, d), Some(assocRulesSql)),
    Q("q_assoc_rules_scale", (sp, d) => assocRules(sp, d, atScale = true),
      Some(assocRulesSql)),
    Q("q_gini", gini, Some(giniSql)),
    Q("q_benford", benford, Some(benfordSql)),
  )
}
