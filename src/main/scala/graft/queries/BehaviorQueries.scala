package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics over the `events` table: cohort
  * retention, ordered-funnel conversion, recency-decayed activity
  * scoring, and Markov transition matrices — the canonical
  * product-analytics shapes a general engine must express.
  * Retention/funnel are pure multi-stage aggregate plans (inputs
  * shrink at every stage); the sequence operators are ONE
  * user_id-keyed window pass each, with per-row constant state.
  */
object BehaviorQueries {

  private val Epoch = "2024-01-01"

  /** Activity week index: days since the fixed epoch, div 7. */
  private def week(ts: org.apache.spark.sql.Column) =
    floor(datediff(to_date(ts), lit(Epoch)) / 7).cast("long")

  /** Weekly cohort retention: users bucketed by first-activity week,
    * counted per (cohort week, week offset). Plan: one aggregate for
    * first weeks, one distinct on (user, week), one user-key join
    * (both sides already hash-partitioned by user_id — AQE reuses the
    * exchange), then a small final aggregate. The fact table is
    * scanned once per side with only (user_id, ts) read. */
  private def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), week(col("ts")).as("wk"))
    val firsts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val active = ev.distinct()
    active.join(firsts, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_wk", "offset_wk")
  }

  private val weekSql =
    s"CAST(floor(date_diff('day', DATE '$Epoch', CAST(ts AS DATE)) / 7.0) AS BIGINT)"

  private val cohortRetentionSql =
    s"""WITH ev AS (SELECT user_id, $weekSql AS wk FROM events),
       |firsts AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
       |active AS (SELECT DISTINCT user_id, wk FROM ev)
       |SELECT cohort_wk, wk - cohort_wk AS offset_wk,
       |  COUNT(DISTINCT a.user_id) AS n_users
       |FROM active a JOIN firsts f ON a.user_id = f.user_id
       |GROUP BY 1, 2 ORDER BY cohort_wk, offset_wk""".stripMargin

  /** Ordered funnel view → click → purchase: a user converts a stage
    * only with an event strictly AFTER their earliest completion of
    * the previous stage. Three shrinking aggregate+join stages (the
    * classic sequential-dependency formulation — each stage's input
    * is the previous stage's survivors, so the joins get cheaper as
    * the funnel narrows). */
  private def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(v, "1_view").union(stage(c, "2_click")).union(stage(p, "3_purchase"))
      .orderBy("stage")
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
      |)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click', COUNT(*) FROM c
      |  UNION ALL SELECT '3_purchase', COUNT(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** Exponentially-decayed rolling value per user (α = 1/2, 8 taps):
    * the recency-weighted activity score behind rate limiting and
    * engagement decay. The recurrence is unrolled into 8 lag taps
    * inside ONE Window node (one user_id shuffle, no per-row state),
    * and each tap halves by an arithmetic shift — exact integer
    * arithmetic on the µ-quantized value (`value` ≥ 0 in this corpus,
    * where Spark's `div`, a shift, and DuckDB's `//` all agree), so
    * the sum is order-free and hash-verifiable. */
  private def decayScore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        Num.floorEps(col("value") * 1e6).as("v"))
    val taps = (0 to 7).map(k =>
      coalesce(shiftright(lag(col("v"), k).over(w), k), lit(0L)))
    base.select(col("user_id"), col("event_id"), col("v"),
        taps.reduce(_ + _).as("decay_sum"))
      .orderBy("user_id", "event_id")
  }

  private val decayScoreSql = {
    val taps = (0 to 7).map(k =>
      s"coalesce(lag(v, $k) OVER w, 0) // ${1L << k}").mkString(" + ")
    """WITH base AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(floor(value * 1000000.0 + 0.000001) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL)
      |SELECT user_id, event_id, v,
      |  CAST(TAPS AS BIGINT) AS decay_sum
      |FROM base
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin.replace("TAPS", taps)
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences: P(next = b | current = a), the building block of
    * next-action prediction and anomalous-flow detection. One window
    * pass pairs each event with its predecessor (user_id shuffle),
    * then the matrix is a ≤|types|² aggregate; probabilities are
    * integral ppm over the per-row counts (both engines divide
    * non-negative integers, so the matrix is hash-exact). */
  private def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val paired = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
    paired.groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("event_type"), col("n"),
        expr("(n * 1000000) div tot").as("p_ppm"))
      .orderBy("prev_type", "event_type")
  }

  private val markovTransitionsSql =
    """WITH paired AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM paired WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, event_type, n,
      |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
      |FROM c ORDER BY prev_type, event_type""".stripMargin

  // ------------------------------------------------------------ event paths

  /** PATH analysis — the top-10 most-traveled 3-step event sequences
    * (`q_markov_transitions` is the 1-step flow model; this surfaces
    * whole journeys like view→click→purchase vs view→error→view):
    * per user, events order by (ts, event_id) and every consecutive
    * type triple counts once per traversal.
    *
    * Scale shape: ONE user-keyed window shuffle derives both leads;
    * the triple count map-side combines to ≤\|types\|³ rows; top-10
    * is TakeOrderedAndProject. */
  private def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("s2", lead("event_type", 1).over(w))
      .withColumn("s3", lead("event_type", 2).over(w))
      .filter(col("s3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("s2"), col("s3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  private val eventPathsSql =
    """WITH seq AS (
      |  SELECT event_type AS s1,
      |    lead(event_type, 1) OVER w AS s2,
      |    lead(event_type, 2) OVER w AS s3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT s1 || '>' || s2 || '>' || s3 AS path, COUNT(*) AS n
      |FROM seq WHERE s3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** TIME-TO-CONVERT distribution — `q_funnel` tells how many users
    * pass each gate; this tells how LONG the passage takes: per
    * funnel edge (first view → first later click, that click → first
    * later purchase), the exact p50/p90 of the duration in seconds
    * plus the fastest/slowest, over the users who completed the edge.
    * Durations are exact integer seconds (timestamp arithmetic);
    * quantiles are exact-percentile floorEps (the oracle convention;
    * the sketch tier is the at-scale drop-in).
    *
    * Scale shape: the three first-timestamp tiers are `q_funnel`'s
    * own map-side aggregates; the duration stats reduce \|users\|
    * rows to 2. */
  private def funnelTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    def edge(df: DataFrame, from: String, to: String, name: String) =
      df.select((unix_timestamp(col(to)) - unix_timestamp(col(from))).as("d"))
        .agg(count(lit(1)).as("n_users"),
          min("d").as("min_s"),
          Num.floorEps(percentile(col("d"), lit(0.5))).as("p50_s"),
          Num.floorEps(percentile(col("d"), lit(0.9))).as("p90_s"),
          max("d").as("max_s"))
        .select(lit(name).as("edge"), col("n_users"), col("min_s"),
          col("p50_s"), col("p90_s"), col("max_s"))
    edge(c.join(v, Seq("user_id")), "t1", "t2", "1_view_to_click")
      .union(edge(p.join(c, Seq("user_id")), "t2", "t3", "2_click_to_purchase"))
      .orderBy("edge")
  }

  private val funnelTimeSql =
    s"""WITH v AS (
       |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
       |), c AS (
       |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
       |), p AS (
       |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
       |), e1 AS (
       |  SELECT CAST(date_diff('second', v.t1, c.t2) AS BIGINT) AS d
       |  FROM c JOIN v USING (user_id)
       |), e2 AS (
       |  SELECT CAST(date_diff('second', c.t2, p.t3) AS BIGINT) AS d
       |  FROM p JOIN c USING (user_id))
       |SELECT edge, n_users, min_s, p50_s, p90_s, max_s FROM (
       |  SELECT '1_view_to_click' AS edge, COUNT(*) AS n_users,
       |    CAST(MIN(d) AS BIGINT) AS min_s,
       |    ${NumSql.floorEps("quantile_cont(d, 0.5)")} AS p50_s,
       |    ${NumSql.floorEps("quantile_cont(d, 0.9)")} AS p90_s,
       |    CAST(MAX(d) AS BIGINT) AS max_s
       |  FROM e1
       |  UNION ALL
       |  SELECT '2_click_to_purchase', COUNT(*),
       |    CAST(MIN(d) AS BIGINT),
       |    ${NumSql.floorEps("quantile_cont(d, 0.5)")},
       |    ${NumSql.floorEps("quantile_cont(d, 0.9)")},
       |    CAST(MAX(d) AS BIGINT)
       |  FROM e2)
       |ORDER BY edge""".stripMargin

  // -------------------------------------------------------------------- RFM

  /** RFM customer segmentation (recency / frequency / monetary) —
    * the classic behavioral scoring: per user, days since last
    * purchase (relative to the cohort's latest purchase date),
    * purchase count, and cents total, each mapped to a 1–5 quintile
    * score by deterministic rank arithmetic
    * (5 − (rank−1)·5 div n, ties broken on user_id — NOT ntile,
    * whose tie placement is engine-defined), plus the standard
    * segment labels as a CASE over the scores.
    *
    * Scale shape: one map-side-combined group-by takes the event
    * corpus to \|users\| rows — but \|users\| is itself
    * corpus-proportional (10⁹ at fleet scale), so the three quintile
    * ranks use the distributed range-partition + offset pattern
    * (`graft.ops.Ranks`, chained — each rank's exchange carries the
    * previous rank columns; never a single-partition window), and the
    * user count is a scalar subquery, not a `partitionBy(lit(1))`
    * window. */
  private def rfm(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("freq"),
        sum(Num.cents(col("value"))).as("monetary_c"))
    // persisted: scanned once by the user-count aggregate and once by
    // the rank chain's first range exchange (one events scan total)
    val base = graft.ops.SideCache.persist(
      p.select(col("user_id"),
        datediff(p.agg(max("last_d")).scalar(), col("last_d"))
          .cast("long").as("recency_days"),
        col("freq"), col("monetary_c")))
    val ranked = graft.ops.Ranks.globalRowNumbers(base, Seq(
        ("rn_r", Seq(col("recency_days"), col("user_id"))),
        ("rn_f", Seq(col("freq").desc, col("user_id"))),
        ("rn_m", Seq(col("monetary_c").desc, col("user_id")))))
      .withColumn("n_users", base.agg(count(lit(1))).scalar())
      .withColumn("r_score", expr("5 - ((rn_r - 1) * 5) div n_users"))
      .withColumn("f_score", expr("5 - ((rn_f - 1) * 5) div n_users"))
      .withColumn("m_score", expr("5 - ((rn_m - 1) * 5) div n_users"))
    ranked.select(col("user_id"), col("recency_days"), col("freq"),
      col("monetary_c"), col("r_score"), col("f_score"), col("m_score"),
      expr("""CASE
        | WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        | WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        | WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
        | ELSE 'regular' END""".stripMargin).as("segment"))
      .orderBy("user_id")
  }

  private val rfmSql =
    s"""WITH p AS (
       |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
       |    COUNT(*) AS freq,
       |    CAST(SUM(${graft.ops.NumSql.cents("value")}) AS BIGINT) AS monetary_c
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |t AS (SELECT MAX(last_d) AS today FROM p),
       |base AS (
       |  SELECT user_id, CAST(today - last_d AS BIGINT) AS recency_days,
       |    freq, monetary_c
       |  FROM p CROSS JOIN t),
       |ranked AS (
       |  SELECT *,
       |    COUNT(*) OVER () AS n_users,
       |    row_number() OVER (ORDER BY recency_days, user_id) AS rn_r,
       |    row_number() OVER (ORDER BY freq DESC, user_id) AS rn_f,
       |    row_number() OVER (ORDER BY monetary_c DESC, user_id) AS rn_m
       |  FROM base),
       |scored AS (
       |  SELECT user_id, recency_days, freq, monetary_c,
       |    5 - ((rn_r - 1) * 5) // n_users AS r_score,
       |    5 - ((rn_f - 1) * 5) // n_users AS f_score,
       |    5 - ((rn_m - 1) * 5) // n_users AS m_score
       |  FROM ranked)
       |SELECT user_id, recency_days, freq, monetary_c,
       |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       |  CAST(m_score AS BIGINT) AS m_score,
       |  CASE
       |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
       |    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |    WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
       |    ELSE 'regular' END AS segment
       |FROM scored ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ attribution

  /** Multi-touch conversion ATTRIBUTION — first-touch, last-touch, and
    * linear credit for every purchase's preceding click/view touches
    * (same user, within a 3-day lookback), the marketing-analytics
    * shape next to `q_funnel`'s step counts and
    * `q_markov_transitions`' flow model. Credit is integer permille:
    * first/last give the whole 1000 to one touch; linear gives each
    * touch 1000 div n with the remainder assigned to the FIRST touch
    * (a deterministic allocation — credits per conversion always sum
    * to exactly 1000, asserted in spec).
    *
    * Scale shape: the touch⋈conversion candidate join is a bounded
    * date-band join on the USER equality key (the `q_join_range`
    * shape — never a time-only nested loop); per-conversion ranking
    * windows partition on conversion id (bounded frames); the three
    * model taggings are projections of ONE ranked table unioned, and
    * the final rollup map-side combines to \|models × touch types\|
    * rows. */
  private def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("tts"), col("event_id").as("tid"),
        col("event_type"))
    val cand = touch.join(conv, Seq("user_id"))
      .filter(col("tts") < col("cts") &&
        col("tts") >= expr("cts - INTERVAL 3 DAYS"))
    val wAsc = Window.partitionBy("cid").orderBy("tts", "tid")
    val ranked = graft.ops.SideCache.persist(
      cand.withColumn("rn", row_number().over(wAsc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("cid"))))
    val first = ranked.filter(col("rn") === 1)
      .select(lit("first_touch").as("model"), col("event_type"),
        lit(1000L).as("credit"))
    val last = ranked.filter(col("rn") === col("n"))
      .select(lit("last_touch").as("model"), col("event_type"),
        lit(1000L).as("credit"))
    val linear = ranked.select(lit("linear").as("model"), col("event_type"),
      (expr("1000 div n") +
        when(col("rn") === 1, expr("1000 % n")).otherwise(0L)).as("credit"))
    first.union(last).union(linear)
      .groupBy("model", "event_type")
      .agg(sum("credit").as("credit_milli"),
        count(lit(1)).as("n_touches_credited"))
      .orderBy("model", "event_type")
  }

  private val attributionSql =
    """WITH conv AS (
      |  SELECT user_id, ts AS cts, event_id AS cid FROM events
      |  WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id, ts AS tts, event_id AS tid, event_type FROM events
      |  WHERE event_type IN ('click', 'view')),
      |cand AS (
      |  SELECT t.event_type, c.cid, t.tts, t.tid
      |  FROM touch t JOIN conv c ON t.user_id = c.user_id
      |  WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 3 DAY),
      |ranked AS (
      |  SELECT event_type, cid, tts, tid,
      |    row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn,
      |    COUNT(*) OVER (PARTITION BY cid) AS n
      |  FROM cand),
      |credits AS (
      |  SELECT 'first_touch' AS model, event_type, CAST(1000 AS BIGINT) AS credit
      |  FROM ranked WHERE rn = 1
      |  UNION ALL
      |  SELECT 'last_touch', event_type, CAST(1000 AS BIGINT)
      |  FROM ranked WHERE rn = n
      |  UNION ALL
      |  SELECT 'linear', event_type,
      |    CAST(1000 // n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END AS BIGINT)
      |  FROM ranked)
      |SELECT model, event_type,
      |  CAST(SUM(credit) AS BIGINT) AS credit_milli,
      |  COUNT(*) AS n_touches_credited
      |FROM credits GROUP BY model, event_type
      |ORDER BY model, event_type""".stripMargin

  // ----------------------------------------------------------- survival

  private val SurvHorizonH = 48L // administrative censoring horizon

  /** KAPLAN-MEIER time-to-conversion — the survival estimator
    * `q_cohort_retention`'s day-grid can't express: per user, hours
    * from FIRST event to FIRST purchase, right-CENSORED at the
    * [[SurvHorizonH]]-hour observation horizon (probed: ~⅓ of users
    * convert after 48 h at both gate SFs, so both arms are
    * non-degenerate). Emits the KM curve over the event-time grid:
    * (t_h, n_risk, n_events, s_ppm) with S(t) = Π_{tᵢ ≤ t}
    * (1 − dᵢ/nᵢ). Censored users never count as events but stay in
    * every risk set (administrative censoring at a single horizon ≥
    * all event times keeps them at risk throughout) — an estimator
    * that wrongly counted them as conversions at the horizon would
    * change every nᵢ-tail and hash-fail.
    *
    * Determinism: durations are integer hours (epoch-second diff div
    * 3600); dᵢ/nᵢ are exact integer pairs carried into ONE ordered
    * sequential double fold per output row (array_sort + aggregate ↔
    * list ORDER BY + list_reduce — the `q_ndcg` convention), so the
    * product is bit-identical cross-engine under the floorEps guard.
    *
    * Scale shape: one map-side per-user reduction takes the corpus to
    * \|users\| rows; the curve lives on the BOUNDED event-time grid
    * (≤ horizon rows — the `q_auc` score-domain convention), where
    * the step table is collected into a 1-row array and read back as
    * a scalar subquery (the `q_psi` reference-array pattern). */
  private def survival(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val durs = e.groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .select(expr("(unix_timestamp(tp) - unix_timestamp(t0)) div 3600")
        .as("dur_h"))
    // event-time histogram, bounded by the horizon
    val hist = durs.filter(col("dur_h") <= SurvHorizonH)
      .groupBy(col("dur_h").as("t_h"))
      .agg(count(lit(1)).as("d"))
    // risk set: everyone who has not converted before t (censored
    // users stay at risk through the horizon)
    val wPrior = Window.orderBy("t_h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = hist
      .withColumn("n_risk",
        durs.agg(count(lit(1))).scalar() - coalesce(sum("d").over(wPrior), lit(0L)))
      .select(col("t_h"), col("d"), col("n_risk"))
    val stepArr = steps.agg(sort_array(collect_list(
      struct(col("t_h"), col("d"), col("n_risk")))).as("steps"))
    steps.withColumn("steps", stepArr.scalar())
      .select(col("t_h"), col("n_risk"), col("d").as("n_events"),
        Num.floorEps(expr(
          "aggregate(filter(steps, x -> x.t_h <= t_h), cast(1.0 as double)," +
            " (acc, x) -> acc * (1.0 - cast(x.d as double) / x.n_risk))")
          * 1000000).as("s_ppm"))
      .orderBy("t_h")
  }

  private val survivalSql =
    s"""WITH durs AS (
       |  SELECT (CAST(floor(epoch(MIN(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT)
       |          - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 3600 AS dur_h
       |  FROM events GROUP BY user_id),
       |n AS (SELECT COUNT(*) AS n_total FROM durs),
       |hist AS (
       |  SELECT dur_h AS t_h, COUNT(*) AS d FROM durs
       |  WHERE dur_h <= $SurvHorizonH GROUP BY dur_h),
       |steps AS (
       |  SELECT t_h, d,
       |    n_total - CAST(COALESCE(SUM(d) OVER (ORDER BY t_h
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS n_risk
       |  FROM hist CROSS JOIN n),
       |arr AS (
       |  SELECT list(struct_pack(t_h := t_h, d := d, n_risk := n_risk)
       |    ORDER BY t_h) AS steps FROM steps)
       |SELECT s.t_h, s.n_risk, s.d AS n_events,
       |  ${NumSql.floorEps(
      "list_reduce(list_prepend(1.0, list_transform(" +
        "list_filter(steps, x -> x.t_h <= s.t_h), " +
        "x -> 1.0 - CAST(x.d AS DOUBLE) / x.n_risk)), " +
        "(acc, v) -> acc * v) * 1000000")} AS s_ppm
       |FROM steps s CROSS JOIN arr ORDER BY s.t_h""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_survival", survival, Some(survivalSql)),
    Q("q_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    Q("q_funnel", funnel, Some(funnelSql)),
    Q("q_decay_score", decayScore, Some(decayScoreSql)),
    Q("q_markov_transitions", markovTransitions, Some(markovTransitionsSql)),
    Q("q_attribution", attribution, Some(attributionSql)),
    Q("q_rfm", rfm, Some(rfmSql)),
    Q("q_event_paths", eventPaths, Some(eventPathsSql)),
    Q("q_funnel_time", funnelTime, Some(funnelTimeSql)),
  )
}
