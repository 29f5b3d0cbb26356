package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `q_journey_pipeline` — the product-ANALYTICS flagship (the third
  * composition exemplar, after the corpus-curation and RAG-indexing
  * flagships): the whole clickstream flow as ONE query whose result
  * is the per-stage accounting table. Every stage is an
  * already-oracled component redeployed, and each stage CONSUMES the
  * previous stage's output:
  *
  *  1. `sessionize`   — 30-min-gap sessions (`q_sessionize_batch`'s
  *     boundary/running-sum kernel over the unique (ts, event_id)
  *     order);
  *  2. `funnel`       — `q_funnel`'s strict view→click→purchase
  *     ordering, but WITHIN a single session (same-session
  *     conversion — the variant cross-session funnels cannot see);
  *  3. `attribution`  — `q_attribution`'s linear model over the
  *     converted session's pre-purchase view/click touches (integer
  *     permille, remainder to the first touch, so credits per
  *     conversion sum to exactly 1000);
  *  4. `revenue`      — the first qualifying purchase's cents rolled
  *     up per converted session.
  *
  * Output: (stage, n_in, n_out, m1, m2) — the n_in/n_out chain
  * composes (stage N's n_in is stage N−1's n_out domain), and
  * stage 3's m1+m2 conserve 1000·conversions by construction.
  *
  * Scale shape: ONE user-keyed window shuffle builds sessions; every
  * later stage groups/joins on the (user, session) key, so the
  * session exchange is reused down the whole chain; the accounting
  * aggregates each collapse map-side to one row before the 4-row
  * union. Nothing is ever quadratic; no driver state. */
object JourneyPipelineQuery {

  /** Session gap. 12 h here, not the 30 min a real clickstream uses
    * (`q_sessionize_batch`): this fixture averages ~2 events per user
    * per DAY, so a 30-min gap makes ~1-event sessions and the
    * same-session funnel is vacuously empty (0 conversions at every
    * SF — measured). The gap is a parameter; the plan is identical. */
  private val GapMs = 12L * 3600 * 1000

  private def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = graft.ops.SideCache.persist(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          coalesce(Num.cents(col("value")), lit(0L)).as("vc"))
        .withColumn("boundary",
          when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))
            > GapMs, 1).otherwise(0))
        .withColumn("sid", sum(col("boundary")).over(runW)))

    // ---- stage 2: same-session strict funnel
    val t1 = base.filter(col("event_type") === "view")
      .groupBy("user_id", "sid").agg(min("ts").as("t1"))
    val t2 = base.filter(col("event_type") === "click")
      .join(t1, Seq("user_id", "sid")).filter(col("ts") > col("t1"))
      .groupBy("user_id", "sid").agg(min("ts").as("t2"), min("t1").as("t1"))
    val t3 = graft.ops.SideCache.persist(
      base.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id", "sid")).filter(col("ts") > col("t2"))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("t3"), min("t2").as("t2"), min("t1").as("t1")))

    // ---- stage 3: linear attribution over pre-purchase touches
    val touches = base.filter(col("event_type").isin("view", "click"))
      .join(t3.select("user_id", "sid", "t3"), Seq("user_id", "sid"))
      .filter(col("ts") < col("t3"))
    val tw = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    val credited = graft.ops.SideCache.persist(
      touches
        .withColumn("rn", row_number().over(tw))
        .withColumn("nt",
          count(lit(1)).over(Window.partitionBy("user_id", "sid")))
        .withColumn("credit", expr("1000 div nt") +
          when(col("rn") === 1, expr("1000 % nt")).otherwise(0L)))

    // ---- stage 4: revenue = first qualifying purchase per session
    val pw = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    val rev = base.filter(col("event_type") === "purchase")
      .join(t3.select("user_id", "sid", "t2"), Seq("user_id", "sid"))
      .filter(col("ts") > col("t2"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("sid"), col("vc"))

    // ---- accounting
    val sessions = base.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"))
    val s1 = sessions.agg(count(lit(1)).as("n_out"),
        countDistinct("user_id").as("m1"), max("n_ev").as("m2"))
      .select(lit("1_sessionize").as("stage"),
        base.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))
    val s2 = sessions.agg(count(lit(1)).as("n_in"))
      .select(lit("2_funnel").as("stage"), col("n_in"),
        t3.agg(count(lit(1))).scalar().as("n_out"),
        t1.agg(count(lit(1))).scalar().as("m1"),
        t2.agg(count(lit(1))).scalar().as("m2"))
    val s3 = credited.agg(count(lit(1)).as("n_out"),
        sum(when(col("event_type") === "view", col("credit")).otherwise(0L))
          .as("m1"),
        sum(when(col("event_type") === "click", col("credit")).otherwise(0L))
          .as("m2"))
      .select(lit("3_attribution").as("stage"),
        t3.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))
    val s4 = rev.agg(countDistinct("user_id").as("n_out"),
        sum("vc").as("m1"), max("vc").as("m2"))
      .select(lit("4_revenue").as("stage"),
        t3.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))

    s1.union(s2).union(s3).union(s4).orderBy("stage")
  }

  private val sql =
    s"""WITH base AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, 0) AS vc,
       |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER w) > $GapMs
       |      THEN 1 ELSE 0 END AS boundary
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       |  FROM base),
       |t1 AS (
       |  SELECT user_id, sid, MIN(ts) AS t1 FROM sess
       |  WHERE event_type = 'view' GROUP BY 1, 2),
       |t2 AS (
       |  SELECT s.user_id, s.sid, MIN(s.ts) AS t2, MIN(t1.t1) AS t1
       |  FROM sess s JOIN t1 ON s.user_id = t1.user_id AND s.sid = t1.sid
       |  WHERE s.event_type = 'click' AND s.ts > t1.t1 GROUP BY 1, 2),
       |t3 AS (
       |  SELECT s.user_id, s.sid, MIN(s.ts) AS t3, MIN(t2.t2) AS t2
       |  FROM sess s JOIN t2 ON s.user_id = t2.user_id AND s.sid = t2.sid
       |  WHERE s.event_type = 'purchase' AND s.ts > t2.t2 GROUP BY 1, 2),
       |touches AS (
       |  SELECT s.user_id, s.sid, s.event_type, s.ts, s.event_id,
       |    row_number() OVER (PARTITION BY s.user_id, s.sid ORDER BY s.ts, s.event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY s.user_id, s.sid) AS nt
       |  FROM sess s JOIN t3 ON s.user_id = t3.user_id AND s.sid = t3.sid
       |  WHERE s.event_type IN ('view', 'click') AND s.ts < t3.t3),
       |credited AS (
       |  SELECT event_type,
       |    1000 // nt + CASE WHEN rn = 1 THEN 1000 % nt ELSE 0 END AS credit
       |  FROM touches),
       |rev AS (
       |  SELECT user_id, sid, vc FROM (
       |    SELECT s.user_id, s.sid, s.vc,
       |      row_number() OVER (PARTITION BY s.user_id, s.sid ORDER BY s.ts, s.event_id) AS rn
       |    FROM sess s JOIN t3 ON s.user_id = t3.user_id AND s.sid = t3.sid
       |    WHERE s.event_type = 'purchase' AND s.ts > t3.t2)
       |  WHERE rn = 1),
       |sessions AS (SELECT user_id, sid, COUNT(*) AS n_ev FROM sess GROUP BY 1, 2)
       |SELECT '1_sessionize' AS stage,
       |  (SELECT COUNT(*) FROM sess) AS n_in,
       |  (SELECT COUNT(*) FROM sessions) AS n_out,
       |  (SELECT COUNT(DISTINCT user_id) FROM sessions) AS m1,
       |  (SELECT CAST(MAX(n_ev) AS BIGINT) FROM sessions) AS m2
       |UNION ALL
       |SELECT '2_funnel',
       |  (SELECT COUNT(*) FROM sessions),
       |  (SELECT COUNT(*) FROM t3),
       |  (SELECT COUNT(*) FROM t1),
       |  (SELECT COUNT(*) FROM t2)
       |UNION ALL
       |SELECT '3_attribution',
       |  (SELECT COUNT(*) FROM t3),
       |  (SELECT COUNT(*) FROM credited),
       |  (SELECT CAST(SUM(CASE WHEN event_type = 'view' THEN credit ELSE 0 END) AS BIGINT) FROM credited),
       |  (SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN credit ELSE 0 END) AS BIGINT) FROM credited)
       |UNION ALL
       |SELECT '4_revenue',
       |  (SELECT COUNT(*) FROM t3),
       |  (SELECT COUNT(DISTINCT user_id) FROM rev),
       |  (SELECT CAST(SUM(vc) AS BIGINT) FROM rev),
       |  (SELECT CAST(MAX(vc) AS BIGINT) FROM rev)
       |ORDER BY stage""".stripMargin

  val all: Seq[Q] = Seq(Q("q_journey_pipeline", run, Some(sql)))
}
