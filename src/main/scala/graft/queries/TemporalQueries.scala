package graft.queries

import graft.ops.{Num, NumSql, TimeSeriesOps => TS}
import graft.streaming.EventStream
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operator surface: tumbling-window aggregation (the batch
  * twin of the Structured-Streaming path in
  * [[graft.streaming.EventStream]]), as-of join, and event-in-range
  * join — SURVEY.md §2.4's "explicitly absent" list, added as
  * north-star extensions with full DuckDB oracles.
  */
object TemporalQueries {

  /** Tumbling 1-hour window counts — exactly the streaming plan run in
    * batch mode (same code path, oracle-checkable here, incrementally
    * maintained under readStream; see StreamingSpec). */
  private def streamWindow(spark: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(Tables.events(spark, dir))
      .orderBy("w_start", "event_type")

  private val streamWindowSql =
    """SELECT
      |  time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
      |  time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS w_end,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_vc
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin

  /** As-of join: each order picks up the latest per-(id, date) event
    * aggregate at `date <= o_orderdate` for the same key.
    *
    * Scale design — the union-window trick, NOT a per-row subquery:
    * tag both sides, union on (key, time), one `last(..ignoreNulls)`
    * running window per key carries the most recent right-side value
    * forward onto left rows. One shuffle on the key, O(n log n) sort
    * inside each partition, no join explosion, no skew beyond the
    * key's own distribution — this is how as-of joins stay linear at
    * 100 TB (same pattern as Flink temporal joins / kdb aj).
    */
  private def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    // installs AsOfAutoRewrite: the union-window idiom below is
    // recognized by the optimizer and executed as the native
    // sorted-merge AsOfJoinExec (AsOfRewriteSpec proves plan + parity;
    // spark.graft.asof.autoRewrite=false restores the window plan)
    graft.plans.AsOf.ensureStrategy(spark)
    val left = Tables.orders(spark, dir).select(
      col("o_custkey").as("id"), to_date(col("o_orderdate")).as("date"),
      col("o_orderkey"), lit(0).as("side"),
      lit(null).cast("long").as("r_dval"), lit(null).cast("date").as("r_date"))
    // the carried columns are wrapped in coalesce with NON-NULLABLE
    // literals: a no-op on this data (dval is a sum over a non-empty
    // group, date a group key), but it makes the expressions provably
    // non-null — the soundness condition AsOfAutoRewrite requires
    // before replacing last(..ignoreNulls) with the native join (a
    // runtime NULL in a carried column would make the two diverge)
    val right = EventSeries.daily(spark, dir).select(
      col("id"), col("date"),
      lit(null).cast("long").as("o_orderkey"), lit(1).as("side"),
      coalesce(col("dval"), lit(0L)).as("r_dval"),
      coalesce(col("date"), lit(java.sql.Date.valueOf("1900-01-01"))).as("r_date"))
    // Right rows sort before left rows on the same date (side desc:
    // 1 before 0) => an order on date D sees the right row of date D.
    val w = Window.partitionBy("id")
      .orderBy(col("date").asc, col("side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("asof_dval", last(col("r_dval"), ignoreNulls = true).over(w))
      .withColumn("asof_date", last(col("r_date"), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      // null-free output: sentinel date/value for orders with no prior
      // event (keeps the driver's hash compare representation-stable)
      .select(col("o_orderkey"), col("id"), col("date"),
        coalesce(col("asof_date"), lit("1900-01-01").cast("date")).as("asof_date"),
        coalesce(col("asof_dval"), lit(-1L)).as("asof_dval"))
      .orderBy("o_orderkey")
  }

  private val joinAsofSql = EventSeriesSql.withSeries(
    """SELECT o_orderkey, o_custkey AS id, CAST(o_orderdate AS DATE) AS date,
      |  COALESCE(d.date, DATE '1900-01-01') AS asof_date,
      |  COALESCE(d.dval, -1) AS asof_dval
      |FROM orders ASOF LEFT JOIN daily d
      |  ON d.id = o_custkey AND d.date <= CAST(o_orderdate AS DATE)
      |ORDER BY o_orderkey""".stripMargin)

  /** FORWARD as-of join (next-event attribution: each order picks up
    * the EARLIEST per-(id, date) event aggregate at `date >=
    * o_orderdate`). Mirror of [[joinAsof]]: same union trick, but a
    * `first(..ignoreNulls)` window over the FOLLOWING frame, with left
    * rows sorting before right rows on ties so the same-day event
    * stays visible (inclusive). Same single-shuffle linearity; the
    * direction is purely a frame + sort-order choice — which is the
    * point of the union-window formulation. */
  private def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val left = Tables.orders(spark, dir).select(
      col("o_custkey").as("id"), to_date(col("o_orderdate")).as("date"),
      col("o_orderkey"), lit(0).as("side"),
      lit(null).cast("long").as("r_dval"), lit(null).cast("date").as("r_date"))
    val right = EventSeries.daily(spark, dir).select(
      col("id"), col("date"),
      lit(null).cast("long").as("o_orderkey"), lit(1).as("side"),
      col("dval").as("r_dval"), col("date").as("r_date"))
    // left (side 0) sorts BEFORE right (side 1) on the same date => an
    // order on date D sees the right row of date D in its following frame
    val w = Window.partitionBy("id")
      .orderBy(col("date").asc, col("side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    left.unionByName(right)
      .withColumn("next_dval", first(col("r_dval"), ignoreNulls = true).over(w))
      .withColumn("next_date", first(col("r_date"), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(col("o_orderkey"), col("id"), col("date"),
        coalesce(col("next_date"), lit("2999-12-31").cast("date")).as("next_date"),
        coalesce(col("next_dval"), lit(-1L)).as("next_dval"))
      .orderBy("o_orderkey")
  }

  private val asofForwardSql = EventSeriesSql.withSeries(
    """SELECT o_orderkey, o_custkey AS id, CAST(o_orderdate AS DATE) AS date,
      |  COALESCE(d.date, DATE '2999-12-31') AS next_date,
      |  COALESCE(d.dval, -1) AS next_dval
      |FROM orders ASOF LEFT JOIN daily d
      |  ON d.id = o_custkey AND d.date >= CAST(o_orderdate AS DATE)
      |ORDER BY o_orderkey""".stripMargin)

  /** NEAREST as-of join — the remaining member of the as-of family
    * (backward `q_join_asof`, forward `q_asof_forward`, multikey
    * `q_asof_multikey`): match each order to the dim row closest in
    * time in EITHER direction, ties to the backward match (the sensor
    * alignment / nearest-snapshot semantic).
    *
    * One union frame, ONE (id)-shuffle + ONE sort: both directional
    * windows share the (date asc, side desc) ordering, so Spark plans
    * a single Exchange + Sort with two stacked Window nodes
    * (spec-pinned). With side desc, the backward `last ignoreNulls`
    * frame is date-INCLUSIVE (a same-date dim sorts before its order)
    * and the forward frame is strict — which cannot change the
    * nearest result: a same-date dim always wins through the backward
    * leg at distance 0. Linear at any scale, like every as-of here:
    * no join node, no range explosion. */
  private def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val left = Tables.orders(spark, dir).select(
      col("o_custkey").as("id"), to_date(col("o_orderdate")).as("date"),
      col("o_orderkey"), lit(0).as("side"),
      lit(null).cast("long").as("r_dval"), lit(null).cast("date").as("r_date"))
    val right = EventSeries.daily(spark, dir).select(
      col("id"), col("date"),
      lit(null).cast("long").as("o_orderkey"), lit(1).as("side"),
      col("dval").as("r_dval"), col("date").as("r_date"))
    val ord = Window.partitionBy("id").orderBy(col("date").asc, col("side").desc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    left.unionByName(right)
      .withColumn("prev_dval", last(col("r_dval"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_date", last(col("r_date"), ignoreNulls = true).over(wPrev))
      .withColumn("next_dval", first(col("r_dval"), ignoreNulls = true).over(wNext))
      .withColumn("next_date", first(col("r_date"), ignoreNulls = true).over(wNext))
      .filter(col("side") === 0)
      .withColumn("prev_diff", datediff(col("date"), col("prev_date")))
      .withColumn("next_diff", datediff(col("next_date"), col("date")))
      .withColumn("use_prev",
        col("prev_date").isNotNull &&
          (col("next_date").isNull || col("prev_diff") <= col("next_diff")))
      .select(col("o_orderkey"), col("id"), col("date"),
        coalesce(when(col("use_prev"), col("prev_date")).otherwise(col("next_date")),
          lit("2999-12-31").cast("date")).as("near_date"),
        coalesce(when(col("use_prev"), col("prev_dval")).otherwise(col("next_dval")),
          lit(-1L)).as("near_dval"),
        coalesce(when(col("use_prev"), col("prev_diff")).otherwise(col("next_diff")),
          lit(-1)).cast("int").as("near_diff_days"))
      .orderBy("o_orderkey")
  }

  /** Twin: one backward + one forward DuckDB ASOF join, then the same
    * closer-side/tie-to-backward CASE. Forward is date-inclusive here
    * where Spark's is strict — equivalent for nearest, because a
    * same-date dim always reaches the result through the backward
    * leg (see [[asofNearest]]). */
  private val asofNearestSql = EventSeriesSql.withSeries(
    """, b AS (
      |  SELECT o_orderkey, o_custkey AS id, CAST(o_orderdate AS DATE) AS date,
      |    d.date AS prev_date, d.dval AS prev_dval
      |  FROM orders ASOF LEFT JOIN daily d
      |    ON d.id = o_custkey AND d.date <= CAST(o_orderdate AS DATE)
      |), f AS (
      |  SELECT o_orderkey, d.date AS next_date, d.dval AS next_dval
      |  FROM orders ASOF LEFT JOIN daily d
      |    ON d.id = o_custkey AND d.date >= CAST(o_orderdate AS DATE)
      |), j AS (
      |  SELECT b.*, f.next_date, f.next_dval,
      |    (b.prev_date IS NOT NULL AND (f.next_date IS NULL
      |      OR (b.date - b.prev_date) <= (f.next_date - b.date))) AS use_prev
      |  FROM b JOIN f ON b.o_orderkey = f.o_orderkey
      |)
      |SELECT o_orderkey, id, date,
      |  COALESCE(CASE WHEN use_prev THEN prev_date ELSE next_date END,
      |    DATE '2999-12-31') AS near_date,
      |  COALESCE(CASE WHEN use_prev THEN prev_dval ELSE next_dval END,
      |    -1) AS near_dval,
      |  CAST(COALESCE(CASE WHEN use_prev THEN date - prev_date
      |    ELSE next_date - date END, -1) AS INT) AS near_diff_days
      |FROM j ORDER BY o_orderkey""".stripMargin)

  /** Range join: per order, aggregate the key's events falling in the
    * 7 days ending at the order date. The equality key (`id`) drives
    * the join (hash/SMJ — no nested loop); the date band is a
    * post-join filter. Band width is bounded, so output ≤ 7·|orders|
    * per key — linear, broadcast-free, skew-safe at scale. */
  private def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey").as("id"),
      to_date(col("o_orderdate")).as("odate"))
    val d = EventSeries.daily(spark, dir).select(
      col("id"), col("date"), col("dval"))
    o.join(d, d("id") === o("id") &&
        d("date") > date_sub(col("odate"), 7) && d("date") <= col("odate"))
      .groupBy(col("o_orderkey"), o("id").as("id"), col("odate"))
      .agg(count(lit(1)).as("n_days"), sum(col("dval")).as("week_dval"))
      .orderBy("o_orderkey")
  }

  private val joinRangeSql = EventSeriesSql.withSeries(
    """SELECT o_orderkey, o_custkey AS id, CAST(o_orderdate AS DATE) AS odate,
      |  COUNT(*) AS n_days, CAST(SUM(dval) AS BIGINT) AS week_dval
      |FROM orders JOIN daily d
      |  ON d.id = o_custkey
      | AND d.date > CAST(o_orderdate AS DATE) - 7 AND d.date <= CAST(o_orderdate AS DATE)
      |GROUP BY 1, 2, 3 ORDER BY o_orderkey""".stripMargin)

  /** Batch sessionization — the oracle-checkable twin of the
    * streaming [[graft.streaming.EventStream.sessionize]] (same
    * 30-minute-gap session definition): boundary flags via lag,
    * session index via running sum of flags — both in the one
    * per-user window — then a per-session aggregate. Two shuffles
    * total (user window + session groupBy). Order ties at equal `ts`
    * are harmless: a zero gap can never open a boundary. */
  private def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val w = Window.partitionBy("user_id").orderBy("ts")
    val run = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), Num.cents(col("value")).as("vc"))
      .withColumn("boundary",
        when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))
          > gapMs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("boundary")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("vc")).as("sum_vc"),
        min(col("ts")).as("t_start"),
        max(col("ts")).as("t_end"))
      // explicit floor: DuckDB's CAST(x AS BIGINT) rounds while
      // Spark's cast truncates — floor on both sides is unambiguous
      .withColumn("duration_s",
        floor((unix_millis(col("t_end")) - unix_millis(col("t_start"))) / 1000.0).cast("long"))
      .orderBy("user_id", "session_idx")
  }

  /** SCD type-2 build: turn a change stream into versioned dimension
    * rows with validity intervals — `valid_from` = the change time,
    * `valid_to` = the next change for the same key (NULL = current).
    * This is the warehouse op that PRODUCES the versioned dimensions
    * the as-of joins (`q_asof_native`) and the streaming enrichment
    * (`EventStream.asofEnrich`) consume.
    *
    * Scale shape: one shuffle on the entity key, one window pass with
    * a unique sort key (ts, event_id) so interval boundaries are
    * deterministic under ties — the same single-Exchange contract as
    * every window query here (§2.6). */
  private def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        Num.cents(col("value")).as("vc"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"), col("vc"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  private val scd2Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events
      |)
      |SELECT user_id, event_id, event_type, vc,
      |  ts AS valid_from,
      |  LEAD(ts) OVER w AS valid_to,
      |  LEAD(ts) OVER w IS NULL AS is_current
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Calendar gap-fill + forward fill (pandas `asfreq` + `ffill`, the
    * resample primitive every per-entity daily time series needs —
    * the reference's MOH feed only carries observed days): per id,
    * generate the full daily calendar over that id's observed span
    * (`sequence` + explode — row generation is OUTPUT-proportional,
    * never a cross join against a global calendar), left-join the
    * observed daily sums, and forward-fill with `last(ignoreNulls)`
    * over one running window. One key shuffle total; the calendar,
    * join and fill all share it. Gap rows are flagged. */
  private def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = EventSeries.daily(spark, dir).select("id", "date", "dval")
    val cal = daily.groupBy("id")
      .agg(min("date").as("d0"), max("date").as("d1"))
      .select(col("id"), explode(sequence(col("d0"), col("d1"))).as("date"))
    val w = Window.partitionBy("id").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("id", "date"), "left")
      .select(col("id"), col("date"),
        last(col("dval"), ignoreNulls = true).over(w).as("dval_ff"),
        col("dval").isNull.as("is_gap"))
      .orderBy("id", "date")
  }

  private val gapFillSql =
    s"""WITH ${EventSeriesSql.daily},
       |span AS (
       |  SELECT id, MIN(date) AS d0, MAX(date) AS d1 FROM daily GROUP BY id
       |), cal AS (
       |  SELECT id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
       |  FROM span
       |)
       |SELECT c.id AS id, c.date AS date,
       |  LAST_VALUE(d.dval IGNORE NULLS) OVER (PARTITION BY c.id ORDER BY c.date
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dval_ff,
       |  d.dval IS NULL AS is_gap
       |FROM cal c LEFT JOIN daily d ON d.id = c.id AND d.date = c.date
       |ORDER BY c.id, c.date""".stripMargin

  /** CDC merge-apply (the MERGE INTO primitive): a snapshot (latest
    * pre-cutoff row per key, deletes already compacted away) merged
    * with a post-cutoff change stream carrying upserts AND deletes —
    * the final state keeps each key's latest version unless that
    * version is a delete. Purchases play the delete op here (the
    * semantics under test are precedence + tombstones, not the
    * mapping).
    *
    * Scale shape: both sides reduce to one row per key BEFORE the
    * merge (window rank over (ts, event_id) — unique, deterministic),
    * so the merge itself is key-proportional; the cutoff is a scalar
    * subquery over a 1-row aggregate. This is the batch twin of what
    * `foreachBatch` upserts do incrementally in StreamingSpec. */
  private def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        Num.cents(col("value")).as("vc"))
    val t0 = ev.agg(max(col("ts")) - expr("INTERVAL 7 DAYS")).scalar()
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    // snapshot: latest pre-cutoff row per key, op forced to upsert
    val snap = ev.filter(col("ts") < t0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("vc"),
        lit("U").as("op"))
    // change stream: every post-cutoff row, purchases = tombstones
    val chg = ev.filter(col("ts") >= t0)
      .select(col("user_id"), col("event_id"), col("ts"), col("vc"),
        when(col("event_type") === "purchase", lit("D")).otherwise(lit("U")).as("op"))
    snap.unionByName(chg)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("op") =!= "D")
      .select(col("user_id"), col("event_id"), col("ts").as("last_ts"), col("vc"))
      .orderBy("user_id")
  }

  private val cdcApplySql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events
      |), cut AS (
      |  SELECT MAX(ts) - INTERVAL 7 DAY AS t0 FROM ev
      |), snap AS (
      |  SELECT user_id, event_id, ts, vc, 'U' AS op FROM (
      |    SELECT user_id, event_id, ts, vc,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev WHERE ts < (SELECT t0 FROM cut))
      |  WHERE rn = 1
      |), chg AS (
      |  SELECT user_id, event_id, ts, vc,
      |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
      |  FROM ev WHERE ts >= (SELECT t0 FROM cut)
      |), merged AS (
      |  SELECT user_id, event_id, ts, vc, op,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg)
      |)
      |SELECT user_id, event_id, ts AS last_ts, vc
      |FROM merged WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  private val sessionizeBatchSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
      |    THEN 1 ELSE 0 END AS boundary
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  CAST(SUM(vc) AS BIGINT) AS sum_vc,
      |  MIN(ts) AS t_start, MAX(ts) AS t_end,
      |  CAST(floor((epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 1000.0) AS BIGINT) AS duration_s
      |FROM sess GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** JSON column surface (north-star: semi-structured props at scale):
    * schema-full `from_json` and schema-less `get_json_object` on the
    * events props payload, in one codegen'd projection. */
  private def jsonOps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, dir).select(
      col("event_id"),
      from_json(col("props"), schema).getField("k").as("k_typed"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("k_path"))
      .withColumn("k_bucket", pmod(col("k_typed"), lit(10)))
      .orderBy("event_id")
  }

  private val jsonOpsSql =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS INT) AS k_typed,
      |  CAST(json_extract(props, '$.k') AS INT) AS k_path,
      |  CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket
      |FROM events ORDER BY event_id""".stripMargin

  /** Batch twin of the stream-stream event-time interval join
    * ([[EventStream.intervalJoin]]): each view matched to same-user
    * clicks within the 6-hour window after it. The IDENTICAL code
    * runs under `readStream` with watermark-bounded join state
    * (StreamingSpec); in batch mode the watermarks are no-ops and the
    * driver hash-checks it against a DuckDB range join. */
  private def intervalJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    EventStream.intervalJoin(
        ev.filter(col("event_type") === "view").select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value")),
        joinWindow = "6 hours")
      .orderBy("user_id", "view_ts", "click_ts")
  }

  private val intervalJoinSql =
    """SELECT v.user_id,
      |  CAST(v.ts AS TIMESTAMP) AS view_ts,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts,
      |  CAST(round(c.value * 100) AS BIGINT) AS click_vc
      |FROM events v JOIN events c ON v.user_id = c.user_id
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |  AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 6 HOUR
      |ORDER BY v.user_id, view_ts, click_ts""".stripMargin

  /** The same as-of semantics through the NATIVE physical operator
    * ([[graft.plans.AsOfJoinExec]] via a custom logical node + planner
    * strategy): one buffered right row per partition during a single
    * sorted-merge pass — no union row-widening, no window machinery.
    * Oracle: the identical DuckDB ASOF JOIN as q_join_asof. */
  private def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val left = Tables.orders(spark, dir).select(
      col("o_custkey").as("id"), to_date(col("o_orderdate")).as("date"),
      col("o_orderkey"))
    val right = EventSeries.daily(spark, dir).select(
      col("id").as("r_id"), col("date").as("r_date"), col("dval"))
    graft.plans.AsOf.join(left, right, "id", "r_id", "date", "r_date")
      .select(col("o_orderkey"), col("id"), col("date"),
        coalesce(col("r_date"), lit("1900-01-01").cast("date")).as("asof_date"),
        coalesce(col("dval"), lit(-1L)).as("asof_dval"))
      .orderBy("o_orderkey")
  }

  private val asofNativeSql = EventSeriesSql.withSeries(
    """SELECT o_orderkey, o_custkey AS id, CAST(o_orderdate AS DATE) AS date,
      |  COALESCE(d.date, DATE '1900-01-01') AS asof_date,
      |  COALESCE(d.dval, -1) AS asof_dval
      |FROM orders ASOF LEFT JOIN daily d
      |  ON d.id = o_custkey AND d.date <= CAST(o_orderdate AS DATE)
      |ORDER BY o_orderkey""".stripMargin)

  /** Composite-key as-of through the native operator: each event looks
    * up the latest PRIOR day's per-(user, event_type) daily sum — the
    * multi-key path of [[graft.plans.AsOfJoinPlan]] (keys prune and
    * partition as a tuple; `AsOf.joinKeys`). Same scale shape as
    * [[asofNative]]: one shuffle per side on the composite key, one
    * buffered right row per merge pass.
    *
    * The merge operates on integral/date/timestamp keys (the exec's
    * primitive Long tuple compare — no boxing in the hot loop), so the
    * string key is DICTIONARY-ENCODED to an int code first — exactly
    * how a low-cardinality string key should enter any 100 TB sort
    * key anyway. The original string rides through as a carried
    * column. Oracle: DuckDB ASOF JOIN with two equality conditions. */
  private def asofMultikey(spark: SparkSession, dir: String): DataFrame = {
    def code(c: org.apache.spark.sql.Column) =
      when(c === "click", 1).when(c === "error", 2).when(c === "purchase", 3)
        .when(c === "signup", 4).when(c === "view", 5).otherwise(0)
    val right = Tables.events(spark, dir)
      .select(col("user_id").as("r_uid"), code(col("event_type")).as("r_code"),
        to_date(col("ts")).as("r_date"), Num.cents(col("value")).as("vc"))
      .groupBy("r_uid", "r_code", "r_date")
      .agg(sum("vc").as("r_dval"))
    val left = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        code(col("event_type")).as("etype_code"),
        date_sub(to_date(col("ts")), 1).as("d_prev"))
    graft.plans.AsOf.joinKeys(left, right,
        Seq("user_id", "etype_code"), Seq("r_uid", "r_code"), "d_prev", "r_date")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("r_date"), lit("1900-01-01").cast("date")).as("asof_date"),
        coalesce(col("r_dval"), lit(-1L)).as("asof_dval"))
      .orderBy("event_id")
  }

  private val asofMultikeySql =
    """WITH coded AS (
      |  SELECT user_id, event_type,
      |    CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |      WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'view' THEN 5
      |      ELSE 0 END AS etype_code,
      |    CAST(ts AS DATE) AS d, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events
      |), dailyt AS (
      |  SELECT user_id AS r_uid, etype_code AS r_code, d AS r_date,
      |    CAST(SUM(vc) AS BIGINT) AS r_dval
      |  FROM coded GROUP BY 1, 2, 3
      |)
      |SELECT e.event_id, e.user_id, e.event_type,
      |  COALESCE(t.r_date, DATE '1900-01-01') AS asof_date,
      |  COALESCE(t.r_dval, -1) AS asof_dval
      |FROM (SELECT event_id, user_id, event_type, etype_code, d - 1 AS d_prev
      |      FROM coded) e
      |ASOF LEFT JOIN dailyt t
      |  ON t.r_uid = e.user_id AND t.r_code = e.etype_code AND t.r_date <= e.d_prev
      |ORDER BY event_id""".stripMargin

  /** Built-in session windows (`session_window`) — the same operator
    * Structured Streaming maintains incrementally with state-store
    * merge; here exercised in batch with a full oracle. Built-in
    * semantics: a new session opens when the gap is >= 30 min (an
    * event extends a session while `ts < last + gap`), session end =
    * last event + gap. One shuffle on user_id; the session merge is
    * a single pass over each user's sorted events. */
  private def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), Num.cents(col("value")).as("vc"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_vc"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"), col("sum_vc"))
      .orderBy("user_id", "s_start")

  private val sessionWindowSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) >= 1800000
      |    THEN 1 ELSE 0 END AS boundary
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT *, SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts) AS s_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS s_end,
      |  COUNT(*) AS n_events, CAST(SUM(vc) AS BIGINT) AS sum_vc
      |FROM sess GROUP BY user_id, session_idx
      |ORDER BY user_id, s_start""".stripMargin

  /** Incremental-batch aggregation: merge a MATERIALIZED pre-aggregate
    * (days before the cutoff) with the raw delta partition (days from
    * the cutoff on) by unioning partials and re-aggregating — the
    * algebraic-aggregate merge (sum of sums, sum of counts) that lets
    * a 100 TB nightly pipeline reprocess only the new partition.
    * Oracle: the from-scratch full aggregate — proving merged
    * incremental state equals recomputation. */
  private def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "2024-01-25"
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        Num.cents(col("value")).as("vc"))
    val preAgg = ev.filter(col("d") < lit(cutoff))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"))
    val delta = ev.filter(col("d") >= lit(cutoff))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"))
    preAgg.union(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"), sum(col("sum_vc")).as("sum_vc"))
      .orderBy("event_type")
  }

  private val incrementalAggSql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_vc
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incremental JOIN maintenance — `q_incremental_agg`'s two-sided
    * sibling: when BOTH sides of a join grow by inserts, the new join
    * result is maintained from the delta algebra
    * Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — never by re-joining A₀⋈B₀
    * (the materialized prior result, here a persisted pre-aggregate).
    * At 100 TB the nightly cost becomes |Δ|-proportional: each delta
    * join has at least one tiny (broadcastable) side.
    *
    * Deterministic split: orders with orderkey ≡ 0 (mod 10) are
    * "tonight's" fact inserts; customers with custkey ≡ 0 (mod 7) are
    * new dimension rows. Each term pre-aggregates to per-segment
    * partials; partials merge algebraically (sum of sums). Oracle:
    * the from-scratch full join+aggregate — hash-proving the
    * maintenance algebra equals recomputation. */
  private def incrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        Num.cents(col("o_totalprice")).as("pc"))
    val c = Tables.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val a0 = o.filter(col("o_orderkey") % 10 =!= 0)
    val dA = o.filter(col("o_orderkey") % 10 === 0)
    val b0 = c.filter(col("c_custkey") % 7 =!= 0)
    val dB = c.filter(col("c_custkey") % 7 === 0)
    def part(af: org.apache.spark.sql.DataFrame, bf: org.apache.spark.sql.DataFrame) =
      af.join(bf, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("pc").as("s"))
    // the materialized prior result (A₀⋈B₀): persisted, as a nightly
    // pipeline would store it — the delta terms never rescan it
    val j0 = graft.ops.SideCache.persist(part(a0, b0))
    Seq(part(dA, b0), part(a0, dB), part(dA, dB))
      .foldLeft(j0.toDF())(_ union _)
      .groupBy("c_mktsegment")
      .agg(sum("n").as("n_orders"), sum("s").as("sum_pc"))
      .orderBy("c_mktsegment")
  }

  private val incrementalJoinSql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  CAST(SUM(${NumSql.cents("o_totalprice")}) AS BIGINT) AS sum_pc
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Snapshot diff (the Delta/Iceberg change-data-feed primitive,
    * computed from plain tables): classify every key across two
    * snapshot views of `orders` as added / removed / changed. The two
    * snapshots are deterministic derivations of the base table (a
    * date-horizon extension, a simulated status backfill, a modular
    * "cancellation" delete-set), so the diff is oracle-checkable
    * without stateful storage. Plan shape is the 100 TB shape: ONE
    * full-outer sort-merge join on the key — both sides arrive
    * key-partitioned, comparison is per-row, and `unchanged` rows
    * (the overwhelming majority in real diffs) die in the post-join
    * filter without being materialized anywhere. */
  private def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      Num.cents(col("o_totalprice")).as("price_c"),
      to_date(col("o_orderdate")).as("od"))
    val a = base.where(col("od") < lit("1999-01-01"))
    val b = base
      .where(col("od") < lit("2000-01-01") && col("o_orderkey") % 97 =!= 0)
      .withColumn("status",
        when(col("status") === "O" && col("od") < lit("1998-01-01"), "F")
          .otherwise(col("status")))
    a.select(col("o_orderkey"), col("status").as("old_status"),
        col("price_c").as("old_price_c"))
      .join(b.select(col("o_orderkey"), col("status").as("new_status"),
        col("price_c").as("new_price_c")), Seq("o_orderkey"), "full_outer")
      .withColumn("change",
        when(col("old_status").isNull, "added")
          .when(col("new_status").isNull, "removed")
          .when(col("old_status") =!= col("new_status") ||
            col("old_price_c") =!= col("new_price_c"), "changed")
          .otherwise("unchanged"))
      .where(col("change") =!= "unchanged")
      .select(col("o_orderkey"), col("change"), col("old_status"),
        col("new_status"), col("old_price_c"), col("new_price_c"))
      .orderBy("o_orderkey")
  }

  private val snapshotDiffSql =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus AS status,
       |    ${graft.ops.NumSql.cents("o_totalprice")} AS price_c,
       |    CAST(o_orderdate AS DATE) AS od
       |  FROM orders),
       |a AS (SELECT * FROM base WHERE od < DATE '1999-01-01'),
       |b AS (
       |  SELECT o_orderkey,
       |    CASE WHEN status = 'O' AND od < DATE '1998-01-01'
       |      THEN 'F' ELSE status END AS status,
       |    price_c
       |  FROM base WHERE od < DATE '2000-01-01' AND o_orderkey % 97 <> 0),
       |j AS (
       |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       |    a.status AS old_status, b.status AS new_status,
       |    a.price_c AS old_price_c, b.price_c AS new_price_c
       |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
       |SELECT o_orderkey,
       |  CASE WHEN old_status IS NULL THEN 'added'
       |       WHEN new_status IS NULL THEN 'removed'
       |       ELSE 'changed' END AS change,
       |  old_status, new_status, old_price_c, new_price_c
       |FROM j
       |WHERE old_status IS NULL OR new_status IS NULL
       |  OR old_status <> new_status OR old_price_c <> new_price_c
       |ORDER BY o_orderkey""".stripMargin

  /** Linear gap interpolation — `q_gap_fill`'s forward-fill sibling
    * for metrics where a straight line between observations beats
    * repeating the last one (sensor readings, balances). Same
    * output-proportional calendar (per-id `sequence` explode, never a
    * global-calendar cross join); the bracketing observation on each
    * side comes from two frames of ONE id-partitioned window pass
    * (running `last` / reversed `first`, ignoreNulls), and the
    * interpolation itself is integral ×1000 arithmetic — numerator
    * and denominator are day counts, both engines truncate integral
    * division toward zero, so the line is hash-exact. Boundary gaps
    * cannot occur: the calendar spans min..max observation dates. */
  private def interpolate(spark: SparkSession, dir: String): DataFrame = {
    val daily = EventSeries.daily(spark, dir).select("id", "date", "dval")
    val cal = daily.groupBy("id")
      .agg(min("date").as("d0"), max("date").as("d1"))
      .select(col("id"), explode(sequence(col("d0"), col("d1"))).as("date"))
    val wb = Window.partitionBy("id").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("id").orderBy("date")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDate = when(col("dval").isNotNull, col("date"))
    cal.join(daily, Seq("id", "date"), "left")
      .withColumn("pv", last(col("dval"), ignoreNulls = true).over(wb))
      .withColumn("pd", last(obsDate, ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("dval"), ignoreNulls = true).over(wf))
      .withColumn("nd", first(obsDate, ignoreNulls = true).over(wf))
      .where(col("dval").isNull)
      .withColumn("num", datediff(col("date"), col("pd")).cast("long"))
      .withColumn("den", datediff(col("nd"), col("pd")).cast("long"))
      .select(col("id"), col("date"),
        expr("pv * 1000 + ((nv - pv) * 1000 * num) div den").as("interp_x1000"))
      .orderBy("id", "date")
  }

  private val interpolateSql =
    s"""WITH ${graft.queries.EventSeriesSql.daily},
       |span AS (
       |  SELECT id, MIN(date) AS d0, MAX(date) AS d1 FROM daily GROUP BY id
       |), cal AS (
       |  SELECT id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
       |  FROM span
       |), j AS (
       |  SELECT c.id AS id, c.date AS date, d.dval AS dval
       |  FROM cal c LEFT JOIN daily d ON d.id = c.id AND d.date = c.date
       |), e AS (
       |  SELECT id, date, dval,
       |    LAST_VALUE(dval IGNORE NULLS) OVER wb AS pv,
       |    LAST_VALUE(CASE WHEN dval IS NOT NULL THEN date END IGNORE NULLS)
       |      OVER wb AS pd,
       |    FIRST_VALUE(dval IGNORE NULLS) OVER wf AS nv,
       |    FIRST_VALUE(CASE WHEN dval IS NOT NULL THEN date END IGNORE NULLS)
       |      OVER wf AS nd
       |  FROM j
       |  WINDOW wb AS (PARTITION BY id ORDER BY date
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wf AS (PARTITION BY id ORDER BY date
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |)
       |SELECT id, date,
       |  CAST(pv * 1000 + ((nv - pv) * 1000 * date_diff('day', pd, date))
       |    // date_diff('day', pd, nd) AS BIGINT) AS interp_x1000
       |FROM e WHERE dval IS NULL
       |ORDER BY id, date""".stripMargin

  /** Rolling z-score anomaly detection over the per-type daily series
    * — the monitoring primitive (alert when today deviates from its
    * own trailing week). One key shuffle builds the daily aggregate;
    * the trailing-7 moments are TWO running sums (Σx, Σx²) in one
    * Window node over integer cents, so the distributed part is exact
    * integer arithmetic and float math happens once per output row.
    *
    * Cross-engine determinism: mean/var/z are spelled as the SAME
    * explicit expression tree on both engines — `(ss − s·s/7)/6`, not
    * DuckDB's `stddev_samp` (Welford order ⇒ different rounding) —
    * each IEEE op is correctly rounded so identical operand order
    * gives identical bits; the z lands as a floor-quantized milli
    * value. Full windows only (row 7+): a constant n keeps the
    * formula branch-free.
    *
    * Overflow: x² and its trailing sum live in Decimal(38,0) on Spark
    * and HUGEINT in DuckDB — Long x² wraps silently in non-ANSI Spark
    * once daily cent totals pass ~3.0e9 (≈$30M/day, reachable at
    * corpus scale) while DuckDB widens, so the engines would silently
    * diverge. Both wide types hold any Long², and both cast to double
    * with correct rounding, so the float tree stays bit-identical. */
  private def rollingZscore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Num.cents(col("value"))).as("x"))
    val wRoll = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, 0)
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val xd = col("x").cast(DecimalType(38, 0))
    val sd = col("s").cast(DecimalType(38, 0))
    daily
      .withColumn("s", sum(col("x")).over(wRoll))
      .withColumn("ss", sum(xd * xd).over(wRoll))
      .withColumn("rn", row_number().over(wSeq))
      .where(col("rn") >= 7)
      .withColumn("vr",
        (col("ss").cast("double") - (sd * sd).cast("double") / 7.0) / 6.0)
      .withColumn("z_milli",
        when(col("vr") > 0, Num.floorEps(
          (col("x") - col("s") / 7.0) / sqrt(col("vr")) * 1000)))
      .withColumn("is_anom",
        (abs(coalesce(col("z_milli"), lit(0L))) >= 2000).cast("int"))
      .select(col("event_type"), col("day"), col("x"), col("z_milli"),
        col("is_anom"))
      .orderBy("event_type", "day")
  }

  private val rollingZscoreSql =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(SUM(${graft.ops.NumSql.cents("value")}) AS BIGINT) AS x
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY event_type, CAST(ts AS DATE)),
       |rolled AS (
       |  SELECT event_type, day, x,
       |    SUM(x) OVER w AS s,
       |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w AS ss,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
       |scored AS (
       |  SELECT event_type, day, x,
       |    (CAST(ss AS DOUBLE) - CAST(s * s AS DOUBLE) / 7.0) / 6.0 AS vr,
       |    CASE WHEN (CAST(ss AS DOUBLE) - CAST(s * s AS DOUBLE) / 7.0) / 6.0 > 0
       |      THEN ${graft.ops.NumSql.floorEps(
      "(x - s / 7.0) / sqrt((CAST(ss AS DOUBLE) - CAST(s * s AS DOUBLE) / 7.0) / 6.0) * 1000")}
       |      END AS z_milli
       |  FROM rolled WHERE rn >= 7)
       |SELECT event_type, day, x, z_milli,
       |  CAST(abs(COALESCE(z_milli, 0)) >= 2000 AS INT) AS is_anom
       |FROM scored ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------------------- OHLC

  /** OHLC downsampling — the canonical lossy time-series compaction
    * (finance bars, metrics rollups): per hour, the opening value
    * (first by event time), the high/low, the closing value (last),
    * and the volume. First/last are window row-numbers over
    * (ts, event_id) — a unique total order, NOT min_by/max_by on the
    * bare timestamp, whose tie-breaking is engine-defined.
    *
    * Scale shape: one corpus scan; the two row-number windows and the
    * aggregate share the hour-keyed exchange (the window partition IS
    * the group-by key), so the whole bar build is one shuffle. */
  private def ohlc(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), Num.cents(col("value")).as("vc"))
    val asc = Window.partitionBy("hour").orderBy(col("ts"), col("event_id"))
    val desc = Window.partitionBy("hour")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy("hour")
      .agg(count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("vc"))).as("open_c"),
        max("vc").as("high_c"), min("vc").as("low_c"),
        max(when(col("rn_d") === 1, col("vc"))).as("close_c"))
      .orderBy("hour")
  }

  private val ohlcSql =
    s"""WITH base AS (
       |  SELECT date_trunc('hour', ts) AS hour, ts, event_id,
       |    ${graft.ops.NumSql.cents("value")} AS vc
       |  FROM events WHERE value IS NOT NULL),
       |rn AS (
       |  SELECT hour, vc,
       |    row_number() OVER (PARTITION BY hour ORDER BY ts, event_id) AS rn_a,
       |    row_number() OVER (PARTITION BY hour ORDER BY ts DESC, event_id DESC) AS rn_d
       |  FROM base)
       |SELECT hour, COUNT(*) AS n,
       |  CAST(MAX(CASE WHEN rn_a = 1 THEN vc END) AS BIGINT) AS open_c,
       |  CAST(MAX(vc) AS BIGINT) AS high_c,
       |  CAST(MIN(vc) AS BIGINT) AS low_c,
       |  CAST(MAX(CASE WHEN rn_d = 1 THEN vc END) AS BIGINT) AS close_c
       |FROM rn GROUP BY hour ORDER BY hour""".stripMargin

  // ------------------------------------------------------ seasonal decompose

  /** Classical additive seasonal DECOMPOSITION of the daily event
    * series (trend = 7-day centered moving average; seasonal = per
    * day-of-week mean of the detrended series; residual = the rest) —
    * the time-series triage every metrics pipeline runs before
    * anomaly-flagging a "drop" that is just a weekend. Only days with
    * a full centered window are emitted, so every column is total −
    * trend − seasonal exact.
    *
    * Determinism: day totals are integer cents; every mean is
    * `floorEps(sum/count)` through identical expression trees — NOT
    * integer `div`, because detrended values go negative and Spark's
    * `div` truncates toward zero while DuckDB's `//` floors (a
    * sign-dependent off-by-one found designing this query).
    *
    * Scale shape: the corpus-sized work is ONE map-side-combined
    * group-by to \|days\| rows; the windows and the dow aggregate run
    * on that tiny post-agg frame (the `q_daily_sums` convention — a
    * decade of days is 3 653 rows). */
  private def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(Num.cents(col("value"))).as("total_c"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    // persisted: the detrended frame feeds the dow aggregate AND the
    // final join — without it the corpus-sized daily reduce runs twice
    val trended = graft.ops.SideCache.persist(daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("trend_c",
        Num.floorEps(sum("total_c").over(w).cast("double") / lit(7.0)))
      .filter(col("n_win") === 7)
      .withColumn("dow", dayofweek(col("day")).cast("long"))
      .withColumn("detr", col("total_c") - col("trend_c")))
    val seasonal = trended.groupBy("dow")
      .agg(Num.floorEps(sum("detr").cast("double") / count(lit(1))).as("seasonal_c"))
    trended.join(broadcast(seasonal), "dow")
      .select(col("day"), col("total_c"), col("trend_c"), col("dow"),
        col("seasonal_c"),
        (col("total_c") - col("trend_c") - col("seasonal_c")).as("resid_c"))
      .orderBy("day")
  }

  private val seasonalDecomposeSql =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(SUM(${graft.ops.NumSql.cents("value")}) AS BIGINT) AS total_c
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |win AS (
       |  SELECT day, total_c,
       |    COUNT(*) OVER w AS n_win,
       |    ${graft.ops.NumSql.floorEps("CAST(SUM(total_c) OVER w AS DOUBLE) / 7.0")} AS trend_c
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |full_days AS (
       |  SELECT day, total_c, trend_c,
       |    CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
       |    total_c - trend_c AS detr
       |  FROM win WHERE n_win = 7),
       |seas AS (
       |  SELECT dow,
       |    ${graft.ops.NumSql.floorEps("CAST(SUM(detr) AS DOUBLE) / COUNT(*)")} AS seasonal_c
       |  FROM full_days GROUP BY dow)
       |SELECT day, total_c, trend_c, f.dow, seasonal_c,
       |  total_c - trend_c - seasonal_c AS resid_c
       |FROM full_days f JOIN seas s ON f.dow = s.dow
       |ORDER BY day""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_seasonal_decompose", seasonalDecompose, Some(seasonalDecomposeSql)),
    Q("q_ohlc", ohlc, Some(ohlcSql)),
    Q("q_rolling_zscore", rollingZscore, Some(rollingZscoreSql)),
    Q("q_interpolate", interpolate, Some(interpolateSql)),
    Q("q_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    Q("q_stream_window", streamWindow, Some(streamWindowSql)),
    Q("q_session_window", sessionWindow, Some(sessionWindowSql)),
    Q("q_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    Q("q_incremental_join", incrementalJoin, Some(incrementalJoinSql)),
    Q("q_join_asof", joinAsof, Some(joinAsofSql)),
    Q("q_asof_forward", asofForward, Some(asofForwardSql)),
    Q("q_asof_nearest", asofNearest, Some(asofNearestSql)),
    Q("q_asof_native", asofNative, Some(asofNativeSql)),
    Q("q_asof_multikey", asofMultikey, Some(asofMultikeySql)),
    Q("q_join_range", joinRange, Some(joinRangeSql)),
    Q("q_sessionize_batch", sessionizeBatch, Some(sessionizeBatchSql)),
    Q("q_scd2", scd2, Some(scd2Sql)),
    Q("q_gap_fill", gapFill, Some(gapFillSql)),
    Q("q_cdc_apply", cdcApply, Some(cdcApplySql)),
    Q("q_interval_join", intervalJoinQ, Some(intervalJoinSql)),
    Q("q_json_ops", jsonOps, Some(jsonOpsSql)),
  )
}
