package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The reference's per-group, order-dependent loops re-expressed as
  * Spark window operators (SURVEY.md §2.6).
  *
  * Every operator here is a pure `DataFrame => DataFrame` parameterized
  * on column names. The reference (il_analysis_git.py) encodes ordering
  * as hidden frame state (global sorts at :75/:128/:147 feeding
  * `.iloc`-based group logic); here every ordering is explicit in a
  * window spec, which is both correct under Spark's unordered shuffles
  * and embarrassingly parallel: each `partitionBy(id)` window evaluates
  * after a single hash shuffle on `id`, the exact split-apply-combine
  * the reference hand-rolls with joblib (il_analysis_git.py:17-19).
  *
  * Scale note (100 TB): all ops below shuffle once on the series key and
  * then stream each partition sorted by date — O(n log n/p) with no
  * driver involvement; skew is bounded by the largest single series.
  */
object TimeSeriesOps {

  /** running frame: unbounded-preceding .. current row, ordered. */
  def cumW(id: String, date: String): WindowSpec =
    Window.partitionBy(id).orderBy(date)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** whole-group frame (for last/first-value broadcast per group). */
  def fullW(id: String, date: String): WindowSpec =
    Window.partitionBy(id).orderBy(date)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  def ascW(id: String, date: String): WindowSpec =
    Window.partitionBy(id).orderBy(col(date).asc)

  def descW(id: String, date: String): WindowSpec =
    Window.partitionBy(id).orderBy(col(date).desc)

  /** `rebase_15` (il_analysis_git.py:22-30, :119-124): impute privacy-
    * censored cumulative counts. Per (id, date): while the cumulative
    * metric is still 0, substitute the running count of "new" flags.
    * The reference's O(rows²/group) row loop (self-noted slow at :23)
    * becomes two O(n) running sums.
    *
    * Input columns are *daily* increments; output adds the cumulative
    * raw metric, the imputation and the imputed cumulative metric.
    *
    * Fidelity: the reference then folds the vaccine imputation into
    * `cases` (`:124` — an upstream bug per SURVEY §2.5); we implement
    * the documented per-metric intent.
    */
  def rebase15(df: DataFrame, id: String, date: String,
               dailyMetric: String, dailyNewFlag: String,
               outPrefix: String): DataFrame = {
    val w = cumW(id, date)
    val cum = sum(col(dailyMetric)).over(w)
    val cumFlag = sum(col(dailyNewFlag)).over(w)
    df.withColumn(s"${outPrefix}_cum", cum)
      .withColumn(s"${outPrefix}_m", when(cum === 0, cumFlag).otherwise(lit(0L)))
      .withColumn(s"${outPrefix}_imputed", cum + when(cum === 0, cumFlag).otherwise(lit(0L)))
  }

  /** Latest-value percentage broadcast onto every row of the group
    * (il_analysis_git.py:134-136): percent = round(last(num)/denom·100),
    * constant per id. `last` over the full frame replaces the
    * reference's per-id `.iloc[-1]` full-frame mask (O(groups·rows)).
    */
  def latestPercent(df: DataFrame, id: String, date: String,
                    num: String, denom: String, out: String,
                    clampTo: Option[Long] = None): DataFrame = {
    val pct = Num.roundEps(last(col(num)).over(fullW(id, date)) / col(denom) * 100)
    val clamped = clampTo.fold(pct)(c => least(pct, lit(c)))  // :137
    df.withColumn(out, clamped)
  }

  /** Every-`n`th-row sampling counting back from the latest date
    * (il_analysis_git.py:153-154 — "we keep the end date fixed"):
    * weekly downsampling of a daily series. */
  def strideSample(df: DataFrame, id: String, date: String, n: Int = 7): DataFrame =
    df.withColumn("__rn", row_number().over(descW(id, date)))
      .filter((col("__rn") - 1) % n === 0)
      .drop("__rn")

  /** Rebase each metric to the value at the window's first date
    * (il_analysis_git.py:158-160): period-relative counts; first date
    * becomes 0 (the map renders it transparent, :161). */
  def rebaseToStart(df: DataFrame, id: String, date: String, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, col(c) - first(col(c)).over(fullW(id, date)))
    }

  /** Daily delta with first-row fallback to its own value
    * (il_analysis_git.py:162-164: `diff(periods=-1).fillna(cases)` on
    * the desc frame == asc-order lag diff). */
  def dailyDelta(df: DataFrame, id: String, date: String, c: String, out: String): DataFrame =
    df.withColumn(out, coalesce(col(c) - lag(col(c), 1).over(ascW(id, date)), col(c)))

  /** Country-wide per-day totals + day-over-day diff
    * (il_analysis_git.py:169). The final single-partition lag window is
    * over the already-aggregated per-day frame (tiny by construction).
    */
  def dailySums(df: DataFrame, date: String, c: String): DataFrame = {
    val sums = df.groupBy(date).agg(sum(col(c)).as("tot"))
    sums.withColumn("delta",
      coalesce(col("tot") - lag(col("tot"), 1).over(Window.orderBy(date)), col("tot")))
  }

  /** The revived "ramzor" score (il_analysis_git.py:138-146, disabled
    * upstream but part of the documented surface): growth-rate +
    * positivity composite, clipped to [0, 10], rounded to 1 decimal.
    *
    * score = clip(2 + ln(N·G²) + P/8, 0, 10) where N = 7d-sum(cases)
    * / pop · 10⁴, G = 7d-sum / 7d-sum seven rows earlier, P = 7d
    * cases / 7d tests. Null (start-of-series / zero denominators) → 0,
    * mirroring the reference's `fillna(0)` (:143).
    */
  def rollingScore(df: DataFrame, id: String, date: String,
                   dailyCases: String, dailyTests: String, pop: String,
                   out: String): DataFrame = {
    val w7 = Window.partitionBy(id).orderBy(date).rowsBetween(-6, 0)
    val wAsc = ascW(id, date)
    val weeklyN = sum(col(dailyCases)).over(w7)
    val weeklyT = sum(col(dailyTests)).over(w7)
    val prevN = lag(weeklyN, 7).over(wAsc)
    val bigN = weeklyN.cast("double") / col(pop) * 10000
    val g = weeklyN.cast("double") / prevN.cast("double")
    val p = weeklyN.cast("double") / weeklyT.cast("double")
    val raw = when(prevN.isNull || prevN === 0 || weeklyN === 0 || weeklyT === 0, lit(null))
      .otherwise(lit(2.0) + log(bigN * g * g) + p / 8)
    val clipped = least(lit(10.0), greatest(lit(0.0), coalesce(raw, lit(0.0))))
    df.withColumn(out, Num.round1Eps(clipped))
  }
}
