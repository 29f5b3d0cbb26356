package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Numeric helpers that keep Spark results bit-identical to the DuckDB
  * oracle (`SparkEntry.oracleSql`).
  *
  * Money/measure doubles are converted to integer cents at the row level
  * (deterministic single-row op), so every aggregate downstream is exact
  * integer arithmetic — immune to FP summation-order differences between
  * engines. Derived ratios are floored/rounded with a tiny epsilon so a
  * 1-ulp divergence (e.g. `ln` not being correctly rounded on either
  * side) cannot flip an integer boundary.
  *
  * SQL twins (DuckDB): see [[NumSql]].
  */
object Num {

  /** dollars-double -> integer cents. round() of a single double is
    * deterministic and identical in Spark and DuckDB (half away from
    * zero for values that are exactly representable halves). */
  def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** floor with epsilon guard: floor(x + 1e-6). */
  def floorEps(c: Column): Column = floor(c + lit(1e-6))

  /** round-half-up with ulp guard: floor(x + 0.5 + 1e-9); mirrors the
    * reference's np.round-to-int sites (il_analysis_git.py:135,165). */
  def roundEps(c: Column): Column = floor(c + lit(0.500000001))

  /** round to 1 decimal, ulp-guarded (il_analysis_git.py:146). */
  def round1Eps(c: Column): Column = floor(c * 10 + lit(0.500000001)) / 10.0

  /** driver-side twin of [[floorEps]] for collected doubles. */
  def floorEpsLong(x: Double): Long = math.floor(x + 1e-6).toLong

  /** The order-free content digest a lake or maintenance step is
    * proved with: row count, xor of `key` (a per-row hash or a unique
    * key), integer sum of `value`. xor and sum coalesce to 0, so
    * an empty input digests to (0, 0, 0) in both engines. Aggregate
    * columns only: `df.select(digest(..): _*)` is one global aggregate,
    * `df.agg(other, digest(..): _*)` extends one. */
  def digest(key: Column, value: Column,
             nAs: String, xorAs: String, sumAs: String): Seq[Column] = Seq(
    count(lit(1)).as(nAs),
    coalesce(bit_xor(key), lit(0L)).as(xorAs),
    coalesce(sum(value), lit(0L)).as(sumAs))
}

/** DuckDB-SQL fragments matching [[Num]] exactly. */
object NumSql {
  def cents(e: String): String = s"CAST(round(($e) * 100) AS BIGINT)"
  def floorEps(e: String): String = s"CAST(floor(($e) + 0.000001) AS BIGINT)"
  def roundEps(e: String): String = s"CAST(floor(($e) + 0.500000001) AS BIGINT)"
  def round1Eps(e: String): String = s"floor(($e) * 10 + 0.500000001) / 10.0"
  /** SELECT-list twin of [[Num.digest]]; DuckDB's SUM widens to
    * HUGEINT and its bit_xor keeps the key's type, hence both casts. */
  def digest(key: String, value: String,
             nAs: String, xorAs: String, sumAs: String): String =
    s"COUNT(*) AS $nAs, CAST(COALESCE(bit_xor($key), 0) AS BIGINT) AS $xorAs, " +
      s"CAST(COALESCE(SUM($value), 0) AS BIGINT) AS $sumAs"
}
