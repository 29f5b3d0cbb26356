package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-cleaning operators (SURVEY.md §2.2): the reference's
  * drop/rename/decode/cast block (il_analysis_git.py:52-74) as pure,
  * composable `DataFrame => DataFrame` functions. All are single-pass
  * narrow projections — Catalyst folds the whole block into one
  * whole-stage-codegen'd `Project` over the scan with column pruning
  * pushed into the reader.
  */
object CleanOps {

  /** Privacy-censor decode (il_analysis_git.py:60-65): the MOH dump
    * writes counts below 15 as the literal token `'<15'`; decode to 0
    * (later re-imputed by rebase_15) and cast. */
  def censorDecode(c: Column, token: String = "<15"): Column =
    when(c === lit(token), lit("0")).otherwise(c)

  /** `'TRUE'/'FALSE'` string flags -> 1/0 (il_analysis_git.py:66-73). */
  def boolDecode(c: Column): Column =
    when(c === lit("TRUE"), lit(1))
      .when(c === lit("FALSE"), lit(0))
      .otherwise(c.cast(IntegerType))

  /** Surrogate area key (il_analysis_git.py:59): id = city·10⁴ + area.
    * Long, not int — overflow-safe at scale (SURVEY §1.2). */
  def surrogateId(city: Column, area: Column): Column =
    city.cast(LongType) * 10000L + area.cast(LongType)

  /** NaN->0 defaults on key columns (il_analysis_git.py:55-57). */
  def nullDefaults(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.fill(0, cols)

  /** Null-city purge (il_analysis_git.py:58): rows with neither a city
    * nor an area code carry no geography and are dropped. */
  def purgeNullCity(df: DataFrame, city: String = "city", area: String = "area"): DataFrame =
    df.filter(!(col(city) === 0 && col(area) === 0))
}
