package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Distributed rank primitives — global `row_number` WITHOUT a
  * single-partition window.
  *
  * A bare `row_number().over(Window.orderBy(...))` funnels the whole
  * frame through one task: correct, and fatal at corpus scale. The
  * scale-safe equivalent (the `q_sorted_neighborhood` /
  * `q_pack_sequences` pattern, factored out here so every ranking
  * query shares one audited implementation):
  *
  *   1. range-partition + sort locally on the FULL order key,
  *   2. per-partition `row_number` (window partitioned by pid — never
  *      a single-partition exchange),
  *   3. per-partition row counts collected driver-side (ONE row per
  *      shuffle partition — partition metadata, not corpus),
  *      prefix-summed, and broadcast back as rank offsets.
  *
  * Identical values to the global window iff the order key is TOTAL
  * (callers must include a unique tiebreaker, e.g. the row id): with
  * unique keys the range partitioner cannot split a tie across a
  * boundary, so `local rank + offset` is exactly the global rank.
  * `RanksSpec` pins equality against the single-window formulation on
  * random data, both ascending and descending, on both tiers. */
object Ranks {

  /** Append `rankCol` = the 1-based global `row_number` of each row
    * under `order` (ascending/descending Columns, MUST form a total
    * order) as a BIGINT column. No single-partition window over a
    * corpus-proportional frame anywhere in the plan.
    *
    * Per-group ranks compose from this: rank globally on
    * (group ++ order), then subtract the per-group `min(rank)` via a
    * broadcast join of the \|groups\|-row offset table (see
    * `q_quantile_norm`). */
  def globalRowNumber(df: DataFrame, rankCol: String,
                      order: Seq[Column]): DataFrame =
    globalRowNumbers(df, Seq((rankCol, order)))

  /** Driver-tier bound ([[Tier]]): up to this many rows are ranked
    * from the collected rows, so no range sampler, no counts collect
    * and no offset join. A corpus-scale frame exceeds it after
    * 2^16 + 1 rows and takes the distributed path. */
  val DriverRankMax: Int = 1 << 16

  /** CHAINED ranks over one frame — gate once, rank K times.
    * Driver tier: the collected rows become a local frame, and all K
    * windows run inside its one single-partition task (one exchange,
    * K sorts, no persist). The window carries a (constant) partition
    * spec, so this is never the partition-less logical Window the plan
    * lint forbids. Distributed: folds [[distributedRank]] per rank,
    * each rank's exchange carrying the previous rank columns. */
  def globalRowNumbers(df: DataFrame,
                       ranks: Seq[(String, Seq[Column])]): DataFrame =
    Tier.rows("ranks", df, DriverRankMax) match {
      case Some(rows) =>
        val base = df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
          .repartition(1)
          .withColumn("__rk_pid", spark_partition_id())
        ranks.foldLeft(base) { case (d, (rc, ord)) =>
          d.withColumn(rc, row_number()
            .over(Window.partitionBy("__rk_pid").orderBy(ord: _*))
            .cast("long"))
        }.drop("__rk_pid")
      case None => ranks.foldLeft(df) { case (d, (rc, ord)) =>
        distributedRank(d, rc, ord)
      }
    }

  /** The range-partition + per-partition rank + collected-offset
    * composition — identical values to the global window iff the
    * order key is total (see object doc). */
  private def distributedRank(df: DataFrame, rankCol: String,
                              order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = SideCache.persist(
      df.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("__rk_pid", spark_partition_id()))
    val counts = parts.groupBy("__rk_pid").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().sortBy(_._1)
    // exclusive prefix sum over the present (possibly sparse) pids
    val offs = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.init.map(_._2)
    val offDf = counts.map(_._1).zip(offs).toSeq.toDF("__rk_pid", "__rk_off")
    val w = Window.partitionBy("__rk_pid").orderBy(order: _*)
    parts.join(broadcast(offDf), Seq("__rk_pid"))
      .withColumn(rankCol,
        (row_number().over(w) + col("__rk_off")).cast("long"))
      .drop("__rk_pid", "__rk_off")
  }
}
