package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session policy and the one per-query loop: `Bench`,
  * `Verify`, `PlanDump` and the test suites all build their session and
  * walk the registry through here. */
object Runner {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with shuffle partitions = cores, a UTC session clock
    * (`Tables.events` rebuilds its timestamps in UTC), the GraftLake
    * extensions, no UI and WARN logging. */
  def session(cores: Int = Runner.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.io.GraftLakeExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on every registered query named in `only` (all of them
    * when None). A query whose body throws is reported on stderr as
    * `[tag] name FAILED: cause`; after every query, failed or not, its
    * side tables and cached frames are released, so each query runs
    * independently and none leaves persisted blocks behind. Returns the
    * names of the queries that failed. */
  def eachQuery(spark: SparkSession, tag: String, only: Option[Set[String]])
               (body: (String, (SparkSession, String) => DataFrame) => Unit): Seq[String] =
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try { body(name, fn); None }
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name FAILED: $e")
          Some(name)
        } finally {
          graft.ops.SideCache.releaseAll()
          spark.catalog.clearCache()
        }
      }
}
