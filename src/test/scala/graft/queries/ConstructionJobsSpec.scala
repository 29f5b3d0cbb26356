package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.JobCount

/** Building the DataFrame of a query that only reads the test tables
  * runs no Spark job: every table read carries its schema, so no
  * footer inference runs before the action. */
class ConstructionJobsSpec extends SparkSpec {

  for (name <- Seq("q_clean_cast", "q_filter_nullcity", "q_rebase15",
      "q_daily_sums", "q_export_frame", "q_dissolve")) {
    test(s"$name builds its DataFrame without starting a job") {
      val (df, jobs) = JobCount.of(spark.sparkContext) {
        SparkEntry.queries(name)(spark, sf0001)
      }
      assert(df.columns.nonEmpty)
      assert(jobs === 0)
    }
  }
}
