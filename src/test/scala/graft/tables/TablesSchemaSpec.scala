package graft.tables

import graft.SparkSpec
import org.apache.spark.JobCount

/** `Tables` reads with declared schemas: each must equal what footer
  * inference yields on every scale factor, and opening a table must
  * start no Spark job. */
class TablesSchemaSpec extends SparkSpec {

  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => new java.io.File(new java.io.File(sf0001).getParentFile, sf).getPath)

  test("every declared schema equals the footer-inferred one at all three scale factors") {
    for (dir <- dirs) {
      val onDisk = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSet
      assert(Tables.schemas.keySet === onDisk, dir)
      for (t <- Tables.schemas.keys) {
        // the one inference this spec runs: the footers are the reference
        val inferred = spark.read.parquet(Tables.path(dir, t)).schema
        assert(Tables.schemas(t) === inferred, s"$dir/$t")
        assert(Tables.table(spark, dir, t).schema === inferred, s"$dir/$t")
      }
    }
  }

  test("opening a table starts no Spark job") {
    val (_, jobs) = JobCount.of(spark.sparkContext) {
      Tables.schemas.keys.foreach(t => Tables.table(spark, sf0001, t).schema)
      Tables.events(spark, sf0001).schema
    }
    assert(jobs === 0)
  }

  test("a Tables read leaves spark.sql.legacy.parquet.nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    Tables.schemas.keys.foreach(t => Tables.table(spark, sf0001, t))
    assert(Tables.events(spark, sf0001).count() > 0)
    assert(!spark.conf.getAll.contains(key))
  }
}
