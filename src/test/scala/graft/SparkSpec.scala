package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Four cores whatever the host: specs that count partitions or
    * shuffle outputs see the same layout everywhere. */
  lazy val session: SparkSession = Runner.session(4)
}
