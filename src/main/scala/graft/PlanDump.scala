package graft

/** Plan dump: write `.explain("formatted")` for named queries to files.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name> [<name> ...]
  * Writes <outDir>/<name>_<suffix>.txt per query (e.g. suffix "before"/
  * "after" for the optimization-round plan evidence). Building the
  * DataFrame is enough — `queryExecution.explainString` plans without
  * executing, so this is cheap even at large SFs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = Runner.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.filterNot(SparkEntry.queries.contains)
      .foreach(name => System.err.println(s"[plandump] $name FAILED: unknown query"))
    Runner.eachQuery(spark, "plandump", Some(names.toSet)) { (name, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
