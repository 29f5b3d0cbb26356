package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{count, desc, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

/** A failed query counts against `success_frac` and contributes no
  * latency sample; it is never timed as a success. The action keeps
  * every query's own work, final sorts included. */
class FailureCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = new File("data/sf0.01").getAbsolutePath
  private val recorded = Expected.read(Paths.get("expected/clearmap.tsv"))
  private val tmp = Files.createDirectories(Paths.get("target/spec-tmp")).toFile
  private var spark: SparkSession = _

  private val throwing: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("q_throws injected")

  override def beforeAll(): Unit = {
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    spark = Main.session(2, tmp.getAbsoluteFile)
  }

  override def afterAll(): Unit = {
    spark.stop()
    def deleteTree(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteTree))
      f.delete()
    }
    deleteTree(tmp)
  }

  private def runner(expected: Map[String, Expected]) =
    new Runner(spark, data, graft.SparkEntry.queries + ("q_throws" -> throwing), expected)

  test("a throwing query is counted as failed and gives no sample") {
    val r = runner(recorded)
    val runs = (0 until 2).flatMap(p => r.runPass(Seq("q_clean_cast", "q_throws"), 7, p))
    val tally = Tally(runs, runs)
    assert(tally.attempted == 4)
    assert(tally.failures.map(_.qp).sorted == Seq("q_throws#0", "q_throws#1"))
    assert(tally.failures.forall(_.error.exists(_.startsWith("IllegalStateException"))))
    assert(tally.samplesMs.length == 2)
    assert(tally.successFrac == 0.5)
  }

  test("an output that differs from the recorded one is a failure") {
    val wrong = recorded.updated("q_clean_cast", recorded("q_clean_cast").copy(hash = "12345"))
    val runs = runner(wrong).runPass(Seq("q_clean_cast"), 7, 0)
    val tally = Tally(runs, runs)
    assert(tally.failures.length == 1)
    assert(tally.failures.head.error.exists(_.contains("!= expected 12345")))
    assert(tally.samplesMs.isEmpty)
  }

  test("the recorded outputs hold on this commit") {
    val runs = runner(recorded).runPass(Workloads.all("clearmap"), 7, 0)
    assert(runs.filterNot(_.ok).map(r => s"${r.qp}: ${r.error}").isEmpty)
  }

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.length

  test("an aggregate over a sort drops the sort; the action does not") {
    val sorted = spark.range(1000).toDF("id").orderBy(desc("id"))
    assert(sorts(sorted.agg(count(lit(1)))) == 0)
    assert(sorts(Action.hashed(sorted)) == 1)
    assert(Action.run(Action.hashed(sorted))._1 == 1000)
  }

  test("the action keeps every sort of each clearmap query's own plan") {
    for (name <- Workloads.all("clearmap")) {
      val df = graft.SparkEntry.queries(name)(spark, data)
      try assert(sorts(Action.hashed(df)) == sorts(df), name)
      finally {
        graft.ops.SideCache.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }
}
