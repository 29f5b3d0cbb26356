package graft.ops

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import org.apache.spark.JobCount
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.storage.StorageLevel

/** The generic FixtureStore contract, on a toy fixture: one parquet
  * part whose footer row count is recorded. */
class FixtureStoreSpec extends SparkSpec {

  private val name = "fxstore_spec"

  /** A fresh dataset key per test, so roots never collide; the toy
    * build counts its runs. */
  private final class Toy(var ok: Boolean = true) {
    val dir = s"/fxstore/${java.util.UUID.randomUUID()}"
    var builds = 0
    def ensure(fingerprint: String = "fp1", also: String => Unit = _ => ()): String =
      FixtureStore.ensureKeyed(fingerprint, name, dir, Seq("part"),
        _ => ok, Some("part")) { root =>
        builds += 1
        also(root)
        spark.range(7).coalesce(1).write.parquet(s"$root/part")
      }
  }

  /** One more row in the toy's part: its footer count reads 8. */
  private def addRow(root: String): Unit =
    spark.range(1).write.mode("append").parquet(s"$root/part")

  private def withToy(body: Toy => Unit): Unit = {
    val toy = new Toy
    try body(toy)
    finally VersionChain.rmTree(new File(FixtureStore.root(name, toy.dir)))
  }

  private def marker(root: String) = new File(root, FixtureStore.Marker)

  test("the root path is <tmpdir>/graft_<name>_<sanitized dir>") {
    assert(FixtureStore.root("verchain", "/data/sf0.01") ===
      s"${System.getProperty("java.io.tmpdir")}/graft_verchain__data_sf0.01")
  }

  test("a hit does not rebuild: the marker is untouched") {
    withToy { toy =>
      val root = toy.ensure()
      val mtime = marker(root).lastModified()
      Thread.sleep(20)
      assert(toy.ensure() === root)
      assert(toy.builds === 1)
      assert(marker(root).lastModified() === mtime)
    }
  }

  test("a torn or foreign marker rebuilds") {
    for (bad <- Seq(
        (root: String) => Files.readString(marker(root).toPath).dropRight(2),
        (_: String) => s"fp1\nother_fixture\n/elsewhere\n7\n",
        (_: String) => "garbage")) {
      withToy { toy =>
        val root = toy.ensure()
        Files.writeString(marker(root).toPath, bad(root))
        toy.ensure()
        assert(toy.builds === 2)
        toy.ensure()
        assert(toy.builds === 2, "the rebuilt marker must hit")
      }
    }
  }

  test("every recorded hit condition is checked: part, predicate, rows") {
    val breaks = Seq[(Toy, String) => Unit](
      (_, root) => new File(root, "part/_SUCCESS").delete(),
      (toy, _) => toy.ok = false,
      (_, root) => addRow(root))
    for (break <- breaks) withToy { toy =>
      val root = toy.ensure()
      break(toy, root)
      toy.ensure()
      assert(toy.builds === 2)
    }
  }

  test("a hit counts rows from the parquet footers: no Spark job") {
    withToy { toy =>
      val root = toy.ensure()
      assert(Files.readString(marker(root).toPath).endsWith("\n7\n"))
      val (_, jobs) = JobCount.of(spark.sparkContext)(toy.ensure())
      assert(jobs === 0)
      assert(toy.builds === 1)
      addRow(root)
      toy.ensure()
      assert(toy.builds === 2, "a changed footer count must rebuild")
    }
  }

  test("a different code fingerprint rebuilds") {
    withToy { toy =>
      toy.ensure("fp1")
      toy.ensure("fp2")
      assert(toy.builds === 2)
      toy.ensure("fp2")
      assert(toy.builds === 2)
    }
  }

  test("an invalid root is cleared before the rebuild: strays are gone") {
    withToy { toy =>
      val root = toy.ensure()
      val stray = new File(root, "livelog/v1")
      stray.mkdirs()
      Files.writeString(new File(stray, "_SUCCESS").toPath, "")
      Files.writeString(marker(root).toPath, "torn")
      toy.ensure()
      assert(toy.builds === 2)
      assert(!new File(root, "livelog").exists())
      assert(new File(root, "part/_SUCCESS").exists())
    }
  }

  test("a build's side tables are released; the caller's stay registered") {
    val s = spark
    import s.implicits._
    val callers = SideCache.persist(spark.range(3).toDF())
    try withToy { toy =>
      var built: Option[org.apache.spark.sql.DataFrame] = None
      val root = toy.ensure(also = { root =>
        spark.range(20).write.parquet(s"$root/data")
        built = Some(SideCache.persist(spark.read.parquet(s"$root/data")))
        built.get.count()
      })
      val live = SideCache.liveSnapshot
      assert(live.exists(_ eq callers))
      assert(callers.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(built.nonEmpty && !live.exists(_ eq built.get))
      // a plain read of the stored path scans files, not a cached copy
      val files = spark.read.parquet(s"$root/data")
        .select(input_file_name()).as[String].collect()
      assert(files.length === 20)
      assert(files.forall(_.nonEmpty))
    } finally SideCache.releaseAll()
  }

  test("the engine fingerprint hashes the compiled classes") {
    assert(FixtureStore.codeFingerprint.matches("[0-9a-f]{64}"))
  }
}
