package graft.ops

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The generic FixtureStore contract, on a toy fixture: one part with a
  * `_SUCCESS` and a recorded row count. */
class FixtureStoreSpec extends AnyFunSuite {

  private val name = "fxstore_spec"

  /** A fresh dataset key per test, so roots never collide; the toy
    * build counts its runs. */
  private final class Toy(var rows: Long = 7L, var ok: Boolean = true) {
    val dir = s"/fxstore/${java.util.UUID.randomUUID()}"
    var builds = 0
    def ensure(fingerprint: String = "fp1"): String =
      FixtureStore.ensureKeyed(fingerprint, name, dir, Seq("part"),
        _ => ok, _ => rows) { root =>
        builds += 1
        val part = new File(root, "part")
        part.mkdirs()
        Files.writeString(new File(part, "_SUCCESS").toPath, "")
      }
  }

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
      (toy, _) => toy.rows = 8L)
    for (break <- breaks) withToy { toy =>
      val root = toy.ensure()
      break(toy, root)
      toy.ensure()
      assert(toy.builds === 2)
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

  test("the engine fingerprint hashes the compiled classes") {
    assert(FixtureStore.codeFingerprint.matches("[0-9a-f]{64}"))
  }
}
