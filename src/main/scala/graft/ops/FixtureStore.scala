package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Built-once fixtures: one directory per (name, dataset) under
  * `java.io.tmpdir`, built by one builder and served to every later
  * caller, in this JVM or a later one, for as long as its key holds.
  *
  * The key is the fixture name, the dataset dir and [[codeFingerprint]],
  * a hash of the compiled engine: ANY engine code change rebuilds every
  * fixture on its next use, so no builder keeps a version to bump.
  *
  * Commit protocol: the builder writes into the root, then the store
  * writes [[Marker]] LAST (temp file + atomic rename) holding the key
  * and the recorded row count. A hit needs the marker's key, every
  * listed part's `_SUCCESS`, the builder's `valid` predicate and an
  * unchanged row count. Anything else — no marker, a torn or foreign
  * one, a crashed build — removes the whole root before the rebuild,
  * so nothing a previous build or its consumers left in the root
  * (compacted generations, logs, staging) survives into the new one.
  *
  * Roots may be mutated in place after the build (compactions, merge
  * targets, per-run logs); mutators that must not race a rebuild run
  * under [[locked]] on the same root. */
object FixtureStore {

  /** The commit marker. Named `_*_OK` so file-count tooling that
    * tallies fixture builds by marker keeps counting it. */
  val Marker = "_FIXTURE_OK"

  /** Path-safe form of a dataset dir or any other path. */
  def dirKey(path: String): String = path.replaceAll("[^A-Za-z0-9.]+", "_")

  /** The per-dataset directory `name` lives in. */
  def root(name: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${dirKey(dir)}"

  /** SHA-256 over every compiled class (path and bytes, in path order)
    * of the code source holding this object: a classes directory or a
    * jar. Computed once per JVM. */
  lazy val codeFingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(name: String, bytes: Array[Byte]): Unit = {
      md.update(name.getBytes(UTF_8)); md.update(bytes)
    }
    val src = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (Files.isDirectory(src)) {
      val walk = Files.walk(src)
      try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
        .map(p => src.relativize(p).toString -> p).toSeq.sortBy(_._1)
        .foreach { case (rel, p) => add(rel, Files.readAllBytes(p)) }
      finally walk.close()
    } else {
      val jar = new java.util.jar.JarFile(src.toFile)
      try jar.entries().asScala.filter(_.getName.endsWith(".class")).toSeq
        .sortBy(_.getName)
        .foreach(e => add(e.getName, jar.getInputStream(e).readAllBytes()))
      finally jar.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Run `body` holding `root`'s lock — the lock [[ensure]] checks and
    * builds under. */
  def locked[T](root: String)(body: => T): T =
    locks.computeIfAbsent(root, _ => new AnyRef).synchronized(body)

  /** The root of fixture `name` for dataset `dir`, built by `build(root)`
    * unless a valid one is stored.
    *
    * @param parts directories under the root whose `_SUCCESS` a hit needs
    * @param valid any further hit condition (e.g. the commit log holds
    *              exactly the versions the build commits)
    * @param rows  a directory under the root whose row count is recorded
    *              after the build and compared on every hit: the sum of
    *              its parquet footers' counts (all levels, so `pday=`
    *              partitions too), read on the driver with no Spark job */
  def ensure(name: String, dir: String, parts: Seq[String] = Nil,
             valid: String => Boolean = _ => true,
             rows: Option[String] = None)(build: String => Unit): String =
    ensureKeyed(codeFingerprint, name, dir, parts, valid, rows)(build)

  /** Footer-read options over a plain (not Hadoop) configuration,
    * built once: building them per file re-parses the Hadoop config
    * resources, ~8 ms a file. */
  private lazy val footerOptions = org.apache.parquet.ParquetReadOptions
    .builder(new org.apache.parquet.conf.PlainParquetConfiguration()).build()

  /** Rows in every parquet file under `path`, from the footers. */
  private def footerRows(path: String): Long =
    VersionChain.parquetFiles(path).map { f =>
      val file = new org.apache.parquet.io.LocalInputFile(f.toPath)
      val in = file.newStream()
      try org.apache.parquet.hadoop.ParquetFileReader
        .readFooter(file, footerOptions, in).getBlocks.asScala.map(_.getRowCount).sum
      finally in.close()
    }.sum

  private[ops] def ensureKeyed(fingerprint: String, name: String, dir: String,
                               parts: Seq[String], valid: String => Boolean,
                               rows: Option[String])
                              (build: String => Unit): String = {
    val root = this.root(name, dir)
    locked(root) {
      val marker = new File(root, Marker)
      val key = s"$fingerprint\n$name\n$dir\n"
      def count = rows.fold(0L)(d => footerRows(s"$root/$d"))
      // a torn or foreign marker reads as invalid, never throws
      val hit = marker.exists() && scala.util.Try {
        val txt = Files.readString(marker.toPath)
        val recorded = txt.stripPrefix(key).split("\n", -1)
        txt.startsWith(key) && recorded.length == 2 && recorded(1).isEmpty &&
          parts.forall(p => new File(s"$root/$p/_SUCCESS").exists()) &&
          valid(root) && count == recorded(0).toLong
      }.getOrElse(false)
      if (!hit) {
        VersionChain.rmTree(new File(root))
        // a side table left pinned over a stored path would serve later
        // plain reads of it from the cache (input_file_name reads "")
        SideCache.releasingNew(build(root))
        new File(root).mkdirs()
        val tmp = new File(root, s"$Marker.tmp").toPath
        Files.writeString(tmp, s"$key$count\n")
        Files.move(tmp, marker.toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      root
    }
  }
}
