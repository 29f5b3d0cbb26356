package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** q_merge_upsert (file-granularity copy-on-write MERGE): the commit
  * must write strictly fewer data files than the base holds; untouched
  * base files must survive into the new version's manifest by VERBATIM
  * name (zero bytes moved); the rewrite's base scan must partition-
  * prune to the touched buckets; the stored CDF must be a LOSSLESS
  * description of the commit — replaying it onto the stored base
  * reproduces the manifest-resolved v1 read bit-for-bit; and the
  * delete-wins precedence must actually bite. */
class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = SparkEntry.queries("q_merge_upsert")(spark, sf0001)
    .collect().toSeq
  private lazy val root = graft.ops.FixtureStore.root("merge", sf0001)
  private lazy val man = {
    rows // force the commit
    MaintenancePipelineQuery.mergeManifest(spark, root)
  }

  private def snap(paths: Seq[String]): Set[(Long, Long, Long)] =
    spark.read.parquet(paths.map(p => s"$root/$p"): _*)
      .select("custkey", "nation", "bal")
      .as[(Long, Long, Long)].collect().toSet

  private def parquetFiles(gen: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/$gen"))
      .filter(_.getName.endsWith(".parquet"))
  }

  test("the commit writes strictly fewer data files than the base holds") {
    man
    val nBase = parquetFiles("gen0").size
    val nWritten = parquetFiles("gen1").size
    assert(nWritten > 0, "vacuous commit")
    assert(nWritten < nBase,
      s"file-granularity COW wrote $nWritten files vs $nBase base files " +
        "— the rewrite is not delta-proportional")
    // and the carry is non-vacuous: most files ride along by reference
    val carried = man.filterNot(_.rewritten)
    assert(carried.size > nWritten,
      "fewer carried than rewritten files — the delta is not localized")
  }

  test("untouched file names survive into the new manifest verbatim") {
    val carried = man.filterNot(_.rewritten)
    assert(carried.nonEmpty)
    carried.foreach { f =>
      assert(f.file.startsWith("gen0/"),
        s"carried entry ${f.file} does not reference the base generation")
      assert(new java.io.File(s"$root/${f.file}").exists(),
        s"carried entry ${f.file} references a missing file")
    }
    // verbatim: the manifest's carried names are exactly the physical
    // gen0 listing for the untouched buckets (gen0 is never rewritten)
    val touched = man.filter(_.rewritten).map(_.bucket).toSet
    val expect = parquetFiles("gen0")
      .map(f => s"gen0/${f.getParentFile.getName}/${f.getName}")
      .filterNot(p => touched.contains(
        p.split("/")(1).stripPrefix("pbucket=").toLong))
      .toSet
    assert(carried.map(_.file).toSet === expect,
      "manifest's carried file names diverge from the gen0 listing")
    // rewritten entries all live in the NEW generation
    man.filter(_.rewritten).foreach(f =>
      assert(f.file.startsWith("gen1/"), s"rewritten ${f.file} not in gen1"))
  }

  test("the rewrite's base scan partition-prunes to the touched buckets") {
    man
    val touchedBase = man.filter(_.rewritten).map(_.bucket).toSet intersect
      parquetFiles("gen0").map(
        _.getParentFile.getName.stripPrefix("pbucket=").toLong).toSet
    val scan = spark.read.parquet(s"$root/gen0")
      .filter(col("pbucket").isin(touchedBase.toSeq: _*))
    // input_file_name reflects post-pruning scanned files (inputFiles
    // does not — it ignores filters)
    val filesRead = scan.select(input_file_name()).distinct().count()
    assert(filesRead === touchedBase.size.toLong,
      s"scan read $filesRead files; pruning should leave ${touchedBase.size}")
    assert(filesRead < parquetFiles("gen0").size.toLong)
  }

  test("replaying the stored CDF onto gen0 reproduces the v1 read exactly") {
    val g0 = snap(Seq("gen0"))
    val v1 = snap(man.map(_.file)) // the manifest-resolved read
    val cdf = spark.read.parquet(s"$root/cdf/v1")
      .select("change_type", "custkey", "nation", "bal")
      .as[(String, Long, Long, Long)].collect().toSeq
    val removedKeys = cdf.filter(_._1 == "remove").map(_._2).toSet
    val updatedKeys = cdf.filter(_._1 == "update_pre").map(_._2).toSet
    val posts = cdf.filter(_._1 == "update_post")
      .map(r => (r._2, r._3, r._4)).toSet
    val inserted = cdf.filter(_._1 == "insert")
      .map(r => (r._2, r._3, r._4)).toSet
    val replayed =
      g0.filterNot(r => removedKeys(r._1) || updatedKeys(r._1)) ++
        posts ++ inserted
    assert(replayed === v1,
      "CDF replay onto the base diverged from the manifest-resolved v1")
    graft.ops.SideCache.releaseAll()
  }

  test("the base generation is untouched; every tier non-vacuous; delete wins") {
    val g0full = spark.read.parquet(s"$root/gen0")
      .select("custkey", "nation", "bal", "bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val v1 = snap(man.map(_.file))
    // the base still holds its deleted and pre-update rows
    assert(g0full.exists(r => r._1 % 13 == 0 && r._4 >= 12))
    // every tier fired
    val byType = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    for (t <- Seq("remove", "update_pre", "update_post", "insert"))
      assert(byType(t) > 0, s"vacuous $t tier")
    assert(byType("update_pre") === byType("update_post"))
    // delete-wins precedence genuinely bit: at least one HOT key
    // matched BOTH the update and the delete predicate, and is gone
    val contested = g0full
      .filter(r => r._1 % 10 == 3 && r._1 % 13 == 0 && r._4 >= 12)
      .map(_._1)
    assert(contested.nonEmpty, "fixture has no contested merge keys")
    contested.foreach { k =>
      assert(!v1.exists(_._1 == k), s"contested key $k survived the MERGE")
    }
    // inserts landed under fresh CONTIGUOUS keys past the base maxkey;
    // updates applied +500
    val maxKey = g0full.map(_._1).max
    val insKeys = v1.map(_._1).filter(_ > maxKey).toSeq.sorted
    assert(insKeys.nonEmpty)
    assert(insKeys === (maxKey + 1 to maxKey + insKeys.size),
      "inserted keys are not contiguous — they would fan out over files")
    val upd = g0full.find(r =>
      r._1 % 10 == 3 && r._1 % 13 != 0 && r._4 >= 12).get
    assert(v1.contains((upd._1, upd._2, upd._3 + 500L)))
    // and the COLD zone is bit-identical between v0 and v1
    val coldBefore = g0full.filter(_._4 < 12).map(r => (r._1, r._2, r._3)).toSet
    val coldAfter = v1.filter { r =>
      g0full.find(_._1 == r._1).exists(_._4 < 12)
    }
    assert(coldAfter === coldBefore, "the MERGE mutated the cold zone")
  }
}
