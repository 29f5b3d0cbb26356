package graft.sim

import graft.{SparkEntry, SparkSpec}
import graft.tables.Tables
import org.apache.spark.sql.functions.col

/** q_ann_delete: tombstoned vectors must be unretrievable from BOTH
  * deletion tiers (serve-time mask and segment compaction), the
  * compaction must drop exactly the tombstone set into new `_live`
  * segments, and the ORIGINAL segments must be untouched — the
  * crash-safe swap contract. */
class AnnDeleteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = SparkEntry.queries("q_ann_delete")(spark, sf0001)
    .collect().toSeq
  private lazy val root = graft.ops.FixtureStore.root("annix_split9", sf0001)

  test("a deleted vector is never served, on either tier") {
    val served = rows.filter(r => r.getString(0).startsWith("serve_"))
    assert(served.nonEmpty)
    val offenders = served.filter(_.getLong(3) % 13 == 0)
    assert(offenders.isEmpty,
      s"tombstoned vec_ids served: ${offenders.take(5)}")
    // and the deletion is non-vacuous: the masked top-k differs from
    // an unmasked serve of the same segments
    val unmasked = Similarity.ivfPqServeStored(
        Tables.embeddings(spark, sf0001), root, queryMod = 50L,
        kCand = 100, k = 10, segments = Seq("codes", "codes_delta"))
      .collect().map(_.toSeq).toSet
    val masked = rows.filter(_.getString(0) == "serve_masked")
      .map(r => Seq(r.get(2), r.get(3), r.get(4), r.get(5))).toSet
    assert(masked != unmasked, "deletion changed no top-k list")
  }

  test("both tiers serve identical survivor rankings") {
    def tier(p: String) = rows.filter(_.getString(0) == p)
      .map(r => (r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5)))
      .sorted
    assert(tier("serve_masked") === tier("serve_compact"))
  }

  test("compaction drops exactly the tombstones; originals untouched") {
    rows // force the query (writes all segments)
    val del = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 13 === 0)
      .select("vec_id").as[Long].collect().toSet
    for (seg <- Seq("codes", "codes_delta")) {
      val liveSeg = Similarity.liveSegments(spark, root, Seq(seg)).head
      assert(liveSeg != seg, s"$seg was never compacted (no manifest entry)")
      val before = spark.read.parquet(s"$root/$seg")
        .select("vec_id").as[Long].collect().toSet
      val live = spark.read.parquet(s"$root/$liveSeg")
        .select("vec_id").as[Long].collect().toSet
      // base-segment isolation: the original still holds its
      // tombstoned rows (only the _live generation changed)
      assert((before & del).nonEmpty, s"$seg lost rows in place")
      assert(live === before -- del, s"$liveSeg is not before \\ del")
    }
    // audit rows agree with the stored segments
    val audits = rows.filter(_.getString(0) == "audit")
    assert(audits.size === 2)
    audits.foreach { a =>
      assert(a.getLong(6) - a.getLong(7) === a.getLong(8),
        s"${a.getString(1)}: n_before - n_dropped != n_after")
      assert(a.getLong(7) > 0, s"${a.getString(1)}: vacuous deletion")
    }
  }

  test("the compacted segments keep bucket partitioning (DPP survives)") {
    rows
    val liveSegs =
      Similarity.liveSegments(spark, root, Seq("codes", "codes_delta"))
    val dir = new java.io.File(s"$root/${liveSegs.head}")
    assert(dir.listFiles().count(_.getName.startsWith("cid=")) > 1,
      "live segment lost its cid partitioning")
    val plan = Similarity.ivfPqServeStored(
        Tables.embeddings(spark, sf0001), root, queryMod = 50L,
        kCand = 100, k = 10, segments = liveSegs)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "live-segment serve lost dynamic partition pruning")
  }

  test("the livelog flip is crash-safe: an uncommitted manifest is invisible, repeats retire old generations") {
    rows
    // a second compaction flips to generation 2 and retires nothing
    // newer than gen-2; the previous live generation must survive the
    // flip (that is the crash-safety window)
    val del = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 13 === 0).select("vec_id")
    val gBase = Similarity.liveSegments(spark, root, Seq("codes")).head
      .stripPrefix("codes_live_g").toInt
    val gNext = Similarity.ivfPqCompactDelete(spark, root, del,
      Seq("codes", "codes_delta"))
    assert(gNext.forall(_.endsWith(s"_g${gBase + 1}")))
    assert(new java.io.File(s"$root/codes_live_g$gBase").exists(),
      "previous live generation must survive until the NEXT commit")
    // the next flip retires the gBase generation
    val gNext2 = Similarity.ivfPqCompactDelete(spark, root, del,
      Seq("codes", "codes_delta"))
    assert(gNext2.forall(_.endsWith(s"_g${gBase + 2}")))
    assert(!new java.io.File(s"$root/codes_live_g$gBase").exists(),
      "generations two flips old must be retired")
    assert(new java.io.File(s"$root/codes_live_g${gBase + 1}").exists())
    // simulate a crash mid-flip: an orphan manifest directory WITHOUT
    // its _SUCCESS marker must not capture readers
    val orphan = new java.io.File(s"$root/livelog/v${gBase + 9}")
    orphan.mkdirs()
    val resolved = Similarity.liveSegments(spark, root, Seq("codes"))
    assert(resolved === Seq(s"codes_live_g${gBase + 2}"),
      s"readers followed an uncommitted manifest: $resolved")
    orphan.delete()
    // and a segment never compacted resolves to itself
    assert(Similarity.liveSegments(spark, root, Seq("cents")) ===
      Seq("cents"))
  }

  test("partial-segment compaction carries forward, never resurrects") {
    rows
    // compaction is CUMULATIVE (it rewrites from the current live
    // generation), so this test's foreign %17 tombstones must never
    // touch the shared content-keyed root other consumers serve from —
    // it runs on a file-level copy (the q_vacuum isolation convention)
    val copy =
      s"${System.getProperty("java.io.tmpdir")}/graft_anndel_partial"
    graft.ops.VersionChain.copyTo(root, copy)
    val root2 = copy
    val del13 = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 13 === 0).select("vec_id")
    // establish a full flip so both segments have live generations
    Similarity.ivfPqCompactDelete(spark, root2, del13,
      Seq("codes", "codes_delta"))
    val deltaLiveBefore =
      Similarity.liveSegments(spark, root2, Seq("codes_delta")).head
    // now compact ONLY `codes`, with a DIFFERENT tombstone set — the
    // pre-fix code rebuilt from base segments and wholly replaced the
    // manifest, so this call used to (a) resurrect the %13 deletions
    // inside codes and (b) drop codes_delta's live pointer entirely
    val del17 = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 17 === 1).select("vec_id")
    Similarity.ivfPqCompactDelete(spark, root2, del17, Seq("codes"))
    val resolved = Similarity.liveSegments(
      spark, root2, Seq("codes", "codes_delta"))
    // carry-forward: the omitted segment keeps its committed pointer
    assert(resolved(1) === deltaLiveBefore,
      s"codes_delta fell back to ${resolved(1)} — manifest not cumulative")
    // no resurrection: BOTH delete sets stay erased from the live codes
    val liveIds = spark.read.parquet(s"$root2/${resolved.head}")
      .select("vec_id").as[Long].collect().toSet
    assert(!liveIds.exists(_ % 13 == 0),
      "earlier tombstones resurrected by a later partial compaction")
    assert(!liveIds.exists(_ % 17 == 1), "this call's tombstones survive")
    // refcount-aware retirement: two MORE partial flips on `codes`
    // retire old codes generations but must never sweep the
    // still-referenced carried-forward codes_delta generation
    Similarity.ivfPqCompactDelete(spark, root2, del17, Seq("codes"))
    Similarity.ivfPqCompactDelete(spark, root2, del17, Seq("codes"))
    assert(new java.io.File(s"$root2/$deltaLiveBefore").exists(),
      "retirement swept a generation the manifest still references")
    assert(Similarity.liveSegments(spark, root2, Seq("codes_delta")).head
      === deltaLiveBefore)
    graft.ops.VersionChain.rmTree(new java.io.File(root2))
  }

  test("a rebuilt stored index serves its own base, not the previous " +
    "build's compacted generations") {
    val emb = Tables.embeddings(spark, sf0001)
    val root = Similarity.ensureStoredIndex(spark, emb, sf0001, split9 = false)
    Similarity.ivfPqCompactDelete(spark, root,
      emb.filter(col("vec_id") % 11 === 0).select("vec_id"), Seq("codes"))
    assert(Similarity.liveSegments(spark, root, Seq("codes")) !== Seq("codes"))
    // tear the fixture marker: the next ensure must rebuild
    val markers = new java.io.File(root).listFiles().toSeq
      .filter(f => f.getName.startsWith("_") && f.getName.endsWith("_OK"))
    assert(markers.nonEmpty, "the stored index has no fixture marker")
    markers.foreach(m => java.nio.file.Files.writeString(m.toPath, "torn"))
    assert(Similarity.ensureStoredIndex(spark, emb, sf0001, split9 = false)
      === root)
    assert(Similarity.liveSegments(spark, root, Seq("codes")) === Seq("codes"),
      "readers still resolve a generation compacted from the previous build")
  }
}
