package graft.sim

import graft.{SparkEntry, SparkSpec}
import graft.tables.Tables

/** q_ann_serve: two-stage retrieval answered from the PERSISTED
  * IVF×PQ index must be bit-equal to the in-memory build
  * (ivfPqRerank with identical parameters), and the serve plan must
  * genuinely scan the stored index — the build-once/serve-many
  * roundtrip, not a recompute wearing a new name. */
class AnnServeSpec extends SparkSpec {

  test("serve-from-stored-index bit-equals the in-memory ivfPqRerank") {
    val served = SparkEntry.queries("q_ann_serve")(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.toString)
    val mem = Similarity.ivfPqRerank(Tables.embeddings(spark, sf0001),
        queryMod = 50L, kCand = 100, k = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(served.nonEmpty)
    assert(served.toSeq == mem.toSeq,
      "stored-index serving diverged from the in-memory build")
  }

  test("the serve plan scans the stored codes table WITH dynamic partition pruning") {
    val served = SparkEntry.queries("q_ann_serve")(spark, sf0001)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_annix_full"),
      "executed plan must contain a FileScan over the stored index")
    // the broadcast probe list must reach the bucket-partitioned codes
    // scan as a DYNAMIC partition filter — at scale this is what turns
    // "scan the whole codes table" into "read only the nProbe bucket
    // directories each query batch touches"
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "codes scan must carry a dynamic partition-pruning filter")
  }

  test("q_ann_upsert: segments are isolated, idempotent, and complete") {
    import spark.implicits._
    val first = SparkEntry.queries("q_ann_upsert")(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(first.nonEmpty)
    // idempotent: a re-run (fresh overwrite of both segments) is bit-equal
    val second = SparkEntry.queries("q_ann_upsert")(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(first.toSeq == second.toSeq, "upsert must be idempotent")
    // the serve plan reads the delta segment
    val plan = SparkEntry.queries("q_ann_upsert")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes_delta"))
    // segment isolation + completeness: base holds exactly the
    // existing vectors, delta exactly the delta, no overlap
    val root = graft.ops.FixtureStore.root("annix_split9", sf0001)
    val base = spark.read.parquet(s"$root/codes").select("vec_id")
      .as[Long].collect().toSet
    val delta = spark.read.parquet(s"$root/codes_delta").select("vec_id")
      .as[Long].collect().toSet
    val all = Tables.embeddings(spark, sf0001).select("vec_id")
      .as[Long].collect().toSet
    assert(base === all.filter(_ % 9 != 0))
    assert(delta === all.filter(_ % 9 == 0))
    assert((base & delta).isEmpty)
  }

  test("upsert derives m from the stored codes shape (non-default m base)") {
    import org.apache.spark.sql.functions.col
    // regression: a hardcoded m = 8 in ivfPqUpsertDelta silently
    // mis-encoded deltas for any base built with m != 8. Build a base
    // with m = 4, upsert a delta, and demand the two-segment index be
    // byte-identical to single-shot indexing of the full corpus.
    // The base is built over the FULL corpus at m = 4, then a subset
    // re-arrives as a delta: with the stored (frozen) quantizers the
    // delta rows must re-encode bit-identical to the codes the base
    // already holds for the same vec_ids — true iff upsert inherits
    // the base's m (and centroids/codebook) rather than assuming 8.
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_m4"
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.ivfPqIndexWrite(emb, s"$root/seg", m = 4)
    Similarity.ivfPqUpsertDelta(emb.filter(col("vec_id") % 9 === 0),
      s"$root/seg")
    def codesOf(p: String) = spark.read.parquet(p)
      .select("vec_id", "cid", "codes").collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong,
        r.getSeq[Any](2).toList)).sortBy(_._1).toSeq
    val delta = codesOf(s"$root/seg/codes_delta")
    val baseById = codesOf(s"$root/seg/codes").map(r => r._1 -> r).toMap
    assert(delta.nonEmpty && delta.forall(_._3.size == 4),
      "delta rows must carry the base's m = 4 code width")
    assert(delta.forall(r => baseById(r._1) === r),
      "delta re-encoding must be bit-equal to the m = 4 base rows")
  }

  test("the stored layout carries a meta table; shape-mismatched reads fail loudly") {
    import org.apache.spark.sql.functions.col
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_meta"
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.ivfPqIndexWrite(emb, s"$root/m4", m = 4)
    Similarity.ivfPqIndexWrite(emb, s"$root/m8", m = 8)
    // the meta table is the layout authority: one row, the exact shape
    val meta = Similarity.readIndexMeta(spark, s"$root/m4")
    assert(meta.m === 4)
    assert(meta.format_version === Similarity.IndexFormatVersion)
    assert(meta.dim === Similarity.Dim)
    // a segment encoded against a DIFFERENT index shape (here: m=8
    // codes smuggled under an m=4 base — the mixed-generation mistake)
    // must fail loudly on first touch, not silently score garbage ADC.
    // r19: the guard moved from a per-segment width-probe job at open
    // into the vec_pq_adc kernel itself (one compare per row, zero
    // scheduled jobs) — the failure now surfaces at the first action.
    spark.read.parquet(s"$root/m8/codes")
      .write.mode("overwrite").parquet(s"$root/m4/codes_bad")
    val e = intercept[Throwable] {
      Similarity.ivfPqServeStored(emb, s"$root/m4", queryMod = 50L,
        kCand = 100, k = 10, segments = Seq("codes", "codes_bad")).count()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("different index shape")))
    // a delta against a base whose meta is missing (pre-v2 layout or
    // not an index at all) also fails loudly rather than inferring
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqUpsertDelta(emb.filter(col("vec_id") % 9 === 0),
        s"$root/nonexistent")
    }
    assert(e2.getMessage.contains("meta"))
  }

  test("q_ann_merge: merged segment bit-equals the two-segment serve; layout + DPP intact") {
    import spark.implicits._
    val merged = SparkEntry.queries("q_ann_merge")(spark, sf0001)
    val got = merged.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got.nonEmpty)
    // bit-equality with the two-segment serve over the same index
    val root = graft.ops.FixtureStore.root("annix_split9", sf0001)
    val two = Similarity.ivfPqServeStored(
        Tables.embeddings(spark, sf0001), root, queryMod = 50L,
        kCand = 100, k = 10, segments = Seq("codes", "codes_delta"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got === two, "merged serve diverged from the segment parts")
    // the merge preserved every row and the bucket layout
    def ids(p: String) = spark.read.parquet(s"$root/$p")
      .select("vec_id").as[Long].collect().toSeq
    val base = ids("codes"); val delta = ids("codes_delta")
    val all = ids("codes_all")
    assert(all.size === base.size + delta.size)
    assert(all.toSet === (base ++ delta).toSet)
    val dirs = new java.io.File(s"$root/codes_all")
      .listFiles().count(_.getName.startsWith("cid="))
    assert(dirs > 1, "merged segment lost its cid partitioning")
    // the serve plan reads ONLY the merged segment, with DPP
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("codes_all"))
    assert(!plan.contains("codes_delta"),
      "merged serve must not scan the source segments")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "merged-segment serve lost dynamic partition pruning")
    // a foreign-shape segment can never be absorbed
    val m4root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_meta/m4"
    if (new java.io.File(s"$m4root/codes").exists()) {
      spark.read.parquet(s"$m4root/codes").write.mode("overwrite")
        .parquet(s"$root/codes_m4")
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfPqMergeSegments(spark, root,
          Seq("codes", "codes_m4"), "codes_bad_all")
      }
      assert(e.getMessage.contains("foreign-shape"))
    }
  }

  test("the stored codes table is bucket-partitioned (one dir per cid)") {
    SparkEntry.queries("q_ann_serve")(spark, sf0001).count()
    val codesDir = new java.io.File(
      s"${graft.ops.FixtureStore.root("annix_full", sf0001)}/codes")
    val buckets = codesDir.listFiles().filter(_.getName.startsWith("cid="))
    assert(buckets.length > 1,
      "codes table must be partitioned by IVF bucket id")
  }
}
