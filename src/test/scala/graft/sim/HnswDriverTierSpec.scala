package graft.sim

import graft.SparkSpec
import graft.ops.Tier

/** The HNSW search driver tier (queries + edges collected under the
  * bounds, descent replayed locally) must be row-identical to the
  * distributed hop loop: same visited set with the same quantized
  * icos, same final frontier, same top-10 — for the greedy search and
  * for every beam width of the ef sweep. */
class HnswDriverTierSpec extends SparkSpec {

  private def fixture() = {
    val emb = graft.tables.Tables.embeddings(spark, sf0001)
    val base = graft.ops.SideCache.persist(Hnsw.withLevels(emb))
    val gRoot = Hnsw.ensureGraph(spark, emb, sf0001)
    val adjs = (0 to Hnsw.MaxLevel).map(l =>
      graft.ops.SideCache.persist(spark.read.parquet(s"$gRoot/e$l")))
    (base, adjs)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("greedy search: driver tier equals the distributed loop") {
    val (base, adjs) = fixture()
    val ((vis, fin, top), chosen) = Tier.scoped(forceDistributed = false) {
      Hnsw.search(base, adjs)
    }
    assert(chosen.nonEmpty && chosen.forall(_.driver), "driver tier at test scale")
    val ((dVis, dFin, dTop), _) = Tier.scoped(forceDistributed = true) {
      Hnsw.search(base, adjs)
    }
    assert(rows(vis) == rows(dVis))
    assert(rows(fin) == rows(dFin))
    assert(rows(top) == rows(dTop))
    graft.ops.SideCache.releaseAll()
  }

  test("beam sweep: driver tier equals the distributed loop per ef") {
    val (base, adjs) = fixture()
    val efs = Seq(1, 2, 4, 8)
    val ((vis, fin), chosen) = Tier.scoped(forceDistributed = false) {
      Hnsw.beamSearch(base, adjs, efs)
    }
    assert(chosen.nonEmpty && chosen.forall(_.driver), "driver tier at test scale")
    val ((dVis, dFin), _) = Tier.scoped(forceDistributed = true) {
      Hnsw.beamSearch(base, adjs, efs)
    }
    assert(rows(vis) == rows(dVis))
    assert(rows(fin) == rows(dFin))
    graft.ops.SideCache.releaseAll()
  }
}
