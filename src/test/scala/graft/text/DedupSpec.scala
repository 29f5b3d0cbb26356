package graft.text

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf0001).cache()

  test("exact dedup groups by content hash and keeps min id") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df).orderBy("keeper_id")
      .select("keeper_id", "n_dups").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L), (3L, 1L)))
  }

  test("bucketPairs equals the self-join formulation and honors the cap") {
    val keyed = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),      // bucket of 3 -> 3 pairs
      (20L, 4L), (20L, 5L),                 // bucket of 2 -> 1 pair
      (30L, 6L),                            // singleton -> none
      (40L, 1L), (40L, 2L), (40L, 3L), (40L, 4L)) // over cap 3 -> dropped
      .toDF("k", "id")
    val got = Dedup.bucketPairs(keyed, Seq("k"), "id", maxBucket = 3)
      .as[(Long, Long)].collect().sorted
    val selfJoin = keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .join(keyed.groupBy("k").count().filter(col("count") <= 3), Seq("k"))
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().sorted
    assert(got === selfJoin)
    assert(got === Array((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("connectedComponents: driver union-find and distributed propagation agree") {
    // two chains and a triangle: {1-2-3-4}, {10-11}, {20-21-22 cyclic}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().sorted
    val (dist, _) = graft.ops.Tier.scoped(forceDistributed = true) {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().sorted
    }
    val expect = Array(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(local === expect)
    assert(dist === expect)
  }

  test("wccStar equals union-find on chains, cycles, and a random graph") {
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val star = Dedup.wccStar(pairs).as[(Long, Long)].collect().sorted
    val expect = Array(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(star === expect)
    // a long path (worst case for star-contraction round count) plus
    // seeded random edges; must match the union-find tier exactly
    val rnd = new scala.util.Random(7)
    val path = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val rand = Seq.fill(60)((rnd.nextLong(200), rnd.nextLong(200)))
      .filter(p => p._1 != p._2)
    val g = (path ++ rand).toDF("id_a", "id_b")
    val a = Dedup.wccStar(g).as[(Long, Long)].collect().sorted
    val b = Dedup.connectedComponents(g).as[(Long, Long)].collect().sorted
    assert(a === b)
  }

  test("wccStar/wccMerge survive an empty edge set (SUM-over-zero-rows NULL)") {
    // regression: isStarForest's Σnd over an empty grouped relation is
    // NULL; without COALESCE the fold NPEs. Reachable via wccMerge
    // when the state is all singletons and the batch adds no pairs.
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.wccStar(empty).count() === 0L)
    val singles = Seq(1L -> 1L, 2L -> 2L).toDF("doc_id", "cluster_id")
    val merged = Dedup.wccMerge(singles, empty)
      .as[(Long, Long)].collect().sorted
    assert(merged === Array(1L -> 1L, 2L -> 2L))
  }

  test("q_containment finds every planted excerpt that symmetric Jaccard would miss") {
    val rows = graft.SparkEntry.queries("q_containment")(spark, sf0001)
      .select("id_a", "id_b", "cont_pct", "jaccard_pct")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val pairSet = rows.map(r => (r._1, r._2)).toSet
    // every planted excerpt (source % 50 == 0, excerpt at -source-1:
    // the negative namespace is disjoint from real ids, so the pair
    // always orders excerpt-first) long enough to carry 3-gram
    // shingles must surface against its source with high containment
    val planted = rows.filter { case (a, b, _, _) => a == -b - 1 && b % 50 == 0 }
    assert(planted.nonEmpty)
    val sources = graft.tables.Tables.documents(spark, sf0001)
      .filter("doc_id % 50 = 0 AND n_chars >= 40").select("doc_id")
      .as[Long].collect().toSeq
    sources.foreach { s =>
      assert(pairSet((-s - 1, s)), s"excerpt of $s not found")
    }
    planted.foreach { case (a, b, cont, jac) =>
      assert(cont >= 80, s"($a,$b) containment $cont")
    }
    // the reason this operator exists: at least one excerpt pair sits
    // BELOW the 50% Jaccard dedup bar while containment flags it
    assert(planted.exists(_._4 < 50),
      "every excerpt also passed symmetric Jaccard - the planted case is degenerate")
  }

  test("minhash LSH finds the planted near-dup pair (120, 360)") {
    val pairs = Dedup.minhashPairs(docs, minJaccardPct = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((120L, 360L)),
      s"expected (120,360) in $pairs")
    // jaccard verify step: every reported pair must clear the bar
    val jac = Dedup.minhashPairs(docs, minJaccardPct = 50)
      .select("jaccard_pct").as[Long].collect()
    assert(jac.forall(_ >= 50))
  }

  test("minhash estimate tracks exact Jaccard within the 4-sigma band on every candidate") {
    val rows = graft.SparkEntry.queries("q_minhash_est_err")(spark, sf0001)
      .select("id_a", "id_b", "est_pct", "exact_pct", "within_25")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, est, exact, within) =>
      assert(est >= 0 && est <= 100 && exact >= 0 && exact <= 100, s"($a,$b)")
      assert(within, s"($a,$b): est $est vs exact $exact drifted past 25 points")
      assert(math.abs(est - exact) <= 25)
    }
    // LSH candidates are biased toward real near-dups: the estimates
    // must not be degenerate (all zero / all hundred)
    assert(rows.map(_._3).distinct.length > 1 || rows.length < 3)
  }

  test("simhash fingerprints of near-dups are close, distinct docs far") {
    val fp = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(120L), fp(360L)) <= 6,
      s"near-dups should be close, got ${hamming(fp(120L), fp(360L))}")
    // a random non-dup pair should be far
    assert(hamming(fp(0L), fp(1L)) > 10)
  }

  test("simhashPairs returns only pairs within the hamming budget") {
    val out = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("hamming").as[Int].collect()
    assert(out.forall(_ <= 3))
  }

  test("q_edit_distance agrees with an independent token-level DP") {
    val rows = graft.SparkEntry.queries("q_edit_distance")(spark, sf0001)
      .select("id_a", "id_b", "lev", "max_len", "sim_pct")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val texts = graft.tables.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val Mod = 2147483647L
    def tokChars(t: String): Array[Char] =
      t.split(" ", -1).map { w =>
        var h = 0L
        w.foreach(c => h = (h * 131 + c.toLong) % Mod)
        (h % 94 + 33).toChar
      }
    def dp(a: Array[Char], b: Array[Char]): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    rows.foreach { case (a, b, lev, maxLen, sim) =>
      val (ta, tb) = (tokChars(texts(a)), tokChars(texts(b)))
      assert(maxLen === math.max(ta.length, tb.length).toLong, s"($a,$b) len")
      assert(lev === dp(ta, tb).toLong, s"($a,$b) lev")
      assert(sim === math.floor(100.0 * (1.0 - lev.toDouble / maxLen) + 1e-6).toLong
        && sim >= 60L, s"($a,$b) sim")
    }
    // the verify tier must confirm, not merely echo, the candidates:
    // every kept pair is a simhash candidate
    val cand = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(rows.forall(r => cand((r._1, r._2))))
  }

  test("q_delta_ingest: verdicts agree with the standalone dedup components") {
    val out = graft.SparkEntry.queries("q_delta_ingest")(spark, sf0001)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Long)].collect().toSeq
    // cohort: exactly the incoming ids, each with one verdict
    assert(out.map(_._1).toSet ===
      (0L until 500L).filter(_ % 7 == 0).toSet)

    // exact verdicts match q_dedup_normalized's groups: an incoming doc
    // is exact_dup iff its normalized group contains an existing doc
    val nh = graft.tables.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("h"))
      .as[(Long, String)].collect().toSeq
    val byH = nh.groupBy(_._2)
    val exactExp = nh.filter(_._1 % 7 == 0).map { case (id, h) =>
      val exist = byH(h).map(_._1).filter(_ % 7 != 0)
      id -> (if (exist.nonEmpty) Some(exist.min) else None)
    }.toMap
    out.foreach { case (id, v, m) =>
      exactExp(id) match {
        case Some(e) => assert(v == "exact_dup" && m == e, s"doc $id")
        case None => assert(v != "exact_dup", s"doc $id")
      }
    }
    // near verdicts are a subset of the standalone simhash pair set,
    // always pointing at an EXISTING doc
    val pairs = Dedup.simhashPairs(
      graft.tables.Tables.documents(spark, sf0001), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out.filter(_._2 == "near_dup").foreach { case (id, _, m) =>
      assert(m % 7 != 0 && (pairs((m, id)) || pairs((id, m))), s"doc $id -> $m")
    }
    // the near tier and the pass-through both fire on this corpus (the
    // exact tier is exercised per-doc above; this fixture happens to
    // have no cross-cohort byte-exact duplicate, which the per-doc
    // loop verifies rather than assumes)
    assert(out.exists(_._2 == "near_dup") && out.exists(_._2 == "new"))
  }
}
