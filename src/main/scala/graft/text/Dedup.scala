package graft.text

import graft.functions.{F, Poly}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Document deduplication at corpus scale: exact (hash-groupBy),
  * MinHash+LSH (shingle → signature → banded bucket join), and
  * SimHash (single-pass fingerprint + pigeonhole block join).
  *
  * Scale design: nothing here compares all-pairs. Exact dedup is one
  * shuffle on the content hash. MinHash candidates come from a
  * self-join on (band, band-hash) — each bucket holds only colliding
  * docs, so the join output is proportional to true near-duplicates,
  * not |docs|². SimHash pairs join on one of four 16-bit blocks
  * (pigeonhole: hamming ≤ 3 ⇒ at least one block identical).
  *
  * Signatures are computed per document in ONE codegen'd pass
  * ([[graft.functions.MinHashSig]] / [[graft.functions.SimHash64]]):
  * no shingle explosion, no 64-wide aggregation buffers, no shuffle
  * before the bucket join. The hash family is exact integer
  * arithmetic (polynomial / Mersenne-prime permutations), so the
  * DuckDB oracle replicates every bit in SQL — near-dup output is
  * hash-verified cross-engine, not just rows-counted.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One partial+final hash aggregate — the 100 TB-safe baseline. */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** All ordered pairs (a < b) from one bucket's id list — the
    * map-side pair emitter for the bucket-join pattern below. */
  // pair enumeration is the native codegen PairArray expression
  // (graft.functions.PairKernel) — primitive longs end to end; the
  // former Scala UDF boxed every id into a tuple per bucket

  /** What to do with a bucket larger than `maxBucket`. */
  sealed trait OverCap
  object OverCap {
    /** Drop the bucket entirely — df-cap / stop-key semantics: a key
      * shared by that many documents is non-discriminative (the
      * n-gram-Jaccard stop-shingle cap). */
    case object Drop extends OverCap
    /** Link every bucket member to the bucket's minimum id ("star"):
      * O(bucket) pairs instead of O(bucket²), full connectivity
      * preserved for clustering, and — for the LSH near-dup case —
      * exact recall on the adversarial input that creates hot buckets
      * in the first place (a boilerplate cluster of near-identical
      * documents all matches its representative). */
    case object Star extends OverCap
  }

  /** Candidate pairs from equal-key buckets WITHOUT a self-join and
    * WITHOUT an unbounded aggregation buffer.
    *
    * One shuffle groups ids per key via [[graft.functions.CappedMinIds]]
    * — a bounded aggregate keeping the `maxBucket` smallest ids plus
    * the true bucket size (O(maxBucket) buffer per key, map-side
    * combining intact), so a hot key (10⁶ identical boilerplate docs)
    * can no longer materialize as one giant `collect_list` row that
    * AQE cannot split. Buckets within the cap emit exact all-pairs
    * map-side (fan-out bounded at maxBucket²/2 per key BEFORE any
    * further shuffle). Over-cap buckets follow `overCap`: dropped
    * (df-cap semantics) or star-linked to the bucket minimum — the
    * star pass re-scans `keyed` against a broadcast of the over-cap
    * keys (at most |keyed|/maxBucket of them, in practice a handful),
    * emitting O(bucket) rows map-side with no shuffle. */
  def bucketPairs(keyed: DataFrame, keyCols: Seq[String], idCol: String,
                  maxBucket: Int, overCap: OverCap = OverCap.Drop): DataFrame = {
    val ks = keyCols.map(col)
    val agged0 = keyed.groupBy(ks: _*)
      .agg(F.cappedMinIds(col(idCol), maxBucket).as("bk"))
    // Star consumes the aggregate twice (pair emission + the tiny
    // over-cap broadcast job); persist so the shuffle+agg runs once.
    val agged = overCap match {
      case OverCap.Star =>
        graft.ops.SideCache.persist(agged0)
      case _ => agged0
    }
    val small = agged
      .filter(col("bk.total").between(2, maxBucket))
      .select(explode(F.pairArray(col("bk.ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    overCap match {
      case OverCap.Drop => small
      case OverCap.Star =>
        val over = agged.filter(col("bk.total") > maxBucket)
          .select(ks :+ element_at(col("bk.ids"), 1).as("rep"): _*)
        val star = keyed.join(broadcast(over), keyCols)
          .filter(col(idCol) =!= col("rep"))
          .select(col("rep").as("id_a"), col(idCol).as("id_b"))
        small.union(star)
    }
  }

  // ---- MinHash ----

  val NumHashes = 64
  val Bands = 16          // 16 bands x 4 rows
  val RowsPerBand = 4
  val MersennePrime: Long = Poly.Mod

  /** Fixed permutation parameters (seed 42, deterministic per run).
    * Public: the DuckDB oracle embeds the same constants. */
  val (permA, permB): (Seq[Long], Seq[Long]) = {
    val rnd = new Random(42)
    val a = Array.fill(NumHashes)(math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1)
    val b = Array.fill(NumHashes)(math.abs(rnd.nextLong()) % MersennePrime)
    (a.toSeq, b.toSeq)
  }

  /** 64-wide MinHash signature over distinct word-3-gram shingles as
    * one `array<long>` column — a single codegen'd projection per
    * document (see [[graft.functions.MinHashSig]]); zero shuffle. */
  def minhashSignature(docs: DataFrame, id: String, shCol: String): DataFrame =
    docs.select(col(id), F.minhashSig(col(shCol), permA, permB).as("sig"))

  /** Polynomial combine of one band's signature rows:
    * `acc = (acc*131 + sig[i]) mod M` — exact integer arithmetic,
    * replicated verbatim in the oracle SQL. */
  def bandHash(sig: Column, band: Int): Column =
    (0 until RowsPerBand).foldLeft(lit(0L): Column) { (acc, r) =>
      pmod(acc * 131 + element_at(sig, band * RowsPerBand + r + 1), lit(MersennePrime))
    }

  /** (doc_id, band, band_hash) rows — Bands rows per doc, derived from
    * the signature array with built-in (codegen'd) expressions. */
  def bandTable(sig: DataFrame, id: String): DataFrame =
    sig.select(col(id), posexplode(
        array((0 until Bands).map(b => bandHash(col("sig"), b)): _*)))
      .toDF(id, "band", "band_hash")

  /** Candidate pairs from LSH buckets, then exact shingle-Jaccard.
    * Returns (id_a, id_b, jaccard_pct) for pairs ≥ `minJaccardPct`.
    *
    * The shingle table is persisted (memory, spill to disk): it feeds
    * the signature pipeline AND both sides of the verify join. At
    * cluster scale the same pattern applies — persist (or checkpoint)
    * before a self-join, or the whole lineage recomputes per side. */
  def minhashPairs(docs: DataFrame, id: String = "doc_id", text: String = "text",
                   minJaccardPct: Int = 50, maxBucket: Int = 1024): DataFrame = {
    val withSh = graft.ops.SideCache.persist(
      TextFunctions.shingleTable(docs, id, text, 3)
        .filter(size(col("sh")) > 0))
    // persisted: the bounded bucket-pair path scans the band table
    // twice (capped aggregate + over-cap star pass) — without the
    // persist the second scan recomputes every MinHash signature.
    val bands = graft.ops.SideCache.persist(
      bandTable(minhashSignature(withSh, id, "sh"), id))
    // bucket-pair candidates: one shuffle of the band table (instead
    // of a two-sided self-join), pairs emitted map-side per bucket.
    // Band buckets beyond `maxBucket` (a boilerplate cluster — think
    // 10⁶ docs sharing a license header) are star-linked to the
    // bucket minimum instead of exploding O(bucket²): bounded fan-out
    // and bounded aggregation buffers, with the star members still
    // Jaccard-verified below, so precision is unchanged and recall on
    // the all-near-identical hot bucket is exact.
    val cand = bucketPairs(bands, Seq("band", "band_hash"), id, maxBucket, OverCap.Star)
      .distinct()
    val sh = withSh.select(col(id), col("sh"))
    cand
      .join(sh.withColumnsRenamed(Map(id -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sh.withColumnsRenamed(Map(id -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard_pct", floor(col("inter") * 100.0 / col("uni") + 1e-6))
      .filter(col("jaccard_pct") >= minJaccardPct)
      .select("id_a", "id_b", "jaccard_pct")
  }

  // ---- Connected components over near-dup pairs ----

  /** Cluster assignment from a near-dup pair list: each node gets the
    * min doc id of its connected component ("keep one per cluster").
    *
    * Two tiers, like every production dedup pipeline:
    *  - the pair graph is OUTPUT-proportional (near-dup rate × corpus,
    *    not corpus²). When it fits on the driver ([[DriverPairMax]]
    *    edges, [[graft.ops.Tier]]), union-find locally over the one
    *    collect — microseconds of CPU vs O(log diameter) distributed
    *    rounds.
    *  - above the limit, Pregel-style min-label propagation with
    *    pointer jumping (lbl := lbl[lbl] each round ⇒ O(log diameter)
    *    rounds), `localCheckpoint` (cluster: `checkpoint`) per round.
    *    Truncating lineage between rounds is load-bearing: persist
    *    alone leaves the logical plan doubling per iteration.
    *
    * Returns (doc_id, cluster_id) for every node that appears in a
    * pair; singleton docs are their own cluster by definition and are
    * not emitted. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, least, min}
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col(idA), col(idB))
    graft.ops.Tier.rows("dedup.components", p, DriverPairMax) match {
      case Some(rows) =>
        val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keys.toSeq.map(k => (k, find(k))).toDF("doc_id", "cluster_id")
      case None =>
        val cp = p.localCheckpoint()
        val edges = cp.union(cp.select(col(idB), col(idA))).toDF("src", "dst")
          .localCheckpoint()
        var labels = edges.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lbl")).localCheckpoint()
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 50) {
          val nbrMin = edges.join(labels, col("src") === col("id"))
            .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
          val stepped = labels.join(nbrMin, col("id") === col("dst"), "left")
            .select(col("id"), col("lbl").as("old"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("mid"))
          val next = stepped.join(
              stepped.select(col("id").as("jid"), col("mid").as("jlbl")),
              col("mid") === col("jid"), "left")
            .select(col("id"),
              least(col("mid"), coalesce(col("jlbl"), col("mid"))).as("lbl"),
              (least(col("mid"), coalesce(col("jlbl"), col("mid"))) < col("old")).as("ch"))
            .localCheckpoint()
          changed = next.filter(col("ch")).count()
          labels = next.select("id", "lbl")
          iter += 1
        }
        labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    }
  }

  /** Edge bound of [[connectedComponents]]' driver tier: at 2^20
    * edges the collected rows plus the union-find map hold a few
    * hundred MB of driver heap. */
  private val DriverPairMax = 1 << 20

  // ---- SimHash ----

  /** 62-bit SimHash fingerprint over tokens, one codegen'd pass per
    * document (no explode, no aggregation — see
    * [[graft.functions.SimHash64]] for the bit layout). */
  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond")
    * — the PUBLISHED at-scale alternative to [[connectedComponents]]'s
    * label propagation: O(log² n) rounds with per-round cost
    * proportional to the CURRENT edge set (which only shrinks toward
    * one star per component), no per-node label table to join every
    * round, and no driver tier at all.
    *
    *  - large-star: every node hooks its LARGER neighbors to the min
    *    of its neighborhood (keeps the graph connected, strictly
    *    reduces large-id fan-in);
    *  - small-star: edges oriented high→low, every center hooks its
    *    smaller neighbors (and itself) to the neighborhood min —
    *    flattening chains into stars.
    *
    * Each phase is one groupBy(min) + one join on the edge list;
    * rounds `localCheckpoint` (cluster: checkpoint) to keep lineage
    * flat. Fixpoint = every component is a star rooted at its min id,
    * so the result is IDENTICAL to [[connectedComponents]] (min id of
    * component), which the spec asserts and the shared oracle
    * hash-verifies.
    *
    * Convergence is detected STRUCTURALLY on the round's own output
    * (round-10 trim — saves the whole final no-op round the previous
    * changed-since-last-round signature needed): a canon'd edge set
    * is the fixpoint iff it IS a disjoint min-rooted star forest,
    * i.e. every `d` appears exactly once (one parent per member) and
    * no `s` appears as a `d` (centers are roots; with canon's s < d
    * orientation the center is then automatically its star's min,
    * and d-uniqueness + flatness make the stars node-disjoint). The
    * d-uniqueness half piggybacks on the round-materializing
    * aggregate; the s∩d≠∅ semi-join only runs when d-uniqueness
    * already holds (at most the last round or two) over the
    * just-materialized checkpoint. Exact — no hash-collision caveat.
    * (Running MULTIPLE rounds per check was tried and rejected twice:
    * with only batch-end checks a batch of b overshoots up to 2b-1
    * rounds; with lazy-checkpointed inner rounds the next round's
    * DOUBLE scan of its input races to compute the unmaterialized
    * checkpoint and duplicates the inner round's work.)
    *
    * Toy-scale trim, scale-neutral (round-8 verdict: the query was
    * 7.6% of the whole bench, all stage scheduling): the two star
    * phases are FUSED — large-star output feeds small-star directly,
    * with one canon (dedup + self-loop filter) and one lazy
    * checkpoint per round instead of two. Duplicates between the
    * phases are harmless under min() and the round-end canon removes
    * them, so this halves the per-round materialization count
    * without changing the fixpoint.
    *
    * Toy-scale cost note: at sf0.1 (1.4k edges) the query still
    * spends most of its time in per-stage scheduling — the price of
    * the no-driver-tier design at a scale where
    * [[connectedComponents]]'s union-find tier finishes in 1 s. That
    * inversion is exactly why connectedComponents keeps the driver
    * tier below 2²⁰ edges; the star rounds amortize only when the
    * edge set dwarfs scheduling overhead. */
  def wccStar(pairs: DataFrame, idA: String = "id_a",
              idB: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.functions.{col, greatest, least, min, sum}
    def canon(df: DataFrame): DataFrame = df
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("s"),
        greatest(col("s"), col("d")).as("d"))
      .distinct()
    // Fixpoint ⇔ the edge set IS a disjoint min-rooted star forest:
    // every d has exactly one parent AND no s appears as a d. ONE
    // job: tag each edge endpoint, group by node, fold to three
    // counters — n (Σ d-occurrences = |edges|) vs |distinct d|, plus
    // the s∩d overlap — replacing the former aggregate +
    // conditional semi-join (TWO jobs in the final round) with a
    // single action that also doubles as the round's
    // checkpoint-materialization point. explode, NOT a self-union:
    // a union would scan the not-yet-materialized lazy checkpoint
    // twice in one job and the scans race to compute it (the
    // "Block already exists" duplicate-work pitfall, SURVEY lesson 6).
    def isStarForest(df: DataFrame): Boolean = {
      val r = df.selectExpr(
        "explode(array(struct(s AS x, CAST(1 AS BIGINT) AS es, " +
          "CAST(0 AS BIGINT) AS ed), struct(d AS x, CAST(0 AS BIGINT) " +
          "AS es, CAST(1 AS BIGINT) AS ed))) AS t")
        .select(col("t.x").as("x"), col("t.es").as("es"), col("t.ed").as("ed"))
        .groupBy("x").agg(sum("es").as("ns"), sum("ed").as("nd"))
        .selectExpr("CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS n",
          "COUNT(CASE WHEN nd > 0 THEN 1 END) AS dnodes",
          "COUNT(CASE WHEN ns > 0 AND nd > 0 THEN 1 END) AS overlap")
        .head()
      r.getLong(0) == r.getLong(1) && r.getLong(2) == 0L
    }
    // One fused round: large-star then small-star, ONE canon + ONE
    // lazy checkpoint at the end. Intermediate duplicates/self-loops
    // (the m-union rows) survive until the round-end canon; min() is
    // insensitive to them.
    def round(e: DataFrame): DataFrame = {
      // large-star: center u over bidirectional neighborhood
      val bi = e.select(col("s").as("u"), col("d").as("v"))
        .union(e.select(col("d").as("u"), col("s").as("v")))
      val m = bi.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bi.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("s"), col("m").as("d"))
        .union(m.select(col("u").as("s"), col("m").as("d")))
      // small-star directly on the (possibly duplicated) large-star
      // output: orient high → low, center hooks to neighborhood min
      val ori = ls.select(greatest(col("s"), col("d")).as("u"),
        least(col("s"), col("d")).as("v"))
      val m2 = ori.groupBy("u").agg(min("v").as("m"))
      val ss = ori.join(m2, "u")
        .select(col("v").as("s"), col("m").as("d"))
        .union(m2.select(col("u").as("s"), col("m").as("d")))
      canon(ss).localCheckpoint(false)
    }
    // LAZY checkpoints throughout: the batch-end sig() action is the
    // single materialization point, so a batch of b rounds runs ONE
    // job (the eager default ran a separate job per phase — 3
    // jobs/round of pure stage-scheduling overhead at test scale)
    // ONE materialization seeds everything: the oriented-dedup'd
    // projection (self-loops RETAINED as (x, x) rows) is checkpointed,
    // and both the working edge set (self-loops filtered — cheap reads
    // of the materialized blocks, no second checkpoint) and the
    // self-loop-only node set derive from it. Nodes appearing ONLY as
    // (x, x) thus still get a singleton output row — the public
    // contract — while the (typically expensive — e.g.
    // [[simhashPairs]]) pair source is computed exactly once.
    val canon0 = pairs
      .select(least(col(idA), col(idB)).as("s"),
        greatest(col(idA), col(idB)).as("d"))
      .distinct().localCheckpoint(false)
    val selfLoopNodes = canon0.filter(col("s") === col("d"))
      .select(col("s").as("id")).distinct()
    var edges = canon0.filter(col("s") =!= col("d"))
    val edges0 = edges
    // the input may ALREADY be a star forest (the [[wccMerge]]
    // re-entry fast path: prior labelings re-enter as stars) — check
    // before running any round; the check also materializes canon0
    var converged = isStarForest(edges)
    var iter = 0
    val maxIter = 100
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      edges = round(edges)
      converged = isStarForest(edges)
      iter += 1
      if (sys.env.contains("GRAFT_WCC_DEBUG"))
        println(f"[wcc] round $iter converged=$converged " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // a non-converged graph is NOT a forest of stars — the labeling
    // below would silently assign intermediate roots. Fail loudly
    // instead (the cap is far above the O(log² n) bound in practice).
    require(converged,
      s"wccStar did not converge within $maxIter rounds")
    // fixpoint: every edge is (root = component min, member)
    val nodes = edges0.select(col("s").as("id"))
      .union(edges0.select(col("d").as("id")))
      .union(selfLoopNodes).distinct()
    nodes.join(edges.groupBy(col("d").as("id")).agg(min("s").as("root")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        org.apache.spark.sql.functions.coalesce(col("root"), col("id"))
          .as("cluster_id"))
  }

  /** Incremental connected-components maintenance: merge a batch of
    * NEW edges into an existing component labeling and return the
    * updated labeling — the `q_incremental_join` Δ-algebra on the
    * graph tier (streamed live in `StreamingSpec`).
    *
    * The prior labeling IS a star forest (root = component min), and
    * a star forest preserves connectivity — so re-running [[wccStar]]
    * over (state-as-edges ∪ new edges) yields exactly the components
    * of (all past edges ∪ new edges), at the cost of the CONTRACTED
    * graph (one edge per previously-labeled node, not one per
    * historical edge) plus the batch. Prior singletons (label ==
    * self) have no star edge; the ones the batch doesn't touch are
    * re-appended unchanged via one anti join. Per batch: the wccStar
    * rounds on a mostly-converged graph (components already stars
    * re-converge in O(1) rounds) + two bounded joins — never a
    * recomputation over history.
    *
    * `state` must carry (doc_id, cluster_id); `newEdges` (id_a,
    * id_b). Result: (doc_id, cluster_id), bit-equal to running
    * [[wccStar]] over the full accumulated edge set. */
  def wccMerge(state: DataFrame, newEdges: DataFrame): DataFrame = {
    val stEdges = state.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("cluster_id").as("id_a"), col("doc_id").as("id_b"))
    val merged = wccStar(stEdges.union(
      newEdges.select(col("id_a"), col("id_b"))))
    val untouchedSingles = state.filter(col("cluster_id") === col("doc_id"))
      .join(merged.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    merged.union(untouchedSingles)
  }

  /** Delta-ADMISSION kernel — the serve side of
    * `q_delta_ingest_stored`, factored so the nightly batch query and
    * the live micro-batch admission (`StreamingSpec`'s foreachBatch
    * twin) run the SAME verdict logic: `stored` and `inc` both carry
    * (doc_id, h, simhash); each incoming doc gets
    * (doc_id, verdict ∈ {exact_dup, near_dup, new}, match_id) —
    * exact tier = hash join on stored `h` (min match id), near tier =
    * the 4-block simhash pigeonhole join with hamming ≤ 3, exact
    * taking precedence. Verdicts are PER-DOC independent of the rest
    * of the delta, which is exactly what makes the admission
    * arbitrarily micro-batchable: any partition of the delta,
    * admitted batch-by-batch against the same stored table, composes
    * to the one-shot result (spec-pinned across shuffled batches).
    * Cost ∝ \|inc\|: only delta blocks probe the stored block table.
    * Callers materialize multi-consumer frames first (both inputs are
    * scanned by two tiers plus the verdict spine). */
  def admitDelta(stored: DataFrame, inc: DataFrame): DataFrame = {
    def fourBlocks(df: DataFrame, idAs: String, fpAs: String): DataFrame =
      df.select(col("doc_id"), col("simhash"), posexplode(
          array((0 until 4).map(b =>
            pmod(shiftright(col("simhash"), b * 16), lit(65536L))): _*)))
        .toDF(idAs, fpAs, "block", "block_val")
    val exact = inc.select(col("doc_id"), col("h"))
      .join(stored.select(col("h"), col("doc_id").as("m0")), Seq("h"))
      .groupBy("doc_id").agg(min("m0").as("mx"))
    // candidate pairs may repeat across up to 4 shared blocks; min()
    // is duplicate-insensitive, so no distinct is needed.
    val near = fourBlocks(inc, "i_id", "i_fp")
      .join(fourBlocks(stored, "e_id", "e_fp"), Seq("block", "block_val"))
      .filter(bit_count(col("i_fp").bitwiseXOR(col("e_fp"))) <= 3)
      .groupBy(col("i_id").as("doc_id")).agg(min("e_id").as("mn"))
    inc.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("mx").isNotNull, "exact_dup")
          .when(col("mn").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("mx"), col("mn"), lit(-1L)).as("match_id"))
  }

  def simhash(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id), F.simhash64(TextFunctions.tokens(col(text))).as("simhash"))

  /** Near-dup pairs by hamming distance ≤ `maxHamming` (< 16), using
    * the pigeonhole block join over four 16-bit blocks. */
  /** CONTENT-KEYED stored near-dup pair graph + component labels (the
    * `VersionChain.ensure` precedent): the simhash hamming ≤ 3 pair
    * set and its wccStar component labels, committed once per dataset
    * as a [[graft.ops.FixtureStore]] root. In production this artifact is a
    * byproduct of the dedup pipeline itself — consumers like the
    * split-leakage audit read the EXISTING graph rather than
    * recomputing LSH + O(log² n) WCC rounds per query. Validation on
    * reuse: the store key + both tables' `_SUCCESS` + a footer-only
    * pair count. */
  def ensurePairGraph(spark: org.apache.spark.sql.SparkSession,
                      dir: String): String =
    graft.ops.FixtureStore.ensure("pairs", dir, parts = Seq("pairs", "labels"),
      rows = Some("pairs")) { root =>
      val prs = graft.ops.SideCache.persist(
        simhashPairs(graft.tables.Tables.documents(spark, dir),
          maxHamming = 3).select("id_a", "id_b"))
      prs.count() // materialize at full width: coalesce(1) below would not
      prs.coalesce(1).write.mode("overwrite").parquet(s"$root/pairs")
      wccStar(prs).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/labels")
    }

  def simhashPairs(docs: DataFrame, id: String = "doc_id", text: String = "text",
                   maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    // persisted: the fingerprint table feeds the block table (scanned
    // twice by the bounded bucket-pair path) AND both sides of the
    // hamming verify join — four scans, one simhash computation.
    val fp = graft.ops.SideCache.persist(simhash(docs, id, text))
    val blocks = fp.select(col(id), posexplode(
        array((0 until 4).map(b =>
          pmod(shiftright(col("simhash"), b * 16), lit(65536L))): _*)))
      .toDF(id, "block", "block_val")
    // bucket-pair candidates (one shuffle of the block table), then
    // fingerprints re-joined for the hamming check. Candidate pairs
    // are output-proportional, so the two fp joins touch few rows.
    // Over-cap blocks (identical-fingerprint clusters) star-link to
    // the minimum id — bounded buffers and fan-out, hamming-verified.
    val cand = bucketPairs(blocks, Seq("block", "block_val"), id, maxBucket, OverCap.Star)
      .distinct()
    cand
      .join(fp.select(col(id).as("id_a"), col("simhash").as("fp_a")), Seq("id_a"))
      .join(fp.select(col(id).as("id_b"), col("simhash").as("fp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
