package graft.queries

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relational edges — the iterative
  * join+aggregate pattern (PageRank here) that training-data curation
  * uses for source-authority weighting and link-spam demotion.
  *
  * The reference has no graph surface; this extends the engine the
  * same way the dedup-cluster query does (connected components are
  * the other canonical iterative-graph kernel, `Dedup.scala`).
  *
  * Scale anatomy: the edge EXTRACTION is the expensive part — a
  * fact⋈fact join (lineitem⋈orders on orderkey, one shuffle each,
  * AQE-coalesced) with both dimension hops broadcast — and it
  * aggregates straight down to one row per distinct (src, dst) pair:
  * ≤ |nations|² rows no matter how many line items feed it. The
  * iteration then runs on that collapsed edge table: per round, one
  * broadcast join of ranks⋈outdegree, one edge join, one sum — the
  * standard distributed PageRank shape (ranks stay a DataFrame; at
  * web scale the same plan shuffles on dst instead of broadcasting).
  *
  * Cross-engine determinism: ranks are scaled BIGINTs (10^12 = 1.0),
  * every division is integral (`div` / DuckDB `//` — all operands
  * non-negative, so truncation == floor on both engines), and the
  * per-destination contribution sum is an integer sum — order-free.
  * The WHOLE 3-iteration recurrence is replicated in SQL and
  * hash-verified, not rows-counted.
  */
object GraphQueries {

  private val Scale = 1000000000000L // rank 1.0 == 10^12

  /** PageRank (damping 0.85, 3 rounds) over the nation trade graph:
    * edge src = supplying nation, dst = ordering customer's nation,
    * self-loops dropped. Dangling nodes keep the teleport term only
    * (their mass leaks — the standard simplification, replicated in
    * the oracle). Output: (n_nationkey, n_name, rank_q). */
  /** Directed distinct trade edges (supplying nation → ordering
    * customer's nation, self-loops dropped): fact⋈fact on orderkey,
    * dims broadcast, then an immediate DISTINCT collapse to
    * ≤ |nations|² rows.
    *
    * The collapsed edge table feeds several downstream reuses
    * (outdegree agg + every PageRank iteration's contribution join;
    * all three triangle join legs) — without materialization each
    * reuse re-runs the fact⋈fact extraction (4 full fact scans at
    * 100 TB). Lazy localCheckpoint beats persist here: blocks are
    * reused the same way but the lineage is truncated too, so
    * iterative plans stay flat (measured ~25% faster steady-state).
    * Cluster scale: checkpoint. */
  private[queries] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.table(spark, dir, "lineitem")
    val orders = Tables.table(spark, dir, "orders")
    val customer = Tables.table(spark, dir, "customer")
    val supplier = Tables.table(spark, dir, "supplier")
    lineitem.select("l_orderkey", "l_suppkey")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
  }

  /** @param atScale when true, the rank-side tables flow through
    * SHUFFLE hash joins instead of broadcasts — the web-scale shape
    * where ranks/degrees (one row per node, 10⁹+ nodes) outgrow any
    * broadcast: per round, contributions shuffle on src to meet the
    * edges and on dst to aggregate — the Pregel message-passing plan.
    * The recurrence (and therefore the oracle) is IDENTICAL; only the
    * physical exchange strategy changes, which is the point: the same
    * declarative plan serves both regimes with a hint. */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 3,
      atScale: Boolean = false): DataFrame = {
    val nation = Tables.table(spark, dir, "nation")
    val edges = tradeEdges(spark, dir)
    // node-proportional tables: broadcast below web scale, shuffle above
    def side(df: DataFrame): DataFrame =
      if (atScale) df.hint("shuffle_hash") else broadcast(df)

    val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
    val nTot = nodes.agg(count(lit(1))).scalar()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))

    // r0 = floor(SCALE / N) for every node (nTot is a scalar subquery —
    // one row at any scale)
    var ranks = nodes.withColumn("n", nTot)
      .select(col("node"), expr(s"${Scale}L div n").as("r"))

    for (_ <- 1 to iters) {
      // per-source share = floor(r / outdeg); contribution sum is an
      // integer sum — combine-order free
      val share = ranks.join(side(deg), col("node") === col("src"))
        .select(col("src"), expr("r div outdeg").as("share"))
      val contrib = edges.join(side(share), "src")
        .groupBy("dst").agg(sum("share").as("c"))
      ranks = nodes.join(side(contrib), col("node") === col("dst"), "left")
        .withColumn("n", nTot)
        .select(col("node"),
          (expr(s"(15 * (${Scale}L div n)) div 100") +
            expr("(85 * coalesce(c, 0L)) div 100")).as("r"))
    }

    ranks.join(broadcast(nation), col("node") === col("n_nationkey").cast("long"))
      .select(col("n_nationkey"), col("n_name"), col("r").as("rank_q"))
      .orderBy(col("rank_q").desc, col("n_nationkey"))
  }

  private def pagerankQ(spark: SparkSession, dir: String): DataFrame =
    pagerank(spark, dir)

  private def pagerankScaleQ(spark: SparkSession, dir: String): DataFrame =
    pagerank(spark, dir, atScale = true)

  /** DuckDB twin: the identical integer recurrence, 3 rounds unrolled
    * as CTEs. All operands are non-negative, so DuckDB's floor `//`
    * equals Spark's truncating `div` bit-for-bit. */
  private val pagerankSql: String = {
    def round(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST((15 * ($Scale // (SELECT n FROM nn))) // 100
         |      + (85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, SUM(p.r // d.outdeg) AS c
         |    FROM e JOIN $prev p ON e.src = p.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c ON c.dst = n.node
         |)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
       |    CAST(c.c_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE s.s_nationkey <> c.c_nationkey
       |), nodes AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), nn AS (SELECT COUNT(*) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (
       |  SELECT node, CAST($Scale // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes
       |), ${round(1)}, ${round(2)}, ${round(3)}
       |SELECT na.n_nationkey, na.n_name, r3.r AS rank_q
       |FROM r3 JOIN nation na ON r3.node = CAST(na.n_nationkey AS BIGINT)
       |ORDER BY rank_q DESC, na.n_nationkey""".stripMargin
  }

  /** Per-nation triangle participation counts over the UNDIRECTED
    * trade graph — the other canonical join-based graph kernel
    * (clustering-coefficient numerator; community-density signal for
    * source-authority curation).
    *
    * Shape: symmetrize + canonicalize the collapsed edge table
    * (least/greatest ⇒ each undirected edge once, a < b), then two
    * equi-joins enumerate each triangle exactly once as a < b < c, and
    * one explode+agg yields per-node counts. All integer keys — the
    * whole kernel is hash-verified.
    *
    * Scale note: we orient edges by node id (needed for the
    * cross-engine oracle); at web scale you orient low-degree →
    * high-degree instead, which bounds the e1⋈e2 wedge intermediate to
    * O(m^1.5) regardless of skew — same plan, different orientation
    * key. The edge table here is already collapsed to ≤ |nations|²
    * rows before any triangle join runs. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.table(spark, dir, "nation")
    val und = tradeEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // e1=(a,b) ⋈ e2=(b,c) builds wedges a<b<c; e3=(a,c) closes them
    val wedges = und.toDF("a", "b").join(und.toDF("b", "c"), "b")
    val tris = wedges.join(und.toDF("a", "c"), Seq("a", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
    nation.join(broadcast(perNode),
        col("n_nationkey").cast("long") === col("node"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .orderBy("n_nationkey")
  }

  private val triangleCountSql =
    """WITH d AS (
      |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
      |    CAST(c.c_nationkey AS BIGINT) AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |), und AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM d
      |), tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM und e1
      |  JOIN und e2 ON e1.b = e2.a
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
      |), pern AS (
      |  SELECT node, COUNT(*) AS tri_cnt FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY node)
      |SELECT n.n_nationkey, n.n_name, COALESCE(p.tri_cnt, 0) AS tri_cnt
      |FROM nation n LEFT JOIN pern p ON p.node = CAST(n.n_nationkey AS BIGINT)
      |ORDER BY n.n_nationkey""".stripMargin

  /** Triangle counting with DEGREE orientation — the at-scale variant
    * the node-id version's doc promises: orient every undirected edge
    * from its lower-(degree, id) endpoint to its higher one, build
    * wedges only at each edge's LOW-rank endpoint, and close them with
    * an oriented edge. Each wedge center then fans out at most
    * O(√m) oriented neighbors (a node of degree d has out-degree
    * ≤ √m under this orientation), so the wedge intermediate is
    * bounded by O(m^1.5) REGARDLESS of skew — a web-graph hub with
    * degree 10⁷ contributes almost no wedges because nearly all its
    * edges point INTO it. Orientation is a total order (rank =
    * degree·2²⁰ + id, ids unique), so each triangle is built exactly
    * once; counts must equal the id-oriented kernel's bit for bit
    * (spec-asserted) and the whole recurrence is replicated in SQL. */
  def triangleDegree(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.table(spark, dir, "nation")
    val und = tradeEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // rank: one integer, degree-major, id minor (2^20 > any node id)
    val rk = deg.select(col("node"),
      (col("deg") * lit(1048576L) + col("node")).as("rk"))
    val oriented = und
      .join(broadcast(rk.select(col("node").as("a"), col("rk").as("rk_a"))), "a")
      .join(broadcast(rk.select(col("node").as("b"), col("rk").as("rk_b"))), "b")
      .select(
        when(col("rk_a") < col("rk_b"), col("a")).otherwise(col("b")).as("u"),
        when(col("rk_a") < col("rk_b"), col("b")).otherwise(col("a")).as("v"),
        greatest(col("rk_a"), col("rk_b")).as("rk_v"))
    // wedges at the low-rank center; rk_v < rk_w keeps each pair once
    val wedges = oriented
      .join(oriented.select(col("u"), col("v").as("w"), col("rk_v").as("rk_w")), "u")
      .filter(col("rk_v") < col("rk_w"))
    // closure edge is necessarily oriented v -> w (rk_v < rk_w)
    val tris = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
    nation.join(broadcast(perNode),
        col("n_nationkey").cast("long") === col("node"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .orderBy("n_nationkey")
  }

  private val triangleDegreeSql =
    """WITH d AS (
      |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
      |    CAST(c.c_nationkey AS BIGINT) AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |), und AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM d
      |), deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node
      |), rk AS (
      |  SELECT node, deg * 1048576 + node AS rk FROM deg
      |), o AS (
      |  SELECT CASE WHEN ra.rk < rb.rk THEN u.a ELSE u.b END AS u,
      |         CASE WHEN ra.rk < rb.rk THEN u.b ELSE u.a END AS v,
      |         GREATEST(ra.rk, rb.rk) AS rk_v
      |  FROM und u JOIN rk ra ON ra.node = u.a JOIN rk rb ON rb.node = u.b
      |), tri AS (
      |  SELECT w1.u, w1.v, w2.v AS w
      |  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.rk_v < w2.rk_v
      |  JOIN o e3 ON e3.u = w1.v AND e3.v = w2.v
      |), pern AS (
      |  SELECT node, COUNT(*) AS tri_cnt FROM (
      |    SELECT u AS node FROM tri
      |    UNION ALL SELECT v FROM tri
      |    UNION ALL SELECT w FROM tri)
      |  GROUP BY node)
      |SELECT n.n_nationkey, n.n_name, COALESCE(p.tri_cnt, 0) AS tri_cnt
      |FROM nation n LEFT JOIN pern p ON p.node = CAST(n.n_nationkey AS BIGINT)
      |ORDER BY n.n_nationkey""".stripMargin

  /** Synchronous label-propagation (LPA) community detection: every
    * node starts as its own community; each round every node adopts
    * the most frequent label among its NEIGHBORS, ties broken by
    * smallest label — the deterministic synchronous variant (async
    * LPA's random visit order can't be oracle-verified). Fixed round
    * count keeps the recurrence identical on both engines even where
    * synchronous LPA would oscillate.
    *
    * Per round: one join of the edge list against the label table
    * (broadcast below web scale — labels are one row per node), one
    * (node, label) count, one per-node arg-max window. All integer,
    * fully hash-verified.
    *
    * The nation trade graph is near-complete, so LPA collapses it to
    * a couple of labels (synchronous LPA can 2-cycle on dense graphs;
    * the fixed round count keeps even that deterministic) — the
    * oracle verifies the RECURRENCE; real community structure is
    * spec-tested on a two-cluster barbell graph ([[lpa]] is
    * graph-generic). */
  def lpa(undirected: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    val bi = undirected.select(col("a").as("u"), col("b").as("v"))
      .union(undirected.select(col("b").as("u"), col("a").as("v")))
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      val votes = bi.join(broadcast(labels), col("v") === col("node"))
        .groupBy(col("u"), col("lbl").as("vlbl"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("cnt").desc, col("vlbl"))
      val best = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("u"), col("vlbl").as("nlbl"))
      labels = labels.join(broadcast(best), col("node") === col("u"), "left")
        .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
    }
    labels
  }

  private def labelPropagationQ(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.table(spark, dir, "nation")
    val und = tradeEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
    lpa(und, nodes, rounds = 3)
      .join(broadcast(nation), col("node") === col("n_nationkey").cast("long"))
      .select(col("n_nationkey"), col("n_name"), col("lbl").as("community"))
      .orderBy("n_nationkey")
  }

  private val labelPropagationSql: String = {
    def round(i: Int): String = {
      val prev = s"l${i - 1}"
      s"""l$i AS (
         |  SELECT p.node, COALESCE(b.nlbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN (
         |    SELECT u, vlbl AS nlbl FROM (
         |      SELECT u, vlbl, ROW_NUMBER() OVER (PARTITION BY u
         |        ORDER BY cnt DESC, vlbl) AS rk
         |      FROM (SELECT bi.u, p.lbl AS vlbl, COUNT(*) AS cnt
         |            FROM bi JOIN $prev p ON bi.v = p.node
         |            GROUP BY bi.u, p.lbl))
         |    WHERE rk = 1) b ON b.u = p.node
         |)""".stripMargin
    }
    s"""WITH d AS (
       |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
       |    CAST(c.c_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE s.s_nationkey <> c.c_nationkey
       |), und AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM d
       |), bi AS (
       |  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
       |), nodes AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), l0 AS (
       |  SELECT node, node AS lbl FROM nodes
       |), ${round(1)}, ${round(2)}, ${round(3)}
       |SELECT na.n_nationkey, na.n_name, l3.lbl AS community
       |FROM l3 JOIN nation na ON l3.node = CAST(na.n_nationkey AS BIGINT)
       |ORDER BY na.n_nationkey""".stripMargin
  }

  // ------------------------------------------------------------------ SSSP

  private val SsspRounds = 6

  /** Directed trade edges with an inverse-intensity cost: pairs that
    * trade often are "close" (w = 10⁶ div n_trades + 1, exact
    * integer). Same fact⋈fact extraction as [[tradeEdges]] but
    * keeping the multiplicity before the collapse. */
  private def weightedEdges(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.table(spark, dir, "lineitem")
    val orders = Tables.table(spark, dir, "orders")
    val customer = Tables.table(spark, dir, "customer")
    val supplier = Tables.table(spark, dir, "supplier")
    lineitem.select("l_orderkey", "l_suppkey")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"), expr("1000000 div cnt + 1").as("w"))
      .localCheckpoint(false)
  }

  /** Weighted single-source shortest paths (supply-chain hop cost
    * from the lowest-id supplying nation — derived from the edge
    * set, not hard-coded: at small SF many nations have no
    * suppliers, and a sourceless SSSP is vacuous) by
    * Bellman-Ford-style iterative
    * relaxation — the third Pregel-plan exemplar next to PageRank
    * (fixed-point numeric) and WCC (fixed-point labels): each round
    * is ONE join of the current distance table with the edge list
    * (messages) and ONE min-aggregate (combiner), distances exact
    * integers throughout. [[SsspRounds]] rounds bound the longest
    * useful path; SsspSpec proves convergence (the result equals the
    * exact driver-side shortest paths, so more rounds change
    * nothing).
    *
    * Scale anatomy: per round, the distance table (≤\|V\| rows)
    * joins edges on src — at web scale a shuffle join co-partitioned
    * with the edge list's layout; messages combine map-side before
    * the min. Per-round lazy checkpoint + materialization truncates
    * the iterative lineage (the wccStar rule: a lazily-checkpointed
    * frame must be materialized before two consumers race on it). */
  private def sssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = weightedEdges(spark, dir)
    // bounded collect: ONE scalar (the q_ann codebook pattern)
    val source = edges.agg(min("src")).as[Long].head()
    var dist: DataFrame = spark.range(1)
      .select(lit(source).as("n"), lit(0L).as("dist"))
    for (_ <- 1 to SsspRounds) {
      val relaxed = dist.join(edges, col("n") === col("src"))
        .select(col("dst").as("n"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy("n").agg(min("dist").as("dist"))
        .localCheckpoint(false)
      dist.count() // materialize: next round reads it twice
    }
    Tables.table(spark, dir, "nation")
      .join(broadcast(dist), col("n_nationkey").cast("long") === col("n"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy("n_nationkey")
  }

  private val ssspSql = {
    val rounds = (1 to SsspRounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT n, MIN(dd) AS dist FROM (
         |    SELECT n, dist AS dd FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS n, d.dist + e.w AS dd
         |    FROM d${k - 1} d JOIN e ON d.n = e.src)
         |  GROUP BY n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT src, dst, 1000000 // cnt + 1 AS w FROM (
       |    SELECT CAST(s.s_nationkey AS BIGINT) AS src,
       |      CAST(c.c_nationkey AS BIGINT) AS dst, COUNT(*) AS cnt
       |    FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN customer c ON o.o_custkey = c.c_custkey
       |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |    WHERE s.s_nationkey <> c.c_nationkey
       |    GROUP BY 1, 2)),
       |d0(n, dist) AS (SELECT MIN(src), CAST(0 AS BIGINT) FROM e),
       |$rounds
       |SELECT na.n_nationkey, na.n_name, COALESCE(d.dist, -1) AS dist
       |FROM nation na LEFT JOIN d$SsspRounds d
       |  ON CAST(na.n_nationkey AS BIGINT) = d.n
       |ORDER BY na.n_nationkey""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_pagerank", pagerankQ, Some(pagerankSql)),
    Q("q_label_prop", labelPropagationQ, Some(labelPropagationSql)),
    Q("q_pagerank_scale", pagerankScaleQ, Some(pagerankSql)),
    Q("q_triangle_count", triangleCount, Some(triangleCountSql)),
    Q("q_triangle_degree", triangleDegree, Some(triangleDegreeSql)),
    Q("q_sssp", sssp, Some(ssspSql)),
  )
}
