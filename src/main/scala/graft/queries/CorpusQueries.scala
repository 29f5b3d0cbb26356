package graft.queries

import graft.functions.F
import graft.ops.{Num, NumSql}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators beyond the reference surface — the
  * remaining shapes a 100 TB training-data pipeline needs around the
  * dedup/similarity/curation families already in the engine:
  * normalization-aware exact dedup, sorted-neighborhood candidate
  * generation (the sort-based alternative to LSH blocking),
  * leakage-free group-aware train/val/test splitting, inverted-index
  * (posting-list) construction, KMV distinct sketching with an exact
  * error twin, and winsorized (percentile-clamped) robust aggregation.
  *
  * Determinism rules as everywhere ([[graft.ops.Num]],
  * [[OracleSqlFrag]]): hashes are exact integer arithmetic replicated
  * in the oracle, measures quantize to integers at the row level,
  * ratios floor through identical expression trees, every result
  * ordered on a unique key.
  */
object CorpusQueries {

  // ----------------------------------------------------- normalized dedup

  /** Exact dedup AFTER text normalization (lowercase, strip
    * non-alphanumerics, collapse whitespace): catches the
    * case/punctuation/spacing variants that byte-exact dedup
    * (`q_dedup_exact`) misses, at identical cost — the normalization
    * is a scan-side projection, and the group-by still shuffles one
    * (hash, id) pair per doc, never the text. */
  private def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  private val dedupNormalizedSql =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h,
      |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  // ------------------------------------------------- sorted neighborhood

  private val SnWindow = 4      // neighbors compared per row
  private val SnKeyLen = 12     // blocking-key prefix length
  private val SnMinJaccardPct = 60

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo's
    * merge/purge): ONE global sort on a blocking key (normalized-text
    * prefix), then each row is compared only with its next
    * [[SnWindow]] neighbors — candidate volume is w·n by
    * construction, the sort-based alternative to LSH bucketing
    * (`q_dedup_minhash`) that wins when near-dups share prefixes.
    *
    * Scale shape: the global rank is computed the same way as
    * `q_pack_sequences` — range-partition on the key, per-partition
    * `row_number`, partition offsets collected (ONE row per
    * partition) and broadcast back — no single-partition window. The
    * neighbor pairing is a w-way `sequence` explode joined back on
    * rank EQUALITY, so cross-partition neighbors meet in an ordinary
    * equi-join shuffle (a within-partition window would silently drop
    * pairs spanning a range boundary). Candidates are then verified
    * with exact token-set Jaccard; only w·n pairs ever exist. */
  private def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val keyed = docs.select(col("doc_id"),
      substring(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")),
        1, SnKeyLen).as("k"))
    val parts = graft.ops.SideCache.persist(
      keyed.repartitionByRange(col("k"), col("doc_id"))
        .sortWithinPartitions("k", "doc_id")
        .withColumn("pid", spark_partition_id()))
    val counts = parts.groupBy("pid").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val prefix = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.init.map(_._2) // rank offset BEFORE each partition
    val prefixDf = counts.map(_._1).zip(prefix).toSeq.toDF("pid", "part_off")
    val w = Window.partitionBy("pid").orderBy("k", "doc_id")
    val ranked = parts.join(broadcast(prefixDf), Seq("pid"))
      .withColumn("rnk", row_number().over(w) + col("part_off"))
      .select(col("doc_id"), col("rnk"))
    val probes = ranked.select(col("doc_id").as("id_a"),
      explode(sequence(col("rnk") + 1, col("rnk") + SnWindow)).as("rnk"))
    val cand = probes
      .join(ranked.select(col("doc_id").as("id_b"), col("rnk")), "rnk")
      .select("id_a", "id_b")
    // ShingleHashes is distinct-by-default — no array_distinct needed
    val sets = docs.select(col("doc_id"),
      F.shingleHashes(col("text"), 1).as("hs"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("inter"),
        size(col("hs_a")).cast("long").as("n_a"),
        size(col("hs_b")).cast("long").as("n_b"))
      .filter(col("inter") * 100 >=
        lit(SnMinJaccardPct) * (col("n_a") + col("n_b") - col("inter")))
      .withColumn("jaccard_pct",
        floor(col("inter") * 100.0 / (col("n_a") + col("n_b") - col("inter"))
          + lit(1e-6)).cast("long"))
      .orderBy("id_a", "id_b")
  }

  private val sortedNeighborhoodSql =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    substring(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
       |      1, $SnKeyLen) AS k
       |  FROM documents),
       |rk AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rnk FROM keyed),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + $SnWindow),
       |hs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(string_split(text, ' '),
       |      snt -> ${OracleSqlFrag.poly("snt")})) AS s
       |  FROM documents),
       |j AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
       |    CAST(len(sa.s) AS BIGINT) AS n_a, CAST(len(sb.s) AS BIGINT) AS n_b
       |  FROM cand JOIN hs sa ON cand.id_a = sa.doc_id
       |    JOIN hs sb ON cand.id_b = sb.doc_id)
       |SELECT id_a, id_b, inter, n_a, n_b,
       |  CAST(floor(100.0 * inter / (n_a + n_b - inter) + 0.000001) AS BIGINT)
       |    AS jaccard_pct
       |FROM j WHERE inter * 100 >= $SnMinJaccardPct * (n_a + n_b - inter)
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------- group-aware split

  /** Leakage-free train/val/test split: the split is a deterministic
    * hash of the GROUP key (user_id), not the row, so every event of
    * a user lands in exactly one split — the group-aware discipline
    * that keeps a user's history out of both train and eval. Pure
    * scan-side projection (Knuth multiplicative hash, exact integer
    * arithmetic in both engines) + one tiny aggregate; the corpus
    * never shuffles on anything but the 3-row split key. */
  private def groupSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // reduce to [0, 2^31) BEFORE the Knuth multiply: the product then
      // tops out at ~5.7e18 < 2^63, so the hash is exact on any engine
      // (an unreduced 64-bit id would silently wrap in Spark and raise
      // in DuckDB), and pmod keeps negative ids sign-safe
      .withColumn("bkt",
        pmod(pmod(pmod(col("user_id"), lit(2147483648L)) * lit(2654435761L),
          lit(4294967296L)), lit(10L)))
      .withColumn("split",
        when(col("bkt") < 8, "train").when(col("bkt") === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(Num.cents(col("value"))).as("sum_value_c"))
      .orderBy("split")

  private val groupSplitSql =
    s"""WITH b AS (
       |  SELECT user_id, value,
       |    ((((user_id % 2147483648 + 2147483648) % 2147483648)
       |      * 2654435761) % 4294967296) % 10 AS bkt
       |  FROM events),
       |s AS (
       |  SELECT CASE WHEN bkt < 8 THEN 'train' WHEN bkt = 8 THEN 'val'
       |    ELSE 'test' END AS split, user_id, value
       |  FROM b)
       |SELECT split, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
       |  CAST(SUM(${NumSql.cents("value")}) AS BIGINT) AS sum_value_c
       |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------- inverted index

  private val IdxMinDf = 2
  private val IdxMaxDf = 4000

  /** Inverted-index (posting-list) construction: term → document
    * frequency + the sorted posting list, for discriminative terms
    * (df in [[[IdxMinDf]], [[IdxMaxDf]]]). The posting aggregate is
    * the bounded [[graft.functions.CappedMinIds]] — O(cap) state per
    * term no matter how hot the term, so a corpus-sized stopword
    * posting can never materialize an un-splittable aggregation
    * buffer (`collect_list` would); its `total` doubles as the df and
    * its ids come back sorted, making the result deterministic under
    * any partitioning. One shuffle of distinct (term, doc_id) pairs.
    * Postings travel as a comma-joined string (the driver compare is
    * scalar-typed). */
  private def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term")
      .agg(F.cappedMinIds(col("doc_id"), IdxMaxDf).as("bk"))
      .where(col("bk.total").between(IdxMinDf, IdxMaxDf))
      .select(col("term"), col("bk.total").as("df"),
        array_join(col("bk.ids"), ",").as("postings"))
      .orderBy("term")

  private val invertedIndexSql =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(string_split(lower(text), ' '))) AS term
       |  FROM documents)
       |SELECT term, COUNT(*) AS df,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |FROM raw WHERE term <> ''
       |GROUP BY term HAVING COUNT(*) BETWEEN $IdxMinDf AND $IdxMaxDf
       |ORDER BY term""".stripMargin

  // ------------------------------------------------------------ KMV sketch

  // K=256: relative error ~1/√(K−2) ≈ 6% for the distinct estimate —
  // tight enough that the inclusion–exclusion intersection (3 estimator
  // applications) stays useful; still only 2 KB of state per group
  private[queries] val KmvK = 256

  /** KMV distinct-count sketch vs exact, per document source: the
    * native [[graft.functions.KmvSketch]] aggregate keeps the K
    * smallest DISTINCT shingle hashes (O(K) state per group, merges
    * map-side), and `(K-1)·M / kth` estimates the distinct count.
    * The counted unit is the token BIGRAM (codegen'd `ShingleHashes`,
    * one pass per doc) — hundreds of distinct values per source, so
    * the estimator branch (not the exact small-set fallback) is what
    * the oracle verifies.
    * The whole pipeline is exact integer/sorted-set arithmetic over
    * the shared polynomial hash, so the oracle replicates estimator
    * AND error bit-for-bit — same contract as `q_minhash_est_err`:
    * the accuracy row is what justifies replacing the exact
    * `COUNT(DISTINCT)` (a full (source, hash) shuffle) with a
    * KB-sized sketch at 100 TB. The exact twin column is computed
    * here for the error report; production keeps only the sketch. */
  /** Distinct (per doc) token-bigram hashes, keyed by source. */
  private def bigramHashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(F.shingleHashes(col("text"), 2)).as("h"))

  /** DuckDB twin of [[bigramHashes]] (the n=2 case of the
    * `q_ngram_jaccard` shingle recipe). */
  private val bigramHashesSql =
    s"""SELECT source, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(generate_series(1, len(t)-1),
       |        i -> t[i] || ' ' || t[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS h
       |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)""".stripMargin

  private def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hashes = bigramHashes(spark, dir)
    hashes.groupBy("source")
      .agg(F.kmvSketch(col("h"), KmvK).as("sk"),
        countDistinct(col("h")).as("n_exact"))
      .select(col("source"), col("n_exact"),
        when(col("sk.n_kept") < KmvK, col("sk.n_kept"))
          .otherwise(Num.floorEps(
            lit((KmvK - 1).toDouble * graft.queries.OracleSqlFrag.Mod) /
              greatest(col("sk.kth"), lit(1L)).cast("double")))
          .as("est"))
      .withColumn("err_pct", Num.floorEps(
        abs(col("est") - col("n_exact")) * 100.0 / col("n_exact")))
      .orderBy("source")
  }

  private val kmvDistinctSql = {
    val estConst = (KmvK - 1).toDouble * OracleSqlFrag.Mod
    s"""WITH toks AS (
       |  $bigramHashesSql),
       |d AS (SELECT DISTINCT source, h FROM toks),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
       |  FROM d),
       |st AS (
       |  SELECT source, COUNT(*) AS n_exact,
       |    COUNT(CASE WHEN rnk <= $KmvK THEN 1 END) AS n_kept,
       |    MAX(CASE WHEN rnk <= $KmvK THEN h END) AS kth
       |  FROM rk GROUP BY source),
       |est AS (
       |  SELECT source, n_exact,
       |    CASE WHEN n_kept < $KmvK THEN n_kept
       |      ELSE ${NumSql.floorEps(s"$estConst / greatest(kth, 1)")} END AS est
       |  FROM st)
       |SELECT source, n_exact, est,
       |  ${NumSql.floorEps("abs(est - n_exact) * 100.0 / n_exact")} AS err_pct
       |FROM est ORDER BY source""".stripMargin
  }

  /** Cross-corpus overlap estimation by KMV SET ARITHMETIC — the
    * capability HLL does not have and the reason KMV is the overlap
    * sketch at 100 TB: sketch(A∪B) is just the K smallest of
    * sketch(A) ∪ sketch(B) (any of the union's K minima lives in one
    * of the two sketches), |A∩B| follows by inclusion–exclusion, and
    * none of it touches the corpora again. Per source pair: estimated
    * vs exact token-set Jaccard. The pair stage runs on |sources|
    * KB-sized sketch rows (the deliberate tiny cross); the exact tier
    * — a full distinct-hash self-join kept ONLY to hash-verify the
    * estimate — is the thing the sketch replaces in production.
    * Everything is integer/sorted-set arithmetic ⇒ estimator and
    * error both hash-verified. */
  private def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val estConst = (KmvK - 1).toDouble * OracleSqlFrag.Mod
    val hashes = bigramHashes(spark, dir)
    // the distinct (source, hash) table feeds the sketch agg, the size
    // agg, and BOTH sides of the exact self-join — persist it once or
    // the ShingleHashes corpus scan re-runs per consumer
    val d = graft.ops.SideCache.persist(hashes.distinct())
    val sz = d.groupBy("source").agg(count(lit(1)).as("n"))
    val sk = d.groupBy("source")
      .agg(F.kmvSketch(col("h"), KmvK).as("sk"))
      .select(col("source"), col("sk.ks").as("ks"),
        when(col("sk.n_kept") < KmvK, col("sk.n_kept"))
          .otherwise(Num.floorEps(
            lit(estConst) / greatest(col("sk.kth"), lit(1L)).cast("double")))
          .as("est_n"))
    val pairs = sk.select(col("source").as("src_a"), col("ks").as("ks_a"),
        col("est_n").as("est_a"))
      .join(sk.select(col("source").as("src_b"), col("ks").as("ks_b"),
        col("est_n").as("est_b")), col("src_a") < col("src_b"))
    val inter = d.as("x")
      .join(d.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))),
        "src_a")
      .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))),
        "src_b")
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .withColumn("m", array_sort(array_union(col("ks_a"), col("ks_b"))))
      .withColumn("est_u",
        when(size(col("m")) < KmvK, size(col("m")).cast("long"))
          .otherwise(Num.floorEps(lit(estConst) /
            greatest(element_at(col("m"), KmvK), lit(1L)).cast("double"))))
      .withColumn("est_i",
        greatest(col("est_a") + col("est_b") - col("est_u"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("ni").as("n_inter"),
        Num.floorEps(col("ni") * 100.0 / (col("n_a") + col("n_b") - col("ni")))
          .as("exact_jac_pct"),
        Num.floorEps(col("est_i") * 100.0 / col("est_u")).as("est_jac_pct"))
      .withColumn("err_abs", abs(col("est_jac_pct") - col("exact_jac_pct")))
      .orderBy("src_a", "src_b")
  }

  private val kmvOverlapSql = {
    val estConst = (KmvK - 1).toDouble * OracleSqlFrag.Mod
    s"""WITH toks AS (
       |  $bigramHashesSql),
       |d AS (SELECT DISTINCT source, h FROM toks),
       |sz AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
       |  FROM d),
       |ks AS (
       |  SELECT source, list(h ORDER BY h) AS ks, COUNT(*) AS nk, MAX(h) AS kth
       |  FROM rk WHERE rnk <= $KmvK GROUP BY source),
       |se AS (
       |  SELECT source, ks,
       |    CASE WHEN nk < $KmvK THEN nk
       |      ELSE ${NumSql.floorEps(s"$estConst / greatest(kth, 1)")} END AS est_n
       |  FROM ks),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    list_sort(list_distinct(a.ks || b.ks)) AS m,
       |    a.est_n AS est_a, b.est_n AS est_b
       |  FROM se a JOIN se b ON a.source < b.source),
       |iv AS (
       |  SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS n_inter
       |  FROM d x JOIN d y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2),
       |eu AS (
       |  SELECT src_a, src_b, est_a, est_b,
       |    CASE WHEN len(m) < $KmvK THEN len(m)
       |      ELSE ${NumSql.floorEps(s"$estConst / greatest(m[$KmvK], 1)")} END AS est_u
       |  FROM pairs),
       |fin AS (
       |  SELECT e.src_a, e.src_b,
       |    COALESCE(iv.n_inter, 0) AS ni, sa.n AS n_a, sb.n AS n_b,
       |    greatest(e.est_a + e.est_b - e.est_u, 0) AS est_i, e.est_u
       |  FROM eu e
       |  JOIN sz sa ON e.src_a = sa.source
       |  JOIN sz sb ON e.src_b = sb.source
       |  LEFT JOIN iv ON e.src_a = iv.src_a AND e.src_b = iv.src_b),
       |lab AS (
       |  SELECT src_a, src_b, ni AS n_inter,
       |    ${NumSql.floorEps("ni * 100.0 / (n_a + n_b - ni)")} AS exact_jac_pct,
       |    ${NumSql.floorEps("est_i * 100.0 / est_u")} AS est_jac_pct
       |  FROM fin)
       |SELECT src_a, src_b, n_inter, exact_jac_pct, est_jac_pct,
       |  abs(est_jac_pct - exact_jac_pct) AS err_abs
       |FROM lab ORDER BY src_a, src_b""".stripMargin
  }

  // --------------------------------------------------------- sketch rollup

  /** KMV sketch ROLLUP — distinct-bigram cardinalities up a
    * (lang, source) → lang → global hierarchy computed by MERGING
    * SKETCHES, never rescanning rows: sketch(∪ cells) is the K
    * smallest of the union of the cells' kept sets (any of the
    * union's K minima ranks ≤ K inside its own cell, so nothing is
    * ever lost — the property that makes KMV/HLL the OLAP-cube
    * aggregate at 100 TB: one corpus scan builds the finest cells,
    * every coarser total is array arithmetic on KB-sized sketch
    * rows). The global tier re-merges the LANG-tier merges,
    * demonstrating associativity. Exact distincts at each tier are
    * kept only to hash-verify the estimates (the `q_kmv_distinct`
    * convention); err_pct is part of the hashed result.
    *
    * Scale shape: one scan + one (lang, source)-keyed sketch
    * aggregate (the native KmvSketch TypedImperativeAggregate,
    * map-side merging); both rollup tiers group ≤\|cells\| KB rows.
    * The exact tier is the thing the sketch replaces in production. */
  private def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val estConst = (KmvK - 1).toDouble * OracleSqlFrag.Mod
    def estOf(ksCol: Column): Seq[Column] = {
      val kept = slice(array_sort(array_distinct(ksCol)), 1, KmvK)
      val kth = element_at(kept, size(kept))
      Seq(when(size(kept) < KmvK, size(kept).cast("long"))
        .otherwise(Num.floorEps(
          lit(estConst) / greatest(kth, lit(1L)).cast("double"))).as("est"),
        kept.as("kept"))
    }
    val base = graft.ops.SideCache.persist(
      Tables.documents(spark, dir)
        .select(col("lang"), col("source"),
          explode(F.shingleHashes(col("text"), 2)).as("h"))
        .distinct())
    val cells = graft.ops.SideCache.persist(
      base.groupBy("lang", "source")
        .agg(F.kmvSketch(col("h"), KmvK).as("sk"))
        .select(col("lang"), col("source"), col("sk.ks").as("ks")))
    val langMerged = graft.ops.SideCache.persist(
      cells.groupBy("lang").agg(flatten(collect_list(col("ks"))).as("ksu"))
        .select(Seq(col("lang")) ++ estOf(col("ksu")): _*))
    val globalMerged = langMerged
      .agg(flatten(collect_list(col("kept"))).as("ksu"))
      .select(estOf(col("ksu")): _*)
    val exactLang = base.groupBy("lang").agg(countDistinct("h").as("n_exact"))
    val exactGlobal = base.agg(countDistinct("h").as("n_exact"))
    val langRows = exactLang.join(langMerged, Seq("lang"))
      .select(lit("lang").as("level"), col("lang").as("key"),
        col("n_exact"), col("est"))
    val globalRow = exactGlobal
      .select(lit("all").as("level"), lit("*").as("key"),
        col("n_exact"), globalMerged.select("est").scalar().as("est"))
    langRows.union(globalRow)
      .withColumn("err_pct", Num.floorEps(
        abs(col("est") - col("n_exact")) * 100.0 / col("n_exact")))
      .orderBy("level", "key")
  }

  private val sketchRollupSql = {
    val estConst = (KmvK - 1).toDouble * OracleSqlFrag.Mod
    s"""WITH toks AS (
       |  SELECT lang, source, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(generate_series(1, len(t)-1),
       |        i -> t[i] || ' ' || t[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS h
       |  FROM (SELECT lang, source, string_split(text, ' ') AS t FROM documents)),
       |d AS (SELECT DISTINCT lang, h FROM toks),
       |rkl AS (
       |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rnk
       |  FROM d),
       |stl AS (
       |  SELECT lang, COUNT(*) AS n_exact,
       |    COUNT(CASE WHEN rnk <= $KmvK THEN 1 END) AS n_kept,
       |    MAX(CASE WHEN rnk <= $KmvK THEN h END) AS kth
       |  FROM rkl GROUP BY lang),
       |lv AS (
       |  SELECT 'lang' AS level, lang AS key, CAST(n_exact AS BIGINT) AS n_exact,
       |    CASE WHEN n_kept < $KmvK THEN n_kept
       |      ELSE ${NumSql.floorEps(s"$estConst / greatest(kth, 1)")} END AS est
       |  FROM stl),
       |dg AS (SELECT DISTINCT h FROM toks),
       |rkg AS (SELECT h, row_number() OVER (ORDER BY h) AS rnk FROM dg),
       |stg AS (
       |  SELECT COUNT(*) AS n_exact,
       |    COUNT(CASE WHEN rnk <= $KmvK THEN 1 END) AS n_kept,
       |    MAX(CASE WHEN rnk <= $KmvK THEN h END) AS kth
       |  FROM rkg),
       |gv AS (
       |  SELECT 'all' AS level, '*' AS key, CAST(n_exact AS BIGINT) AS n_exact,
       |    CASE WHEN n_kept < $KmvK THEN n_kept
       |      ELSE ${NumSql.floorEps(s"$estConst / greatest(kth, 1)")} END AS est
       |  FROM stg)
       |SELECT level, key, n_exact, CAST(est AS BIGINT) AS est,
       |  ${NumSql.floorEps("abs(est - n_exact) * 100.0 / n_exact")} AS err_pct
       |FROM (SELECT * FROM lv UNION ALL SELECT * FROM gv)
       |ORDER BY level, key""".stripMargin
  }

  // ------------------------------------------------------------- winsorize

  /** Winsorized (percentile-clamped) robust aggregation: per event
    * type, clamp the µ-quantized value to its exact [p01, p99] fences
    * and aggregate the clamped series — the robust-mean recipe that
    * tames heavy tails without dropping rows (`q_outlier_iqr` is the
    * reporting twin that RETURNS the tail rows). Same two-pass scale
    * shape: the fence pass reduces map-side to |event_type| rows and
    * broadcasts back; the corpus never shuffles. Fences floor-quantize
    * through identical expression trees so a 1-ulp quantile divergence
    * cannot move a clamp boundary. */
  private def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), Num.floorEps(col("value") * 1e6).as("v"))
    val fences = base.groupBy(col("event_type"))
      .agg(percentile(col("v"), lit(0.01)).as("p01"),
        percentile(col("v"), lit(0.99)).as("p99"))
      .select(col("event_type"),
        Num.floorEps(col("p01")).as("lo"), Num.floorEps(col("p99")).as("hi"))
    base.join(broadcast(fences), "event_type")
      .select(col("event_type"),
        least(greatest(col("v"), col("lo")), col("hi")).as("w"),
        (col("v") < col("lo")).cast("long").as("clo"),
        (col("v") > col("hi")).cast("long").as("chi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sum_wins_v"),
        sum(col("clo")).as("n_lo_clamped"), sum(col("chi")).as("n_hi_clamped"))
      .orderBy("event_type")
  }

  private val winsorizeSql = {
    val v = NumSql.floorEps("value * 1000000.0")
    s"""WITH base AS (
       |  SELECT event_type, $v AS v FROM events WHERE value IS NOT NULL),
       |fences AS (
       |  SELECT event_type,
       |    ${NumSql.floorEps("quantile_cont(v, 0.01)")} AS lo,
       |    ${NumSql.floorEps("quantile_cont(v, 0.99)")} AS hi
       |  FROM base GROUP BY event_type)
       |SELECT b.event_type, COUNT(*) AS n,
       |  CAST(SUM(least(greatest(b.v, f.lo), f.hi)) AS BIGINT) AS sum_wins_v,
       |  CAST(SUM(CASE WHEN b.v < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clamped,
       |  CAST(SUM(CASE WHEN b.v > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clamped
       |FROM base b JOIN fences f USING (event_type)
       |GROUP BY b.event_type ORDER BY b.event_type""".stripMargin
  }

  // -------------------------------------------------------- passage dedup

  /** Words per disjoint passage in [[passageDedup]]. */
  private val PassW = 8

  /** Passage-level rewrite dedup (the "deduplicating training data"
    * recipe of Lee et al. 2022, at disjoint-chunk granularity): cut
    * every document into disjoint `PassW`-word passages, keep only
    * the globally FIRST occurrence of each distinct passage (ordered
    * by (doc_id, passage_index)), and reassemble each document from
    * its surviving passages — removing boilerplate and quoted
    * passages from every later document that repeats them, not just
    * flagging them (`q_repeated_passages` is the report-only twin).
    *
    * Scale anatomy for a 100 TB corpus: the passage table is the
    * corpus re-keyed, so the rewrite inherently moves the text twice
    * — once keyed by passage (the window that picks first
    * occurrences; dedup keys on the passage TEXT itself, which is
    * exact, and costs nothing extra because the passage must ride
    * the shuffle anyway for reassembly) and once keyed by doc_id
    * (the reassembly group-by). The per-doc totals side is a
    * text-free scan projection joined on doc_id, aligned with the
    * reassembly partitioning. No plan step is ever quadratic and no
    * driver state exists. At real scale the window key would be a
    * 128-bit passage fingerprint (collision odds ~n²/2¹²⁸) to cut
    * sort-key bytes; with this engine's 31-bit teaching hash that
    * trade would admit real collisions, so text-keying is the exact
    * choice. */
  private def passageDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = docs
      .select(col("doc_id"),
        explode(graft.text.TextFunctions.passages(col("text"), PassW)).as("c"))
      .select(col("doc_id"), col("c._1").cast("long").as("idx"),
        col("c._2").as("passage"))
    val w = Window.partitionBy("passage").orderBy("doc_id", "idx")
    val kept = chunks.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val re = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("idx"), col("passage")))),
        s => s.getField("passage"))).as("new_text"))
    val totals = docs.select(col("doc_id"),
      floor((size(split(col("text"), " ")) + lit(PassW - 1)) / lit(PassW.toDouble))
        .cast("long").as("n_passages"))
    totals.join(re, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_passages") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("new_text"), lit("")).as("new_text"))
      .orderBy("doc_id")
  }

  private val passageDedupSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |ch AS (
       |  SELECT doc_id, s // $PassW AS idx,
       |    array_to_string(list_slice(tk, s + 1, least(s + $PassW, len(tk))), ' ') AS passage
       |  FROM (SELECT doc_id, tk,
       |          unnest(generate_series(0, len(tk) - 1, $PassW)) AS s FROM t)),
       |kept AS (
       |  SELECT doc_id, idx, passage,
       |    row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
       |  FROM ch),
       |re AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(passage, ' ' ORDER BY idx) AS new_text
       |  FROM kept WHERE rn = 1 GROUP BY doc_id),
       |tot AS (SELECT doc_id, (len(tk) + ${PassW - 1}) // $PassW AS n_passages FROM t)
       |SELECT tot.doc_id, n_passages,
       |  COALESCE(n_kept, 0) AS n_kept,
       |  n_passages - COALESCE(n_kept, 0) AS n_dropped,
       |  COALESCE(new_text, '') AS new_text
       |FROM tot LEFT JOIN re ON tot.doc_id = re.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // ----------------------------------------------------- winnowing

  private val WinK = 5 // word-gram width
  private val WinW = 4 // winnowing window (≥1 fingerprint per window)

  /** `q_winnow_spans` — WINNOWING fingerprint selection (Schleimer,
    * Wilkerson & Aiken 2003, the MOSS algorithm): every OVERLAPPING
    * `WinK`-word gram is hashed, and each window of `WinW`
    * consecutive gram hashes selects its minimum (ties → leftmost
    * position) — the selection guarantee the disjoint-passage tier
    * (`q_passage_dedup`) cannot give: ANY shared span of at least
    * `WinK + WinW − 1` words between two documents is caught by a
    * SHARED selected fingerprint, while only ~2/(WinW+1) of positions
    * are kept. That sublinear position sample is what makes
    * span-level duplicate detection affordable at 100 TB: state is
    * |fingerprints| ≪ |positions|, and nothing all-pairs ever runs.
    *
    * Output: per-source fingerprint accounting — kept fingerprints,
    * those shared across ≥2 documents, the shared fraction (bp), and
    * an order-free xor of the shared hashes (the span-evidence
    * certificate).
    *
    * Scale anatomy: the gram expansion is a scan projection; window
    * expansion multiplies positions by ≤`WinW` (bounded constant);
    * selection is one (doc, window) exchange; sharing is one
    * hash-keyed map-side-combined aggregate. No driver state, no
    * text ever rides a shuffle (only 8-byte hashes + positions). */
  /** Selected winnowing fingerprints of a (doc_id, source, text)
    * frame: one row per kept (doc, position, gram-hash). Public for
    * WinnowSpec's guarantee checks on planted corpora. */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("tk"))
      .withColumn("ng", (size(col("tk")) - lit(WinK - 1)).cast("long"))
      .filter(col("ng") >= 1)
      .withColumn("nw", greatest(col("ng") - lit(WinW - 1), lit(1L)))
    val grams = base
      .select(col("doc_id"), col("source"), col("nw"),
        explode(sequence(lit(1L), col("ng"))).as("p"), col("tk"))
      .withColumn("h", F.polyHash(
        concat_ws(" ", slice(col("tk"), col("p"), lit(WinK)))))
      .drop("tk") // text never rides past the scan
    grams
      .withColumn("j", explode(sequence(
        greatest(col("p") - lit(WinW - 1L), lit(1L)),
        least(col("p"), col("nw")))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id", "j").orderBy("h", "p")))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "p", "h").distinct()
  }

  private def winnowSpans(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFingerprints(Tables.documentsFan(spark, dir))
    val sharing = fps.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
    fps.join(sharing, Seq("h"))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_fp"),
        coalesce(sum((col("nd") >= 2).cast("long")), lit(0L))
          .as("n_shared"),
        coalesce(bit_xor(when(col("nd") >= 2, col("h"))), lit(0L))
          .as("shared_xor"))
      .withColumn("share_bp", expr("(n_shared * 10000) div n_fp"))
      .select("source", "n_docs", "n_fp", "n_shared", "share_bp",
        "shared_xor")
      .orderBy("source")
  }

  private val winnowSpansSql = {
    val k1 = WinK - 1
    val w1 = WinW - 1
    val gh = OracleSqlFrag.poly(
      s"array_to_string(list_slice(tk, p, p + $k1), ' ')")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS tk
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, source, tk, len(tk) - $k1 AS ng,
       |    greatest(len(tk) - $k1 - $w1, 1) AS nw
       |  FROM t WHERE len(tk) - $k1 >= 1),
       |g AS (
       |  SELECT doc_id, source, nw, p, $gh AS h
       |  FROM (SELECT *, unnest(generate_series(1, ng)) AS p FROM b)),
       |x AS (
       |  SELECT doc_id, source, p, h,
       |    unnest(generate_series(greatest(p - $w1, 1), least(p, nw))) AS j
       |  FROM g),
       |sel AS (
       |  SELECT doc_id, source, p, h,
       |    row_number() OVER (PARTITION BY doc_id, j ORDER BY h, p) AS rn
       |  FROM x),
       |fp AS (SELECT DISTINCT doc_id, source, p, h FROM sel WHERE rn = 1),
       |sh AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM fp GROUP BY h)
       |SELECT source,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_fp,
       |  CAST(COALESCE(SUM(CASE WHEN nd >= 2 THEN 1 END), 0) AS BIGINT)
       |    AS n_shared,
       |  CAST((COALESCE(SUM(CASE WHEN nd >= 2 THEN 1 END), 0) * 10000)
       |    // COUNT(*) AS BIGINT) AS share_bp,
       |  CAST(COALESCE(bit_xor(CASE WHEN nd >= 2 THEN h END), 0) AS BIGINT)
       |    AS shared_xor
       |FROM fp JOIN sh USING (h)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_dedup_normalized", dedupNormalized, Some(dedupNormalizedSql)),
    Q("q_sorted_neighborhood", sortedNeighborhood, Some(sortedNeighborhoodSql)),
    Q("q_group_split", groupSplit, Some(groupSplitSql)),
    Q("q_inverted_index", invertedIndex, Some(invertedIndexSql)),
    Q("q_kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    Q("q_kmv_overlap", kmvOverlap, Some(kmvOverlapSql)),
    Q("q_winsorize", winsorize, Some(winsorizeSql)),
    Q("q_passage_dedup", passageDedup, Some(passageDedupSql)),
    Q("q_winnow_spans", winnowSpans, Some(winnowSpansSql)),
    Q("q_sketch_rollup", sketchRollup, Some(sketchRollupSql)),
  )
}
