package graft.queries

import graft.ops.{Num, NumSql}
import graft.tables.Tables
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Text-analysis / dedup surface over the `documents` table
  * (BASELINE.json north star: LLM-data-pipeline operators designed
  * for 100 TB). SQL-expressible ops carry DuckDB oracles; the
  * hash-family ops (MinHash/SimHash — engine-specific hash functions)
  * are rows-only checked by the driver and covered by unit tests.
  */
object TextQueries {

  /** Token / char statistics per document — one codegen'd projection. */
  private def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = TF.tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("n_chars"),
      size(t).as("n_tok"),
      size(array_distinct(t)).as("n_distinct_tok"),
      length(regexp_replace(col("text"), " ", "")).as("clen"))
      .withColumn("avg_tok_len_x100",
        floor(col("clen") * 100.0 / col("n_tok") + lit(1e-6)))
      .orderBy("doc_id")
  }

  private val textStatsSql =
    s"""SELECT doc_id, n_chars,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tok,
       |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS INT) AS clen,
       |  ${NumSql.floorEps("CAST(length(regexp_replace(text, ' ', '', 'g')) AS INT) * 100.0 / CAST(len(string_split(text, ' ')) AS INT)")} AS avg_tok_len_x100
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality score: length saturation + stopword density (the
    * punctuation/casing terms of a real scorer collapse on this
    * all-lowercase corpus but the shape is the same). */
  private def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = TF.tokens(col("text"))
    val stops = TF.Lexicons.toMap.apply("en")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(t).as("n_tok"),
      TF.lexiconCount(t, stops).as("stop_cnt"))
      .withColumn("quality",
        floor(lit(50.0) * least(col("n_tok"), lit(400)) / 400 +
          lit(50.0) * col("stop_cnt") / col("n_tok") + lit(1e-6)))
      .orderBy("doc_id")
  }

  private val qualityScoreSql = {
    val stops = TextFunctionsSql.lexicon("en")
    s"""SELECT doc_id, n_tok, stop_cnt,
       |  CAST(floor(50.0 * LEAST(n_tok, 400) / 400 + 50.0 * stop_cnt / n_tok + 0.000001) AS BIGINT) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |    CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stops, x))) AS INT) AS stop_cnt
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** QUALITY-FILTER tuning curve — the table a curation threshold is
    * picked from (the `q_pr_curve` convention for the filter tier):
    * for EVERY distinct quality score in the corpus (the score domain
    * is bounded to [0, 100] by construction, so the curve is a
    * bounded frame, not a corpus-proportional one), the documents and
    * tokens that would SURVIVE a `quality ≥ t` filter, as counts and
    * exact permille shares. Reading the curve top-down answers the
    * operational question directly: "keeping only docs above t costs
    * how many tokens?" — the doc-share and token-share columns
    * diverge exactly when quality correlates with length, which this
    * scorer's length term guarantees (spec pins the divergence).
    *
    * Scale shape: one scan to (quality, n_tok), a map-side-collapsing
    * histogram to ≤101 rows, a cumulative window over that bounded
    * grid, and the totals as scalar subqueries. */
  private def qualityFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    val t = TF.tokens(col("text"))
    val stops = TF.Lexicons.toMap.apply("en")
    val scored = Tables.documents(spark, dir).select(
        size(t).as("n_tok"), TF.lexiconCount(t, stops).as("stop_cnt"))
      .select(col("n_tok").cast("long").as("n_tok"),
        floor(lit(50.0) * least(col("n_tok"), lit(400)) / 400 +
          lit(50.0) * col("stop_cnt") / col("n_tok") + lit(1e-6))
          .cast("long").as("quality"))
    val hist = scored.groupBy("quality")
      .agg(count(lit(1)).as("nd"), sum("n_tok").as("nt"))
    val tot = hist.agg(sum("nd").as("td"), sum("nt").as("tt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hist
      .withColumn("n_docs_ge", sum("nd").over(wCum))
      .withColumn("n_tok_ge", sum("nt").over(wCum))
      .withColumn("td", tot.select("td").scalar())
      .withColumn("tt", tot.select("tt").scalar())
      .select(col("quality").as("thr"), col("n_docs_ge"), col("n_tok_ge"),
        expr("(1000 * n_docs_ge) div td").as("doc_share_pm"),
        expr("(1000 * n_tok_ge) div tt").as("tok_share_pm"))
      .orderBy("thr")
  }

  private val qualityFilterSweepSql = {
    val stops = TextFunctionsSql.lexicon("en")
    s"""WITH scored AS (
       |  SELECT CAST(n_tok AS BIGINT) AS n_tok,
       |    CAST(floor(50.0 * LEAST(n_tok, 400) / 400 +
       |      50.0 * stop_cnt / n_tok + 0.000001) AS BIGINT) AS quality
       |  FROM (
       |    SELECT CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |      CAST(len(list_filter(string_split(text, ' '),
       |        x -> list_contains($stops, x))) AS INT) AS stop_cnt
       |    FROM documents)),
       |hist AS (
       |  SELECT quality, COUNT(*) AS nd, CAST(SUM(n_tok) AS BIGINT) AS nt
       |  FROM scored GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(nd) AS BIGINT) AS td, CAST(SUM(nt) AS BIGINT) AS tt
       |  FROM hist),
       |cum AS (
       |  SELECT quality,
       |    CAST(SUM(nd) OVER (ORDER BY quality DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_docs_ge,
       |    CAST(SUM(nt) OVER (ORDER BY quality DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_tok_ge
       |  FROM hist)
       |SELECT quality AS thr, n_docs_ge, n_tok_ge,
       |  CAST((1000 * n_docs_ge) // td AS BIGINT) AS doc_share_pm,
       |  CAST((1000 * n_tok_ge) // tt AS BIGINT) AS tok_share_pm
       |FROM cum CROSS JOIN tot ORDER BY thr""".stripMargin
  }

  /** Per-document character-level Shannon entropy (nats) — the classic
    * gibberish / low-character-diversity filter: encrypted blobs and
    * base64 spam score near ln(alphabet), single-char runs and
    * keyboard-mash boilerplate score near 0.
    *
    * Plan shape: ONE codegen pass per document — the native
    * [[graft.functions.CharEntropy]] expression builds the per-doc
    * frequency table in a projection-local array and emits
    * `[n_distinct, ent_µnats]` with zero explosion and zero
    * aggregation (the former explode+two-agg pipeline shuffled
    * ≤ |alphabet| rows/doc; this shuffles none and the only exchange
    * left is the presentation sort).
    * Determinism: each char class's contribution
    * (n/N)·ln(N/n) is quantized to integer micros BEFORE the per-doc
    * sum (the q_tfidf/q_lm_score trick) — the kernel replicates the
    * former column expression's double-op order exactly, so results
    * are bit-identical and the oracle is unchanged. Empty docs drop
    * out on both engines (corpus min length is 48). */
  private def entropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), graft.functions.F.charEntropy(col("text")).as("e"))
      .select(col("doc_id"),
        element_at(col("e"), 1).as("n_distinct_chars"),
        element_at(col("e"), 2).as("ent_nats_micro"))
      .orderBy("doc_id")
  }

  private val entropySql =
    s"""WITH ch AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tot,
       |    unnest(string_split(text, '')) AS ch
       |  FROM documents
       |), freq AS (
       |  SELECT doc_id, n_tot, ch, COUNT(*) AS n
       |  FROM ch WHERE length(ch) = 1 GROUP BY 1, 2, 3
       |), term AS (
       |  SELECT doc_id,
       |    ${NumSql.floorEps("(CAST(n AS DOUBLE) / n_tot) * ln(CAST(n_tot AS DOUBLE) / n) * 1000000")} AS term_micro
       |  FROM freq)
       |SELECT doc_id, COUNT(*) AS n_distinct_chars,
       |  CAST(SUM(term_micro) AS BIGINT) AS ent_nats_micro
       |FROM term GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: per-language function-word hit counts,
    * argmax with fixed tie-break order (en,fr,es,de,zh). */
  /** Shared lang-id frame: per doc the per-lexicon scores and the
    * argmax prediction (first-wins tie break, the `q_lang_id`
    * kernel). */
  private def langIdFrame(spark: SparkSession, dir: String): DataFrame = {
    val t = TF.tokens(col("text"))
    val scored = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), col("lang")) ++
        TF.Lexicons.map { case (l, words) => TF.lexiconCount(t, words).as(s"s_$l") }: _*)
    val langs = TF.Lexicons.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseCol) =>
        val gte = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(gte, lit(l)).otherwise(elseCol)
    }
    scored.withColumn("predicted", pred)
  }

  private def langId(spark: SparkSession, dir: String): DataFrame =
    langIdFrame(spark, dir).orderBy("doc_id")

  /** CLASSIFIER EVALUATION of the lang-id heuristic against the
    * corpus's stored labels — the confusion MATRIX, row-normalized:
    * per (true lang, predicted lang) cell, the count and its permille
    * share of the true lang's documents (recall sits on the
    * diagonal). On THIS fixture the matrix honestly reads "mostly
    * en": the langs share one latin vocabulary (FIXTURES.md), so a
    * lexicon-overlap classifier collapses towards the first-wins
    * tie-break — exactly the failure mode a confusion matrix exists
    * to expose before anyone trusts per-lang corpus stats downstream.
    * Scale shape: the lang-id scan (codegen lexicon counts), one
    * map-side-collapsing groupBy to ≤\|langs\|² rows, a partitioned
    * window over that bounded frame. */
  /** CLASSIFIER EVALUATION of the lang-id heuristic against the
    * corpus's stored labels — the confusion MATRIX, row-normalized:
    * per (true lang, cohort, predicted) cell, the count and its
    * permille share of the true lang's documents. The natural fixture
    * is TOTALLY degenerate here — the langs share one latin
    * vocabulary (FIXTURES.md), so the lexicon-overlap classifier
    * collapses every row to `en` (probed: all five rows 1000 permille
    * en) — so one third of the docs (doc_id ≡ 0 mod 3) are PLANTED
    * with their true lang's lexicon markers (the `q_lsh_curve`
    * planting convention): the matrix then shows BOTH phenomena — the
    * diagonal firing for marked docs, the shared-vocab en-collapse
    * for the natural rest — exactly the two-population readout a
    * fixture-vs-classifier audit needs before anyone trusts per-lang
    * corpus stats downstream.
    *
    * Scale shape: the lang-id scan (codegen lexicon counts over one
    * projection), a map-side-collapsing groupBy to ≤ 2·\|langs\|²
    * rows, a partitioned window over that bounded frame. */
  private def langMarkers: Map[String, String] =
    TF.Lexicons.map { case (l, ws) =>
      l -> Seq.fill(8)(ws.take(4).mkString(" ")).mkString(" ")
    }.toMap

  private def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val mk = langMarkers
    val langs = TF.Lexicons.map(_._1)
    val marked = langs.tail
      .foldLeft(when(col("lang") === langs.head, lit(mk(langs.head)))) {
        (acc, l) => acc.when(col("lang") === l, lit(mk(l)))
      }
    val planted = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" "), marked)).otherwise(col("text"))
    val t = TF.tokens(planted)
    val scored = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), col("lang")) ++
        TF.Lexicons.map { case (l, words) =>
          TF.lexiconCount(t, words).as(s"s_$l") }: _*)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseCol) =>
        val gte = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(gte, lit(l)).otherwise(elseCol)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    scored.withColumn("predicted", pred)
      .withColumn("cohort",
        when(col("doc_id") % 3 === 0, "marked").otherwise("natural"))
      .groupBy("lang", "cohort", "predicted")
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total", sum("n").over(w))
      .select(col("lang"), col("cohort"), col("predicted"), col("n"),
        expr("(1000 * n) div lang_total").as("row_pm"))
      .orderBy("lang", "cohort", "predicted")
  }

  private val langIdConfusionSql = {
    val langs = TF.Lexicons.map(_._1)
    val mk = langMarkers
    val markCase = langs.map(l => s"WHEN lang = '$l' THEN '${mk(l)}'")
      .mkString(" ")
    val scoreCols = TF.Lexicons.map { case (l, _) =>
      s"CAST(len(list_filter(string_split(t, ' '), x -> list_contains(${TextFunctionsSql.lexicon(l)}, x))) AS INT) AS s_$l"
    }.mkString(",\n    ")
    val pred = langs.init.zipWithIndex.map { case (l, i) =>
      val gte = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $gte THEN '$l'"
    }.mkString(" ")
    s"""WITH planted AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN text || ' ' || (CASE $markCase END)
       |      ELSE text END AS t
       |  FROM documents),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN doc_id % 3 = 0 THEN 'marked' ELSE 'natural' END
       |      AS cohort,
       |    CASE $pred ELSE '${langs.last}' END AS predicted
       |  FROM (SELECT doc_id, lang, $scoreCols FROM planted)),
       |cells AS (
       |  SELECT lang, cohort, predicted, COUNT(*) AS n
       |  FROM p GROUP BY 1, 2, 3)
       |SELECT lang, cohort, predicted, n,
       |  CAST((1000 * n) // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
       |    AS row_pm
       |FROM cells ORDER BY lang, cohort, predicted""".stripMargin
  }

  private val langIdSql = {
    val langs = TF.Lexicons.map(_._1)
    val scoreCols = TF.Lexicons.map { case (l, _) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> list_contains(${TextFunctionsSql.lexicon(l)}, x))) AS INT) AS s_$l"
    }.mkString(",\n    ")
    val pred = langs.init.zipWithIndex.map { case (l, i) =>
      val gte = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $gte THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, s_en, s_fr, s_es, s_de, s_zh,
       |  CASE $pred ELSE '${langs.last}' END AS predicted
       |FROM (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Token counting (whitespace + BPE-ish regex) and shift-robust
    * fingerprints (polynomial rolling hash + min-k-gram md5) — one
    * codegen'd projection per doc, no shuffle. */
  private def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(TF.tokens(col("text"))).as("n_ws_tok"),
      size(TF.bpeTokens(col("text"))).as("n_bpe_tok"),
      TF.rollingHash(col("text")).as("roll_hash"),
      TF.minKgramFingerprint(col("text"), 8).as("min_kgram"))
      .orderBy("doc_id")

  private val tokenCountSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tok,
       |  CAST(len(regexp_extract_all(text, '${TF.BpePattern.replace("'", "''")}')) AS INT) AS n_bpe_tok,
       |  list_reduce(list_prepend(0::BIGINT,
       |      list_transform(regexp_split_to_array(text, ''), c -> ascii(c)::BIGINT)),
       |    (a, b) -> (a * 131 + b) % 2147483647) AS roll_hash,
       |  CASE WHEN length(text) >= 8 THEN
       |    list_min(list_transform(generate_series(1, length(text) - 7), i -> md5(substr(text, i, 8))))
       |  ELSE md5(text) END AS min_kgram
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- length buckets

  private val LenBucketW = 16L // tokens per length bucket

  /** LENGTH-GROUPED BATCHING accounting — the padding-efficiency
    * table a training dataloader is tuned from: documents bucketed by
    * whitespace-token length (width [[LenBucketW]]), and per bucket
    * the PADDING WASTE if every doc in the bucket is padded to the
    * bucket max: waste_pm = 1000·(max·n − Σlen) div (max·n). The
    * whole point of length-grouped batching is driving this number
    * down vs one global bucket — LengthBucketsSpec computes the
    * global-batching waste and asserts the bucketed total beats it.
    *
    * Scale shape: one scan-side length projection (text never moves),
    * one map-side combine to ≤\|len domain / W\| bucket rows. */
  private def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((size(TF.tokens(col("text"))).cast("long")).as("n_tok"))
      .groupBy((col("n_tok") / LenBucketW).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
        max("n_tok").as("max_tok"))
      .select(col("bucket"), col("n_docs"), col("sum_tok"), col("max_tok"),
        expr("1000 * (max_tok * n_docs - sum_tok) div (max_tok * n_docs)")
          .as("waste_pm"))
      .orderBy("bucket")

  private val lengthBucketsSql =
    s"""WITH t AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |b AS (
       |  SELECT n_tok // $LenBucketW AS bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       |    CAST(MAX(n_tok) AS BIGINT) AS max_tok
       |  FROM t GROUP BY 1)
       |SELECT bucket, n_docs, sum_tok, max_tok,
       |  CAST(1000 * (max_tok * n_docs - sum_tok) // (max_tok * n_docs) AS BIGINT)
       |    AS waste_pm
       |FROM b ORDER BY bucket""".stripMargin

  // -------------------------------------------------------- vocab coverage

  /** VOCABULARY-SIZE tuning curve — token-occurrence coverage of the
    * top-N most frequent words for N ∈ {4, 8, 16, 32}: the table a
    * vocabulary/tokenizer budget is picked from (the `q_nprobe_curve`
    * role for the tokenizer tier). The fixture corpus holds ~31
    * distinct words, so the curve genuinely saturates inside the
    * swept range. Ranks are (count desc, word) — fully deterministic;
    * the top-32 is a distributed TakeOrderedAndProject (never a
    * global sort), and the per-N sums run over that ≤32-row frame.
    *
    * Scale shape: one explode + map-side (word) combine to \|vocab\|
    * rows; top-32 via per-partition heaps; the coverage fold runs over
    * the ≤32-row frame with the totals as scalar subqueries. */
  private def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val freq = graft.ops.SideCache.persist(
      Tables.documentsFan(spark, dir)
        .select(explode(TF.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")))
    val total = freq.agg(sum("cnt").as("total"),
      count(lit(1)).as("n_vocab"))
    val top = freq.orderBy(col("cnt").desc, col("word")).limit(32)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("cnt").desc, col("word"))))
    val ns = Seq(4, 8, 16, 32)
    ns.map { n =>
      top.filter(col("rnk") <= n)
        .agg(coalesce(sum("cnt"), lit(0L)).as("covered"),
          count(lit(1)).as("n_kept"))
        .withColumn("n_vocab", total.select("n_vocab").scalar())
        .withColumn("total", total.select("total").scalar())
        .select(lit(n.toLong).as("top_n"), col("n_kept"), col("n_vocab"),
          col("covered"), col("total"),
          expr("1000 * covered div total").as("coverage_pm"))
    }.reduce(_ unionByName _).orderBy("top_n")
  }

  private val vocabCoverageSql = {
    def tier(n: Int): String =
      s"""SELECT $n AS top_n,
         |  (SELECT COUNT(*) FROM top WHERE rnk <= $n) AS n_kept,
         |  (SELECT COUNT(*) FROM freq) AS n_vocab,
         |  (SELECT COALESCE(SUM(cnt), 0) FROM top WHERE rnk <= $n) AS covered,
         |  (SELECT SUM(cnt) FROM freq) AS total""".stripMargin
    s"""WITH freq AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |top AS MATERIALIZED (
       |  SELECT word, cnt,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
       |  FROM freq QUALIFY rnk <= 32)
       |SELECT CAST(top_n AS BIGINT) AS top_n, CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(n_vocab AS BIGINT) AS n_vocab, CAST(covered AS BIGINT) AS covered,
       |  CAST(total AS BIGINT) AS total,
       |  CAST(1000 * covered // total AS BIGINT) AS coverage_pm
       |FROM (${(Seq(4, 8, 16, 32).map(tier)).mkString("\n  UNION ALL\n  ")})
       |ORDER BY top_n""".stripMargin
  }

  /** md5-of-normalized-text document fingerprint. */
  private def fingerprintQ(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private val fingerprintSql =
    "SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id"

  /** Exact dedup: hash-groupBy, keep min doc_id per content hash. */
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir)).orderBy("h")

  private val dedupExactSql =
    """SELECT md5(text) AS h, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  /** Exact n-gram (3-shingle) Jaccard near-dup pairs at ≥ 50% — the
    * oracle-checkable exact tier of near-dup detection (the
    * sketch-based scalable tier is q_dedup_minhash).
    *
    * Scale control: shingles occurring in more than `MaxDf` documents
    * are dropped before the pair join — the standard stop-shingle cap
    * that bounds per-key join fan-out to MaxDf² while leaving
    * rare-shingle (i.e. discriminative) overlap intact. The oracle
    * applies the identical cap, so the comparison stays exact. */
  private val MaxDf = 100

  private def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // shingles are joined BY HASH (8-byte poly keys, codegen'd), not
    // by string: the self-join shuffles and compares fixed-width longs
    // instead of ~20-char UTF8 shingles. The 31-bit universe admits
    // rare cross-doc collisions; the oracle applies the identical hash
    // so the comparison stays exact (production would widen the hash,
    // not drop it — the join-on-fixed-width-key shape is the point).
    // NOT persisted (r20 A/B, twice): caching sh/sizes serializes the
    // sizes-join broadcast builds that otherwise run concurrently with
    // the pair stage — measured 1.55-1.92 plain vs 1.57-1.76 cached
    // (wash here, consistent loss on q_containment's bigger corpus)
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.F.shingleHashes(col("text"), 3)).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // bucket-pair pattern (Dedup.bucketPairs): ONE shuffle groups the
    // shingle table into per-shingle doc-id buckets, the df cap is the
    // same aggregate's filter (no separate stop-set pass, no anti
    // join, no persist), and pairs are emitted map-side bounded at
    // MaxDf²/2 per shingle — replaces a two-shuffle self-join whose
    // build side recomputed the whole shingle lineage.
    val pairs = Dedup.bucketPairs(sh, Seq("shingle"), "doc_id", MaxDf)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .filter(col("inter") * 2 >= col("n_a") + col("n_b") - col("inter"))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        floor(col("inter") * 100.0 / (col("n_a") + col("n_b") - col("inter")) + lit(1e-6))
          .as("jaccard_pct"))
      .orderBy("id_a", "id_b")
  }

  /** Containment (asymmetric Jaccard) — the subset-duplicate
    * detector: an EXCERPT shares nearly all of ITS shingles with its
    * source (containment ≈ 100%) while symmetric Jaccard sits near
    * |excerpt|/|source| and sails under every dedup threshold — the
    * quote/preview/syndication-fragment case exact and MinHash dedup
    * both miss. C(small→big) = |A∩B| / min(|A|,|B|).
    *
    * Deterministic excerpts are PLANTED (the q_pii_scrub pattern):
    * every doc_id ≡ 0 (mod 50) contributes a half-length prefix as a
    * synthetic doc at −id−1 — the negative namespace is disjoint from
    * any real non-negative id by construction (no max-id collect, no
    * collision on corpora whose ids reach a fixed offset) — same
    * expression in the oracle. Plan
    * shape is exactly `q_ngram_jaccard`'s: hash-keyed shingle
    * buckets, df-capped, map-side bounded pair emission, sizes joined
    * back — one extra union in the scan, nothing else changes, which
    * is the point: containment is the same candidate machinery with
    * a different denominator. */
  private def containment(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val excerpts = base.filter(col("doc_id") % 50 === 0)
      .select((-col("doc_id") - 1L).as("doc_id"),
        expr("substring(text, 1, CAST(length(text) div 2 AS INT))").as("text"))
    val corpus = base.union(excerpts)
    // NOT persisted (r20 A/B, twice): see ngramJaccard — caching
    // consistently LOST here (1.76/1.88 plain vs 2.02/2.08 cached)
    val sh = corpus.select(col("doc_id"),
      explode(graft.functions.F.shingleHashes(col("text"), 3)).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = Dedup.bucketPairs(sh, Seq("shingle"), "doc_id", MaxDf)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        floor(col("inter") * 100.0 / least(col("n_a"), col("n_b")) + lit(1e-6))
          .as("cont_pct"),
        floor(col("inter") * 100.0 / (col("n_a") + col("n_b") - col("inter")) + lit(1e-6))
          .as("jaccard_pct"))
      .filter(col("cont_pct") >= 80)
      .orderBy("id_a", "id_b")
  }

  private val containmentSql =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1, substr(text, 1, CAST(length(text) // 2 AS INT))
      |  FROM documents WHERE doc_id % 50 = 0
      |), toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM corpus
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(CASE WHEN len(t) >= 3
      |      THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE CAST([] AS VARCHAR[]) END, shs -> ${OracleSqlFrag.poly("shs")}))) AS shingle
      |  FROM toks
      |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
      |  WHERE df <= $MaxDf
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT id_a, id_b, inter, n_a, n_b, cont_pct, jaccard_pct FROM (
      |  SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
      |    CAST(floor(100.0 * inter / LEAST(sa.n, sb.n) + 0.000001) AS BIGINT) AS cont_pct,
      |    CAST(floor(100.0 * inter / (sa.n + sb.n - inter) + 0.000001) AS BIGINT) AS jaccard_pct
      |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
      |WHERE cont_pct >= 80
      |ORDER BY id_a, id_b""".stripMargin

  private val ngramJaccardSql =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(CASE WHEN len(t) >= 3
      |      THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE CAST([] AS VARCHAR[]) END, shs -> ${OracleSqlFrag.poly("shs")}))) AS shingle
      |  FROM toks
      |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
      |  WHERE df <= $MaxDf
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
      |  CAST(floor(100.0 * inter / (sa.n + sb.n - inter) + 0.000001) AS BIGINT) AS jaccard_pct
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE inter * 2 >= (sa.n + sb.n - inter)
      |ORDER BY id_a, id_b""".stripMargin

  /** Prefix-filtered EXACT similarity join (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): every pair
    * of documents with 3-shingle-set Jaccard ≥ 50%, with NO df cap, NO
    * sketch approximation — the lossless exact tier between
    * `q_ngram_jaccard` (df-capped: drops pairs whose only shared
    * shingles are frequent) and `q_dedup_minhash` (probabilistic).
    *
    * The losslessness argument (and why it scales): order the shingle
    * universe globally by (df asc, token asc) — rarest first. If
    * J(a,b) ≥ τ then |a∩b| ≥ ⌈τ·max(|a|,|b|)⌉ =: α, and the smallest
    * common token under that order must sit within the first
    * |x| − α + 1 tokens of BOTH docs (were it deeper in either, fewer
    * than α tokens could follow it there, contradicting the overlap).
    * So indexing only each doc's first |x| − ⌈τ·|x|⌉ + 1 ≥ |x| − α + 1
    * tokens (τ = ½ ⇒ ⌊n/2⌋ + 1 of them) finds every qualifying pair.
    * Because the global order puts the RAREST tokens in the prefixes,
    * the inverted-index join fans out on low-df keys — the candidate
    * bound comes from the ordering itself, not from dropping data.
    * A pair-independent length filter (2·min(n_a,n_b) ≥ max — necessary
    * for J ≥ ½ since inter ≤ min and union ≥ max) prunes at candidate
    * emission. Exact verify joins candidates back to the per-doc
    * sorted token arrays and intersects — output-proportional.
    *
    * The DuckDB oracle is the BRUTE-FORCE O(n²) join, so the hash
    * compare is a machine-checked proof that the prefix filter lost
    * nothing (TextDedupSpec additionally pins candidates ≪ n²/2).
    * Plan: 2 corpus scans (tokens, verify arrays); shuffles on token
    * (df agg + index join) and doc_id (prefix ranking) — all either
    * map-side-collapsing or output-proportional at 100 TB. */
  private def prefixJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // persisted (r20): the shingle arrays feed the token explode AND
    // both verify-side gathers — one tokenize pass instead of three
    val arrs = graft.ops.SideCache.persist(docs.select(col("doc_id"),
      graft.functions.F.shingleHashes(col("text"), 3).as("ts")))
    val toks = arrs.select(col("doc_id"), size(col("ts")).cast("long").as("n"),
      explode(col("ts")).as("token"))
    val df = toks.groupBy("token").agg(count(lit(1)).as("df"))
    // persisted (r20): the self-join's two sides otherwise each
    // re-run the explode + df aggregate + prefix-rank window (the
    // before-plan carries the whole subtree twice)
    val pref = graft.ops.SideCache.persist(toks.join(df, "token")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("token"))))
      .filter(col("rk") <= expr("n div 2") + 1)
      .select(col("doc_id"), col("n"), col("token")))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(arrs.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(arrs.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long").as("inter"),
        size(col("ts_a")).cast("long").as("n_a"),
        size(col("ts_b")).cast("long").as("n_b"))
      // union > 0 guards the degenerate empty-shingle-set pair (< 3
      // tokens each): Spark would NULL the 0/0 pct where DuckDB errors.
      .filter(col("inter") * 2 >= col("n_a") + col("n_b") - col("inter") &&
        col("n_a") + col("n_b") - col("inter") > 0)
      .withColumn("jaccard_pct",
        floor(col("inter") * 100.0 / (col("n_a") + col("n_b") - col("inter")) + lit(1e-6)))
      .orderBy("id_a", "id_b")
  }

  private val prefixJoinSql =
    s"""WITH spl AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), toks AS (
       |  SELECT doc_id, list_distinct(list_transform(CASE WHEN len(t) >= 3
       |    THEN list_transform(generate_series(1, len(t)-2), pji -> t[pji] || ' ' || t[pji+1] || ' ' || t[pji+2])
       |    ELSE CAST([] AS VARCHAR[]) END, pjt -> ${OracleSqlFrag.poly("pjt")})) AS ts
       |  FROM spl
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
       |    CAST(len(a.ts) AS BIGINT) AS n_a, CAST(len(b.ts) AS BIGINT) AS n_b
       |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, inter, n_a, n_b,
       |  CAST(floor(100.0 * inter / (n_a + n_b - inter) + 0.000001) AS BIGINT) AS jaccard_pct
       |FROM pairs
       |WHERE inter * 2 >= n_a + n_b - inter AND n_a + n_b - inter > 0
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash+LSH near-dup pairs. The polynomial hash family
    * ([[graft.functions.MinHashSig]]) is exact integer arithmetic, so
    * the oracle replicates the whole pipeline — shingles, signatures,
    * band hashes, bucket join, exact-Jaccard verify — in SQL. */
  private def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), minJaccardPct = 50)
      .orderBy("id_a", "id_b")

  private val dedupMinhashSql = {
    val M = OracleSqlFrag.Mod
    // 64 per-permutation minima over the per-shingle base hashes
    val sigList = (0 until Dedup.NumHashes).map { k =>
      s"list_min(list_transform(h, mh -> (${Dedup.permA(k)} * mh + ${Dedup.permB(k)}) % $M))"
    }.mkString("[\n      ", ",\n      ", "]")
    // band hash: fold acc = (acc*131 + sig[band*4+r+1]) % M, acc0 = 0
    val bandHash = (0 until Dedup.RowsPerBand).foldLeft("0") { (acc, r) =>
      s"(($acc * 131 + sig[band * ${Dedup.RowsPerBand} + ${r + 1}]) % $M)"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), shf AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |      THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END) AS sh
       |    FROM toks)
       |  WHERE len(sh) > 0
       |), hs AS (
       |  SELECT doc_id, sh, list_transform(sh, s -> ${OracleSqlFrag.poly("s")}) AS h FROM shf
       |), sig AS (
       |  SELECT doc_id, $sigList AS sig FROM hs
       |), bands AS (
       |  SELECT doc_id, band, $bandHash AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.Bands - 1})) AS band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, jaccard_pct FROM (
       |  SELECT id_a, id_b,
       |    CAST(floor(inter * 100.0 / (n_a + n_b - inter) + 0.000001) AS BIGINT) AS jaccard_pct
       |  FROM (
       |    SELECT id_a, id_b, len(list_intersect(sa.sh, sb.sh)) AS inter,
       |      len(sa.sh) AS n_a, len(sb.sh) AS n_b
       |    FROM cand JOIN shf sa ON id_a = sa.doc_id JOIN shf sb ON id_b = sb.doc_id))
       |WHERE jaccard_pct >= 50 ORDER BY id_a, id_b""".stripMargin
  }

  /** MinHash accuracy twin (the `_err` pattern of the approx tier):
    * for every LSH candidate pair, the signature-agreement Jaccard
    * ESTIMATE (agree/64) next to the exact shingle Jaccard, plus a
    * within-band flag. This is the contract that justifies replacing
    * exact pairwise Jaccard with signatures at 100 TB: the estimate's
    * error is bounded (~1/√64 std), and because the hash family is
    * exact integer arithmetic the estimate itself — not just the
    * final pairs — is hash-verified cross-engine. Candidates only
    * (LSH already bounds them); |est − exact| ≤ 25 pct-points is a
    * ~4σ band, spec-asserted to hold for the whole corpus. */
  private def minhashEstErr(spark: SparkSession, dir: String): DataFrame = {
    val withSh = graft.ops.SideCache.persist(
      TF.shingleTable(Tables.documents(spark, dir), "doc_id", "text", 3)
        .filter(size(col("sh")) > 0))
    val sigs = Dedup.minhashSignature(withSh, "doc_id", "sh")
    // one persisted per-doc (sig, shingles) side table: the candidate
    // fetch is then TWO joins (one per pair side), not four — at scale
    // each join is a shuffle of the pair list against the doc table
    val props = graft.ops.SideCache.persist(
      sigs.join(withSh.select(col("doc_id"), col("sh")), Seq("doc_id")))
    val bands = graft.ops.SideCache.persist(
      Dedup.bandTable(sigs, "doc_id"))
    val cand = Dedup.bucketPairs(bands, Seq("band", "band_hash"), "doc_id",
        1024, Dedup.OverCap.Star)
      .distinct()
    // integer agreement count over the two signatures — order-free
    val agree = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
    cand
      .join(props.select(col("doc_id").as("id_a"),
        col("sig").as("sig_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(props.select(col("doc_id").as("id_b"),
        col("sig").as("sig_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("est_pct", floor(agree * 100.0 / Dedup.NumHashes + lit(1e-6)))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("exact_pct", floor(col("inter") * 100.0 /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) + lit(1e-6)))
      .select(col("id_a"), col("id_b"), col("est_pct"), col("exact_pct"),
        (abs(col("est_pct") - col("exact_pct")) <= 25).as("within_25"))
      .orderBy("id_a", "id_b")
  }

  private val minhashEstErrSql = {
    val M = OracleSqlFrag.Mod
    val sigList = (0 until Dedup.NumHashes).map { k =>
      s"list_min(list_transform(h, mh -> (${Dedup.permA(k)} * mh + ${Dedup.permB(k)}) % $M))"
    }.mkString("[\n      ", ",\n      ", "]")
    val bandHash = (0 until Dedup.RowsPerBand).foldLeft("0") { (acc, r) =>
      s"(($acc * 131 + sig[band * ${Dedup.RowsPerBand} + ${r + 1}]) % $M)"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), shf AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |      THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END) AS sh
       |    FROM toks)
       |  WHERE len(sh) > 0
       |), hs AS (
       |  SELECT doc_id, sh, list_transform(sh, s -> ${OracleSqlFrag.poly("s")}) AS h FROM shf
       |), sig AS (
       |  SELECT doc_id, $sigList AS sig FROM hs
       |), bands AS (
       |  SELECT doc_id, band, $bandHash AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.Bands - 1})) AS band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, est_pct, exact_pct,
       |  abs(est_pct - exact_pct) <= 25 AS within_25
       |FROM (
       |  SELECT id_a, id_b,
       |    CAST(floor(len(list_filter(generate_series(1, ${Dedup.NumHashes}),
       |      gi -> sa.sig[gi] = sb.sig[gi])) * 100.0 / ${Dedup.NumHashes} + 0.000001) AS BIGINT) AS est_pct,
       |    CAST(floor(len(list_intersect(ha.sh, hb.sh)) * 100.0 /
       |      (len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh))) + 0.000001) AS BIGINT) AS exact_pct
       |  FROM cand
       |  JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
       |  JOIN shf ha ON id_a = ha.doc_id JOIN shf hb ON id_b = hb.doc_id)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash near-dup pairs — fully oracle-replicated (the fingerprint
    * is exact integer arithmetic; see [[graft.functions.SimHash64]]
    * for the 62-bit layout). */
  private def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Exact TOKEN-LEVEL EDIT-DISTANCE verification of the LSH
    * candidates — the verify tier a production near-dup pipeline runs
    * between candidate generation (cheap, approximate) and the drop
    * decision (exact): Levenshtein over the pair's token sequences,
    * kept at ≥ 60% similarity. O(len²) per pair is affordable
    * precisely because the input is the OUTPUT-PROPORTIONAL candidate
    * list, not corpus² — the cost argument the whole dedup family is
    * built on.
    *
    * Each token is folded to ONE printable-ASCII char
    * (`chr(polyhash % 94 + 33)`) and the native `levenshtein` runs on
    * the resulting strings: that makes the metric token-level (the
    * right granularity for documents — char-level is for short
    * fields), language-neutral (a zh token hashes like any other),
    * AND cross-engine exact — Spark's levenshtein counts chars while
    * DuckDB's counts bytes, which diverge on any non-ASCII text, but
    * on a pure-ASCII projection byte == char. 1/94 per-token
    * collisions only ever RAISE similarity of a candidate pair by a
    * hair; the ratio is floor-quantized integer, so the tier is fully
    * hash-verified. Token strings are gathered by two hash joins
    * against the corpus (the `q_ann_rerank` gather shape). */
  private def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val tokStr = array_join(
      transform(TF.tokens(col("text")),
        t => chr(pmod(graft.functions.F.polyHash(t), lit(94L)) + 33)), "")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokStr.as("ts"))
    val pairs = Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3)
      .select("id_a", "id_b")
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ts_a"), col("ts_b")).cast("long").as("lev"),
        greatest(length(col("ts_a")), length(col("ts_b"))).cast("long").as("max_len"))
      // max_len = 0 ⇔ both texts empty (identical, and they DO pair:
      // equal simhash 0) ⇒ 100% similar by definition; without the
      // guard Spark's NULL-on-/0 silently drops the row while DuckDB
      // may yield inf — a cross-engine divergence.
      .withColumn("sim_pct",
        when(col("max_len") === 0, lit(100L)).otherwise(
          floor(lit(100.0) * (lit(1.0) - col("lev") / col("max_len")) + lit(1e-6))
            .cast("long")))
      .filter(col("sim_pct") >= 60)
      .orderBy("id_a", "id_b")
  }

  private lazy val editDistanceSql = {
    val pairCtes = dedupSimhashSql
      .stripPrefix("WITH ")
      .replaceAll("(?s)\\nSELECT id_a, id_b, hamming FROM \\(.*$", "")
    s"""WITH $pairCtes,
       |prs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |), tstr AS (
       |  SELECT doc_id, array_to_string(list_transform(string_split(text, ' '),
       |    edt -> chr(CAST(${OracleSqlFrag.poly("edt")} % 94 + 33 AS INT))), '') AS ts
       |  FROM documents
       |), lv AS (
       |  SELECT p.id_a, p.id_b,
       |    CAST(levenshtein(da.ts, db.ts) AS BIGINT) AS lev,
       |    CAST(GREATEST(length(da.ts), length(db.ts)) AS BIGINT) AS max_len
       |  FROM prs p
       |  JOIN tstr da ON da.doc_id = p.id_a
       |  JOIN tstr db ON db.doc_id = p.id_b)
       |SELECT id_a, id_b, lev, max_len,
       |  CASE WHEN max_len = 0 THEN CAST(100 AS BIGINT)
       |       ELSE CAST(floor(100.0 * (1.0 - CAST(lev AS DOUBLE) / max_len) + 0.000001) AS BIGINT)
       |  END AS sim_pct
       |FROM lv
       |WHERE max_len = 0
       |   OR floor(100.0 * (1.0 - CAST(lev AS DOUBLE) / max_len) + 0.000001) >= 60
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------- delta ingestion

  /** Nightly-INGEST dedup — the incremental shape every production
    * corpus runs instead of re-deduping history: an incoming batch
    * (doc_id ≡ 0 mod 7 here) is admitted against the EXISTING corpus
    * only. Two tiers with precedence: byte-exact on the normalized
    * content hash (`q_dedup_normalized`'s kernel), then SimHash
    * hamming ≤ 3 near-dup (`q_dedup_simhash`'s kernel) restricted to
    * incoming×existing pairs — within-batch duplicates are NOT
    * resolved here (they are tomorrow's "existing", the standard
    * nightly contract). Verdict per incoming doc: exact_dup /
    * near_dup / new, with the minimum matching existing id.
    *
    * Scale shape: at 100 TB the existing side's hashes and
    * fingerprints are yesterday's PERSISTED artifacts — only the
    * delta is normalized/fingerprinted, the exact tier is a
    * delta-proportional hash join (Bloom-prunable probe,
    * `q_bloom_prune`'s build side IS this hash set), and the LSH
    * block join touches only buckets containing a delta member. The
    * fixture recomputes both sides in one pass for the oracle's
    * sake; the pair volume is output-proportional either way. */
  private def deltaIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nh = graft.ops.SideCache.persist(docs.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("h")))
    val inc = nh.filter(col("doc_id") % 7 === 0)
    val ex = nh.filter(col("doc_id") % 7 =!= 0)
    val exact = inc.join(ex.select(col("h"), col("doc_id").as("m0")), Seq("h"))
      .groupBy("doc_id").agg(min("m0").as("mx"))
    val prs = graft.ops.SideCache.persist(
      Dedup.simhashPairs(docs, maxHamming = 3))
    val near = prs
      .filter(col("id_a") % 7 === 0 && col("id_b") % 7 =!= 0)
      .select(col("id_a").as("doc_id"), col("id_b").as("p"))
      .union(prs.filter(col("id_b") % 7 === 0 && col("id_a") % 7 =!= 0)
        .select(col("id_b").as("doc_id"), col("id_a").as("p")))
      .groupBy("doc_id").agg(min("p").as("mn"))
    inc.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("mx").isNotNull, "exact_dup")
          .when(col("mn").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("mx"), col("mn"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  private lazy val deltaIngestSql = {
    val pairCtes = dedupSimhashSql
      .stripPrefix("WITH ")
      .replaceAll("(?s)\\nSELECT id_a, id_b, hamming FROM \\(.*$", "")
    s"""WITH $pairCtes,
       |prs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |), nh AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |  FROM documents),
       |inc AS (SELECT * FROM nh WHERE doc_id % 7 = 0),
       |ex AS (SELECT * FROM nh WHERE doc_id % 7 <> 0),
       |exact AS (
       |  SELECT i.doc_id, MIN(e.doc_id) AS mx
       |  FROM inc i JOIN ex e USING (h) GROUP BY i.doc_id),
       |near AS (
       |  SELECT doc_id, MIN(p) AS mn FROM (
       |    SELECT id_a AS doc_id, id_b AS p FROM prs
       |    WHERE id_a % 7 = 0 AND id_b % 7 <> 0
       |    UNION ALL
       |    SELECT id_b AS doc_id, id_a AS p FROM prs
       |    WHERE id_b % 7 = 0 AND id_a % 7 <> 0)
       |  GROUP BY doc_id)
       |SELECT i.doc_id,
       |  CASE WHEN x.mx IS NOT NULL THEN 'exact_dup'
       |       WHEN n.mn IS NOT NULL THEN 'near_dup' ELSE 'new' END AS verdict,
       |  CAST(COALESCE(x.mx, n.mn, -1) AS BIGINT) AS match_id
       |FROM inc i
       |LEFT JOIN exact x ON i.doc_id = x.doc_id
       |LEFT JOIN near n ON i.doc_id = n.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  /** Nightly-ingest dedup SERVED FROM THE STORED ARTIFACT — the same
    * admission contract as `q_delta_ingest`, but with a genuine
    * write->read boundary inside the plan: the EXISTING corpus's
    * fingerprint table (doc_id, normalized-content md5, simhash) is
    * computed in one pass, written with the partitioned parquet sink
    * (`q_write_partitioned`'s machinery), read BACK from disk, and
    * the incoming delta is admitted against the STORED table only.
    * Only the delta is normalized/fingerprinted at serve time; the
    * exact tier is a delta-proportional hash join against stored `h`,
    * and the near tier joins the delta's 4 pigeonhole blocks against
    * blocks derived from the STORED simhash — only buckets containing
    * a delta member are touched, so serve cost ∝ |delta|, never
    * |corpus|.
    *
    * Layout note: the artifact is shard-partitioned on doc_id here;
    * at 100 TB the table would be BUCKETED on `h` so tomorrow's
    * exact-tier probe co-locates without a shuffle, and the block
    * table would be materialized alongside (block, block_val)-
    * partitioned for listing-level pruning. The un-capped block join
    * below inherits `q_dedup_simhash`'s bucket-cap caveat: a
    * pathological bucket is bounded by the same CappedMinIds
    * machinery, applied orthogonally.
    *
    * Planted exact twins: the fixture corpus holds ZERO byte-exact
    * duplicates anywhere (probed at sf0.001 and sf0.01), so a purely
    * natural delta would never fire the exact tier — a vacuous
    * measurement. The incoming batch therefore also carries one
    * exact copy (doc_id + 10⁶, identical text) of every existing doc
    * with doc_id % 50 == 1: the exact tier AND its precedence over
    * the (also-firing, hamming-0) near tier are hash-verified.
    *
    * DeltaIngestStoredSpec asserts bit-equality with an in-memory
    * recompute and that the executed plan scans the stored artifact
    * path. */
  private def deltaIngestStored(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_delta_index"
    val docs = Tables.documents(spark, dir)
    def normHash(c: Column) =
      md5(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")))
    // ---- nightly BUILD: one pass over the existing corpus computes
    // BOTH tiers' keys; overwrite = the nightly refresh.
    val ex = docs.filter(col("doc_id") % 7 =!= 0)
    val keys = ex.select(col("doc_id"), normHash(col("text")).as("h"),
      graft.functions.F.simhash64(TF.tokens(col("text"))).as("simhash"),
      pmod(col("doc_id"), lit(8L)).as("shard"))
    keys.write.mode("overwrite").partitionBy("shard").parquet(path)
    // ---- serve: delta admission against the STORED table. persisted:
    // the stored frame feeds the exact tier and the block join; the
    // delta frame feeds both tiers and the verdict spine.
    val stored = graft.ops.SideCache.persist(spark.read.schema(keys.schema).parquet(path))
    val incDocs = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .unionAll(docs
        .filter(col("doc_id") % 7 =!= 0 && pmod(col("doc_id"), lit(50L)) === 1)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
    val inc = graft.ops.SideCache.persist(
      incDocs.select(col("doc_id"), normHash(col("text")).as("h"),
        graft.functions.F.simhash64(TF.tokens(col("text"))).as("simhash")))
    // materialize both multi-consumer frames: each is scanned by the
    // exact tier AND the block join inside ONE final job — unmaterialized
    // lazy caches would race (the "Block already exists" pitfall)
    stored.count()
    inc.count()
    // the shared admission kernel (graft.text.Dedup.admitDelta) — the
    // SAME verdict logic the live micro-batch twin runs per batch
    graft.text.Dedup.admitDelta(stored, inc)
      .orderBy("doc_id")
  }

  private lazy val deltaIngestStoredSql = {
    s"""WITH inc_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 7 <> 0 AND doc_id % 50 = 1),
       |ex_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
       |${simhashCteChain("inc_docs", "i")},
       |${simhashCteChain("ex_docs", "e")},
       |inh AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |  FROM inc_docs),
       |enh AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |  FROM ex_docs),
       |exact AS (
       |  SELECT i.doc_id, MIN(e.doc_id) AS mx
       |  FROM inh i JOIN enh e ON i.h = e.h GROUP BY i.doc_id),
       |near AS (
       |  SELECT i.doc_id, MIN(e.doc_id) AS mn
       |  FROM iblocks i JOIN eblocks e
       |    ON i.block = e.block AND i.block_val = e.block_val
       |  WHERE bit_count(xor(i.simhash, e.simhash)) <= 3
       |  GROUP BY i.doc_id)
       |SELECT i.doc_id,
       |  CASE WHEN x.mx IS NOT NULL THEN 'exact_dup'
       |       WHEN n.mn IS NOT NULL THEN 'near_dup' ELSE 'new' END AS verdict,
       |  CAST(COALESCE(x.mx, n.mn, -1) AS BIGINT) AS match_id
       |FROM (SELECT doc_id FROM inc_docs) i
       |LEFT JOIN exact x ON i.doc_id = x.doc_id
       |LEFT JOIN near n ON i.doc_id = n.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  /** SimHash fingerprint CTE chain (toks→hs→fp→blocks) over an
    * arbitrary source relation with a name prefix — oracles needing
    * TWO independently fingerprinted sides (e.g. the stored-artifact
    * delta ingest: incoming incl. planted twins vs existing) emit the
    * chain twice. Bit k (k<31) from poly base 131; bit 31+k from
    * poly base 137 — identical to [[graft.functions.SimHash64]]. */
  private def simhashCteChain(src: String, pre: String): String = {
    val bitTerms =
      (0 until 31).map { k =>
        s"CASE WHEN list_sum(list_transform(h1, x -> CASE WHEN ((x >> $k) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $k) ELSE 0 END"
      } ++ (0 until 31).map { k =>
        s"CASE WHEN list_sum(list_transform(h2, x -> CASE WHEN ((x >> $k) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << ${31 + k}) ELSE 0 END"
      }
    s"""${pre}toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
       |), ${pre}hs AS (
       |  SELECT doc_id,
       |    list_transform(t, s -> ${OracleSqlFrag.poly("s", 131L)}) AS h1,
       |    list_transform(t, s -> ${OracleSqlFrag.poly("s", 137L)}) AS h2
       |  FROM ${pre}toks
       |), ${pre}fp AS (
       |  SELECT doc_id, ${bitTerms.mkString("\n    + ")} AS simhash FROM ${pre}hs
       |), ${pre}blocks AS (
       |  SELECT doc_id, simhash, block, (simhash >> (16 * block)) % 65536 AS block_val
       |  FROM ${pre}fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS block)
       |)""".stripMargin
  }

  private val dedupSimhashSql = {
    s"""WITH ${simhashCteChain("documents", "")}
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Training-sample chunking: overlapping token windows (size 50,
    * stride 40) per document — the standard context-window prep step.
    * Pure per-row flatMap (one UDF call/doc, no shuffle, no state):
    * at 100 TB this runs at scan speed and the output is written
    * partitioned by the same file layout as the input. Chunk content
    * is carried as its polynomial hash so the oracle can verify every
    * chunk's exact text cross-engine without shipping strings. */
  private val ChunkSize = 50
  private val ChunkStride = 40

  private val chunkUdf = udf((text: String) => {
    val toks = text.split(' ')
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    var s = 0
    var ix = 0
    while (s < toks.length) {
      val e = math.min(s + ChunkSize, toks.length)
      val h = graft.functions.Poly.hashBytes(
        toks.slice(s, e).mkString(" ").getBytes("UTF-8"), 131L)
      out += ((ix, e - s, h))
      ix += 1
      s += ChunkStride
    }
    out.toSeq
  })

  private def chunking(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(chunkUdf(col("text"))).as("c"))
      .select(col("doc_id"), col("c._1").cast("long").as("chunk_ix"),
        col("c._2").cast("long").as("n_tok"), col("c._3").as("chunk_hash"))
      .orderBy("doc_id", "chunk_ix")

  private val chunkingSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |st AS (SELECT doc_id, tk,
       |  unnest(generate_series(0, len(tk) - 1, $ChunkStride)) AS s FROM t)
       |SELECT doc_id, s // $ChunkStride AS chunk_ix,
       |  least(s + $ChunkSize, len(tk)) - s AS n_tok,
       |  ${OracleSqlFrag.poly(s"array_to_string(list_slice(tk, s + 1, least(s + $ChunkSize, len(tk))), ' ')")} AS chunk_hash
       |FROM st ORDER BY doc_id, chunk_ix""".stripMargin

  /** TF-IDF top terms: per-document top-3 terms by tf·idf. Plan shape
    * at 100 TB: one shuffle builds the (doc, term, tf) table with
    * map-side combine, a term-keyed aggregate derives df (input
    * already grouped), the per-term idf joins back on term, and a
    * WindowGroupLimit top-k per doc closes. The score is quantized to
    * an integer (floor(x·1000 + eps)) BEFORE ranking so the rank
    * comparison is integer-deterministic cross-engine — a float
    * ORDER BY on two engines' ln() is one ulp away from disagreeing. */
  private def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
    // persisted (r20): tf feeds BOTH the df aggregate and the scored
    // join — without it the tokenize explode + (doc, term) aggregate
    // run twice per action
    val tf = graft.ops.SideCache.persist(
      terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1))).scalar()
    val scored = tf.join(df, Seq("term"))
      .withColumn("score_x1000",
        floor(col("tf") * log(n.cast("double") / col("df")) * 1000
          + lit(1e-6)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_x1000").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("score_x1000"))
      .orderBy("doc_id", "rk")
  }

  private val tfidfSql =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf.tf, df.df,
      |    CAST(floor(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df) * 1000 + 0.000001) AS BIGINT) AS score_x1000
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, rk, term, tf, df, score_x1000 FROM (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score_x1000 DESC, term) AS BIGINT) AS rk
      |  FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** BM25 document ranking for a fixed term set: the standard
    * retrieval scoring (idf · tf·(k1+1)/(tf + k1·(1−b + b·len/avglen)))
    * summed over query terms, top-10 docs. Same plan skeleton as
    * [[tfidf]] plus one broadcast of the two scalar corpus stats
    * (N, avg doc length); the query-term filter prunes the doc-term
    * table before any join. Scores are integer-quantized before the
    * ranking comparison (same determinism rule as tfidf). */
  private val BmK1 = 1.2
  private val BmB = 0.75
  private val BmTerms = Seq("data", "model", "training")

  private def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lens = docs.select(col("doc_id"), size(TF.tokens(col("text"))).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
      .filter(col("term").isin(BmTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(df, Seq("term")).join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      // per-term contribution quantized to an integer FIRST: a float
      // SUM's addition order is partition-dependent, an integer sum is
      // order-free — the score is defined as the sum of quantized
      // per-term contributions on both engines
      .withColumn("contrib_q",
        floor(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (BmK1 + 1)) /
          (col("tf") + lit(BmK1) * (lit(1 - BmB) + lit(BmB) * col("dl") / col("avgdl")))
          * 10000 + lit(1e-6)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("contrib_q")).as("score_x10000"),
        count(lit(1)).cast("long").as("n_terms"))
    scored.orderBy(col("score_x10000").desc, col("doc_id")).limit(10)
  }

  private val bm25Sql = {
    val terms = BmTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH lens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
       |), tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE term IN (SELECT unnest($terms)) GROUP BY doc_id, term
       |), df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)
       |SELECT doc_id,
       |  CAST(SUM(CAST(floor(
       |    ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |    (tf.tf * ${BmK1 + 1}) /
       |    (tf.tf + $BmK1 * (1 - $BmB + $BmB * lens.dl / avgdl))
       |    * 10000 + 0.000001) AS BIGINT)) AS BIGINT) AS score_x10000,
       |  COUNT(*) AS n_terms
       |FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY score_x10000 DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Tokenizer VOCAB COVERAGE / out-of-vocabulary rate — the metric a
    * tokenizer change is judged by ("what fraction of the corpus
    * falls outside the top-K vocabulary?"). Vocab = the top
    * [[OovVocabK]] whitespace tokens by corpus frequency (K chosen
    * at half this corpus's 31-token vocabulary so the rate actually
    * discriminates; a real run sets K to the tokenizer's vocab size)
    * (deterministic (count desc, token) tie-break); per doc, the
    * share of token occurrences outside it, floor-quantized.
    *
    * Scale shape: the tf aggregate map-side combines to \|distinct
    * tokens\| rows; the top-K is `TakeOrderedAndProject` (per-
    * partition heaps, P·K rows to the driver side of the plan, never
    * a vocabulary sort); the vocab then BROADCASTS into the per-token
    * membership join, and the per-doc aggregate map-side combines
    * again — two corpus scans, zero corpus shuffles. */
  private val OovVocabK = 16

  private def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(OovVocabK)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_pct",
        floor(lit(100.0) * col("n_oov") / col("n_tok") + lit(1e-6)).cast("long"))
      .orderBy("doc_id")
  }

  private val oovRateSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
       |  ORDER BY n DESC, tok LIMIT $OovVocabK
       |)
       |SELECT doc_id, COUNT(*) AS n_tok,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(floor(100.0 * SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
       |    / COUNT(*) + 0.000001) AS BIGINT) AS oov_pct
       |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Duplicate-cluster assignment: connected components over the
    * SimHash near-dup pair graph, Pregel-style min-label propagation
    * (iterate: every node takes the min label among itself and its
    * neighbors, until fixpoint). The driver loop runs O(cluster
    * diameter) rounds — near-dup clusters are shallow (dup clusters
    * are cliques-ish), so 2-4 rounds in practice; each round is one
    * join + one aggregate on the (output-proportional) edge list,
    * never on the corpus. This is the step that turns pair output
    * into "keep one doc per cluster" at 100 TB. Oracle: recursive-CTE
    * reachability over the identical SQL-replicated pair graph. */
  private def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3))
      .orderBy("doc_id")

  /** Same component assignment as q_dedup_cluster, computed by the
    * at-scale large-star/small-star algorithm ([[Dedup.wccStar]])
    * over the identical simhash pair graph — two independent
    * implementations, one oracle: both must land on min-id-of-
    * component exactly. */
  private def wccStarQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.wccStar(
      Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3))
      .orderBy("doc_id")

  private val dedupClusterSql = {
    // same fingerprint + pair derivation as dedupSimhashSql, then
    // recursive reachability; min reachable id = component id
    val pairCtes = dedupSimhashSql
      .stripPrefix("WITH ")
      .replaceAll("(?s)\\nSELECT id_a, id_b, hamming FROM \\(.*$", "")
    s"""WITH RECURSIVE $pairCtes,
       |prs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |), edges AS (
       |  SELECT id_a AS s, id_b AS d FROM prs
       |  UNION SELECT id_b, id_a FROM prs
       |), reach AS (
       |  SELECT s AS id, s AS r FROM edges
       |  UNION
       |  SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.id
       |)
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** TRAIN/EVAL SPLIT LEAKAGE audit — the contamination measurement
    * that motivates group-aware splitting (`q_group_split`'s "why"):
    * a benchmark built from a random per-document split leaks
    * whenever a near-duplicate pair straddles the boundary — the
    * model has effectively seen the eval document. Over the simhash
    * near-dup pair graph (`q_dedup_simhash`'s kernel), two schemes
    * under one hash:
    *
    *  - `naive`: hash-of-doc_id 80/20 split — near-dup pairs land
    *    cross-split at the base rate (~2·0.8·0.2), the leak;
    *  - `grouped`: split by the pair-graph COMPONENT id
    *    ([[Dedup.wccStar]] labels — near-dup closure), so every
    *    component lands wholly in one split and cross-pairs are ZERO
    *    BY CONSTRUCTION — the zero is inside the hash, not just a
    *    spec assertion.
    *
    * Output per scheme: cross / within-train / within-eval pair
    * counts + leak_pm. Scale shape: the pair graph is the already-
    * bounded LSH output; labels are output-proportional and broadcast
    * back onto the pairs; accounting is one map-side aggregate per
    * scheme. */
  private def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // the audit consumes the STORED pair graph (in production the
    // dedup pipeline's byproduct) — content-keyed commit, read here
    val root = Dedup.ensurePairGraph(spark, dir)
    val prs = graft.ops.SideCache.persist(
      spark.read.parquet(s"$root/pairs"))
    prs.count()
    val labels = graft.ops.SideCache.persist(
      spark.read.parquet(s"$root/labels"))
    labels.count()
    def sp(c: Column): Column =
      pmod(graft.functions.F.polyHash(c.cast("string")), lit(10L))
    def acct(scheme: String, df: DataFrame, sa: Column,
             sb: Column): DataFrame =
      df.agg(
          coalesce(sum(when((sa < 8) =!= (sb < 8), 1L).otherwise(0L)),
            lit(0L)).as("n_cross"),
          coalesce(sum(when(sa < 8 && sb < 8, 1L).otherwise(0L)),
            lit(0L)).as("n_train"),
          coalesce(sum(when(sa >= 8 && sb >= 8, 1L).otherwise(0L)),
            lit(0L)).as("n_eval"),
          count(lit(1)).as("n_pairs"))
        .select(lit(scheme).as("scheme"), col("n_cross"), col("n_train"),
          col("n_eval"), col("n_pairs"),
          expr("(1000 * n_cross) div n_pairs").as("leak_pm"))
    val naive = acct("naive", prs, sp(col("id_a")), sp(col("id_b")))
    val grp = prs
      .join(broadcast(labels.select(col("doc_id").as("id_a"),
        col("cluster_id").as("ca"))), Seq("id_a"))
      .join(broadcast(labels.select(col("doc_id").as("id_b"),
        col("cluster_id").as("cb"))), Seq("id_b"))
    val grouped = acct("grouped", grp, sp(col("ca")), sp(col("cb")))
    naive.unionAll(grouped).orderBy("scheme")
  }

  private lazy val splitLeakageSql = {
    val pairCtes = dedupSimhashSql
      .stripPrefix("WITH ")
      .replaceAll("(?s)\\nSELECT id_a, id_b, hamming FROM \\(.*$", "")
    def sp(e: String) = s"${OracleSqlFrag.poly(s"CAST($e AS VARCHAR)")} % 10"
    s"""WITH RECURSIVE $pairCtes,
       |prs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |), edges AS (
       |  SELECT id_a AS s, id_b AS d FROM prs
       |  UNION SELECT id_b, id_a FROM prs
       |), reach AS (
       |  SELECT s AS id, s AS r FROM edges
       |  UNION
       |  SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.id
       |), cl AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), sided AS (
       |  SELECT 'naive' AS scheme, ${sp("p.id_a")} AS sa, ${sp("p.id_b")} AS sb
       |  FROM prs p
       |  UNION ALL
       |  SELECT 'grouped', ${sp("ca.cluster_id")}, ${sp("cb.cluster_id")}
       |  FROM prs p
       |  JOIN cl ca ON ca.doc_id = p.id_a
       |  JOIN cl cb ON cb.doc_id = p.id_b)
       |SELECT scheme,
       |  CAST(COUNT(*) FILTER ((sa < 8) <> (sb < 8)) AS BIGINT) AS n_cross,
       |  CAST(COUNT(*) FILTER (sa < 8 AND sb < 8) AS BIGINT) AS n_train,
       |  CAST(COUNT(*) FILTER (sa >= 8 AND sb >= 8) AS BIGINT) AS n_eval,
       |  COUNT(*) AS n_pairs,
       |  CAST((1000 * COUNT(*) FILTER ((sa < 8) <> (sb < 8))) // COUNT(*)
       |    AS BIGINT) AS leak_pm
       |FROM sided GROUP BY scheme ORDER BY scheme""".stripMargin
  }

  /** DEDUP YIELD forecast — the question a dedup run is budgeted by:
    * "how many documents will near-dup collapse actually remove?" Per
    * CLUSTER SIZE over the stored near-dup component labels
    * ([[Dedup.ensurePairGraph]] — the dedup pipeline's byproduct):
    * how many clusters, how many docs they hold, and how many a
    * keep-one-per-cluster policy removes (size − 1 each); the size-1
    * row is the singleton mass (docs in no pair). The histogram IS
    * the dedup cost/benefit table: heavy tails mean a few huge
    * near-dup families dominate the yield (and the LSH bucket caps),
    * a flat size-2 profile means pair-twins only.
    *
    * Scale shape: one read of the output-proportional stored labels,
    * two map-side-collapsing aggregates (labels → sizes → histogram),
    * a 1-row corpus count for the singleton row. */
  private def dedupYield(spark: SparkSession, dir: String): DataFrame = {
    val root = Dedup.ensurePairGraph(spark, dir)
    val labels = graft.ops.SideCache.persist(
      spark.read.parquet(s"$root/labels"))
    labels.count()
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removed"))
    val singletons = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("total"))
      .withColumn("paired", labels.agg(count(lit(1))).scalar())
      .select(lit(1L).as("cluster_size"),
        (col("total") - col("paired")).as("n_clusters"),
        (col("total") - col("paired")).as("n_docs"),
        lit(0L).as("n_removed"))
    hist.unionAll(singletons).orderBy("cluster_size")
  }

  private lazy val dedupYieldSql = {
    val pairCtes = dedupSimhashSql
      .stripPrefix("WITH ")
      .replaceAll("(?s)\\nSELECT id_a, id_b, hamming FROM \\(.*$", "")
    s"""WITH RECURSIVE $pairCtes,
       |prs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |), edges AS (
       |  SELECT id_a AS s, id_b AS d FROM prs
       |  UNION SELECT id_b, id_a FROM prs
       |), reach AS (
       |  SELECT s AS id, s AS r FROM edges
       |  UNION
       |  SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.id
       |), cl AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), sizes AS (
       |  SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1
       |), hist AS (
       |  SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
       |    CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
       |    CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removed
       |  FROM sizes GROUP BY sz
       |  UNION ALL
       |  SELECT 1,
       |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cl),
       |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cl),
       |    0)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(n_clusters AS BIGINT) AS n_clusters, n_docs, n_removed
       |FROM hist ORDER BY cluster_size""".stripMargin
  }

  /** N-gram language-model fluency score (CCNet/Gopher-style quality
    * filter): corpus bigram frequencies → per-document average
    * log-frequency. Fluent text reuses common bigrams (high score);
    * gibberish, boilerplate-mangled or wrong-language text hits rare
    * ones (low score).
    *
    * Scale design: bigram hashes come from one codegen'd pass per doc
    * (multiplicity-preserving [[graft.functions.ShingleHashes]]
    * variant — an n-gram LM needs counts, not sets); the vocabulary
    * is df-capped (count ≥ 2) so singleton noise never joins; the
    * score join is an 8-byte-hash equi-join with partial aggregation
    * on both sides. Determinism: log-frequencies are quantized to
    * integer micros BEFORE the per-doc sum (the q_tfidf trick), so
    * combine order cannot change a bit. Docs with < 2 tokens have no
    * bigrams and are excluded by construction (both engines). */
  private def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bg = docs.select(col("doc_id"),
      explode(graft.functions.F.shingleHashesAll(col("text"), 2)).as("h"))
    val vocab = bg.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    bg.join(vocab, Seq("h"), "left")
      .select(col("doc_id"), Num.floorEps(
        log(lit(1.0) + coalesce(col("c"), lit(0L)).cast("double")) * 1e6)
        .as("lp_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_micro").as("sum_lp_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lp_micro"),
        floor(col("sum_lp_micro").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_lp_micro"))
      .orderBy("doc_id")
  }

  private val lmScoreSql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), bg AS (
       |  SELECT doc_id, ${OracleSqlFrag.poly("bgs")} AS h FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(t) >= 2
       |      THEN list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END) AS bgs
       |    FROM toks)
       |), vocab AS (
       |  SELECT h, COUNT(*) AS c FROM bg GROUP BY h HAVING COUNT(*) >= 2
       |), lp AS (
       |  SELECT doc_id, ${NumSql.floorEps("ln(1.0 + COALESCE(c, 0)) * 1000000")} AS lp_micro
       |  FROM bg LEFT JOIN vocab USING (h)
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro
       |  FROM lp GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, sum_lp_micro,
       |  CAST(floor(CAST(sum_lp_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS avg_lp_micro
       |FROM agg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ perplexity

  /** All adjacent token pairs of a document, in order (non-distinct).
    * Single-pass JIT kernel (the shingleUdf precedent — interpreted
    * higher-order lambdas are ~20× slower on this corpus). */
  private val bigramPairUdf = udf((text: String) => {
    val t = if (text == null) Array.empty[String] else text.split(' ')
    if (t.length < 2) Seq.empty[(String, String)]
    else (0 until t.length - 1).map(i => (t(i), t(i + 1)))
  })

  /** CCNet-style perplexity filtering with an in-engine LM: train a
    * conditional bigram word model with add-one smoothing on the
    * corpus itself — p(r|l) = (c(l,r)+1)/(c(l·)+V) — and score every
    * document by its average negative log-likelihood, bucketed for
    * the keep/flag/drop ladder ([[lmScore]] is the simpler
    * frequency-prior twin; this one is a real conditional LM, the
    * shape CCNet runs with KenLM).
    *
    * Determinism: each bigram's log-prob quantizes to µ-nats FIRST
    * (`floorEps(1e6·ln(p))` — ln of an identical double ratio on
    * both engines, ulp-guarded), so every downstream sum/divide is
    * exact integer arithmetic (`div`), immune to FP ordering.
    *
    * Scale anatomy at 100 TB: the only corpus-sized shuffle is the
    * (doc_id, l, r) multiplicity group-by (map-side combined — token
    * pairs within a doc repeat). The model itself (c2/c1/lp) lives
    * in distinct-bigram space, orders of magnitude smaller, and the
    * per-doc scoring join keys the doc-level multiplicity table by
    * (l, r) against that model — never doc × vocab. V is a scalar
    * subquery. */
  private def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bg = docs.select(col("doc_id"), explode(bigramPairUdf(col("text"))).as("b"))
      .select(col("doc_id"), col("b._1").as("l"), col("b._2").as("r"))
    val m = bg.groupBy("doc_id", "l", "r").agg(count(lit(1)).as("m"))
    val c2 = m.groupBy("l", "r").agg(sum("m").as("c2"))
    val c1 = c2.groupBy("l").agg(sum("c2").as("c1"))
    val v = docs.select(explode(TF.tokens(col("text"))).as("w"))
      .agg(countDistinct("w")).scalar()
    val lp = c2.join(c1, "l")
      .select(col("l"), col("r"), Num.floorEps(
        log((col("c2") + lit(1)).cast("double") /
          (col("c1") + v).cast("double")) * 1e6)
        .cast("long").as("lp_q"))
    val agg = m.join(lp, Seq("l", "r"))
      .groupBy("doc_id")
      .agg(sum("m").as("n_bigrams"), (-sum(col("m") * col("lp_q"))).as("nll_micro"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        coalesce(expr("nll_micro div n_bigrams"), lit(0L)).as("avg_nll_micro"))
      .withColumn("ppl_bucket", expr("avg_nll_micro div 100000"))
      .orderBy("doc_id")
  }

  private val perplexitySql =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, t[i] AS l, t[i+1] AS r
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
       |        FROM tk WHERE len(t) >= 2)),
       |m AS (SELECT doc_id, l, r, COUNT(*) AS m FROM bg GROUP BY 1, 2, 3),
       |c2 AS (SELECT l, r, CAST(SUM(m) AS BIGINT) AS c2 FROM m GROUP BY 1, 2),
       |c1 AS (SELECT l, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab
       |      FROM (SELECT unnest(t) AS w FROM tk)),
       |lp AS (SELECT c2.l, c2.r,
       |  ${NumSql.floorEps("ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vocab AS DOUBLE)) * 1000000")} AS lp_q
       |  FROM c2 JOIN c1 USING (l) CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       |    CAST(-SUM(m * lp_q) AS BIGINT) AS nll_micro
       |  FROM m JOIN lp USING (l, r) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(nll_micro, 0) AS nll_micro,
       |  COALESCE(nll_micro // n_bigrams, 0) AS avg_nll_micro,
       |  COALESCE(nll_micro // n_bigrams, 0) // 100000 AS ppl_bucket
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- LSH curve

  /** Empirical LSH S-CURVE — the design contract of the banding
    * scheme, MEASURED: for each cohort document (doc_id ≡ 0 mod 5)
    * and each mutation level m ∈ 1..9, a deterministic twin replaces
    * every token whose (token, position, doc) hash lands below m/10
    * with a unique junk marker, sweeping pairs across the whole
    * similarity spectrum (natural pairs can't probe the midrange —
    * measured: corpus pairs sit at Jaccard < 10% or ≥ 90% only). Per
    * exact-3-gram-Jaccard decile, the fraction of pairs the 16×4
    * MinHash banding emits as candidates. Theory: 1−(1−s⁴)¹⁶,
    * threshold near s ≈ (1/16)^(1/4) ≈ 0.5 — `q_minhash_est_err`
    * contracts the estimator, this contracts the CANDIDATE GENERATOR,
    * and the spec pins the S-bend (low deciles ≈ 0, high ≈ 100%,
    * monotone through the middle).
    *
    * Deciles are exact integer arithmetic ((inter·10) div union);
    * mutation, shingles, signatures, and band folds are the
    * oracle-replicated integer kernels; the probe is
    * O(\|cohort\|·9) pairs by construction — never all-pairs. */
  private def lshCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFan(spark, dir)
    def bandsOf(sh: DataFrame, id: String): DataFrame =
      Dedup.minhashSignature(sh, id, "sh").select(col(id),
        array((0 until Dedup.Bands).map(b => Dedup.bandHash(col("sig"), b)): _*)
          .as("bh"))
    val orig = graft.ops.SideCache.persist(
      TF.shingleTable(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", 3).filter(size(col("sh")) > 0))
    val origB = bandsOf(orig, "doc_id")
    // mutation-level twins: token i survives iff its hash clears m/10
    val mutants = graft.ops.SideCache.persist(
      docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), explode(typedlit((1 to 9).toList)).as("m"),
          split(col("text"), " ").as("toks"))
        .withColumn("mtext", concat_ws(" ",
          transform(col("toks"), (t, i) =>
            when(pmod(graft.functions.F.polyHash(
              concat_ws(":", t, (i + 1).cast("string"),
                col("doc_id").cast("string"))), lit(10L)) < col("m"),
              concat(lit("zz"), col("m"))).otherwise(t))))
        .select(col("doc_id"), col("m"),
          TF.shingleUdfCol(col("mtext"), 3).as("sh"))
        .filter(size(col("sh")) > 0))
    val pairs = orig.select(col("doc_id"), col("sh").as("sh_a"))
      .join(mutants.select(col("doc_id"), col("m"), col("sh").as("sh_b")),
        Seq("doc_id"))
    val withJac = pairs
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter"))
      .withColumn("decile", least(expr("(inter * 10) div uni"), lit(9L)))
      .select("doc_id", "m", "decile")
    val mutBands = mutants
      .select(col("doc_id"), col("m"),
        array((0 until Dedup.Bands).map(b =>
          Dedup.bandHash(graft.functions.F.minhashSig(col("sh"),
            Dedup.permA, Dedup.permB), b)): _*).as("bh_b"))
    withJac
      .join(origB.select(col("doc_id"), col("bh").as("bh_a")), Seq("doc_id"))
      .join(mutBands, Seq("doc_id", "m"))
      .withColumn("cand",
        when(exists(zip_with(col("bh_a"), col("bh_b"), (x, y) => x === y),
          b => b), 1L).otherwise(0L))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"), sum("cand").as("n_cand"))
      .withColumn("rate_bp", expr("(n_cand * 10000) div n_pairs"))
      .orderBy("decile")
  }

  private lazy val lshCurveSql = {
    val M = OracleSqlFrag.Mod
    val sigList = (0 until Dedup.NumHashes).map { k =>
      s"list_min(list_transform(h, mh -> (${Dedup.permA(k)} * mh + ${Dedup.permB(k)}) % $M))"
    }.mkString("[\n      ", ",\n      ", "]")
    def bandHashB(b: Int): String =
      (0 until Dedup.RowsPerBand).foldLeft("0") { (acc, r) =>
        s"(($acc * 131 + sig[${b * Dedup.RowsPerBand + r + 1}]) % $M)"
      }
    val bhList = (0 until Dedup.Bands).map(bandHashB)
      .mkString("[\n      ", ",\n      ", "]")
    def shOf(list: String): String =
      s"""list_distinct(CASE WHEN len($list) >= 3
         |      THEN list_transform(generate_series(1, len($list)-2),
         |        i -> $list[i] || ' ' || $list[i+1] || ' ' || $list[i+2])
         |      ELSE CAST([] AS VARCHAR[]) END)""".stripMargin
    s"""WITH cohort AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE doc_id % 5 = 0
       |), orig AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, ${shOf("t")} AS sh FROM cohort)
       |  WHERE len(sh) > 0
       |), ha AS (
       |  SELECT doc_id, list_transform(sh, s -> ${OracleSqlFrag.poly("s")}) AS h FROM orig
       |), siga AS (SELECT doc_id, $sigList AS sig FROM ha
       |), bha AS MATERIALIZED (SELECT doc_id, $bhList AS bh FROM siga
       |), mut AS (
       |  SELECT c.doc_id, ms.m,
       |    list_transform(generate_series(1, len(t)), i ->
       |      CASE WHEN (${OracleSqlFrag.poly(
      "t[i] || ':' || CAST(i AS VARCHAR) || ':' || CAST(c.doc_id AS VARCHAR)")} % 10) < ms.m
       |        THEN 'zz' || CAST(ms.m AS VARCHAR) ELSE t[i] END) AS mt
       |  FROM cohort c CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS m) ms
       |), msh AS (
       |  SELECT doc_id, m, sh FROM (
       |    SELECT doc_id, m, ${shOf("mt")} AS sh FROM mut)
       |  WHERE len(sh) > 0
       |), hb AS (
       |  SELECT doc_id, m, list_transform(sh, s -> ${OracleSqlFrag.poly("s")}) AS h FROM msh
       |), sigb AS (SELECT doc_id, m, $sigList AS sig FROM hb
       |), bhb AS MATERIALIZED (SELECT doc_id, m, $bhList AS bh FROM sigb
       |), jac AS (
       |  SELECT o.doc_id, s.m,
       |    LEAST((CAST(len(list_intersect(o.sh, s.sh)) AS BIGINT) * 10) //
       |      (CAST(len(o.sh) + len(s.sh) AS BIGINT) - len(list_intersect(o.sh, s.sh))), 9) AS decile
       |  FROM orig o JOIN msh s ON o.doc_id = s.doc_id
       |), cand AS (
       |  SELECT j.decile,
       |    CASE WHEN list_contains(list_transform(generate_series(1, ${Dedup.Bands}),
       |      i -> a.bh[i] = b.bh[i]), true) THEN 1 ELSE 0 END AS c
       |  FROM jac j
       |  JOIN bha a ON a.doc_id = j.doc_id
       |  JOIN bhb b ON b.doc_id = j.doc_id AND b.m = j.m)
       |SELECT decile, COUNT(*) AS n_pairs,
       |  CAST(SUM(c) AS BIGINT) AS n_cand,
       |  (CAST(SUM(c) AS BIGINT) * 10000) // COUNT(*) AS rate_bp
       |FROM cand GROUP BY decile ORDER BY decile""".stripMargin
  }

  // -------------------------------------------------------- signal agreement

  /** QUALITY-SIGNAL AGREEMENT — tie-broken-rank Spearman correlation
    * between the heuristic quality score (`q_quality_score`) and the
    * bigram-LM average NLL (`q_perplexity`): the meta-measurement a
    * curation pipeline runs before trusting a cheap filter as a proxy
    * for an expensive one (CCNet's perplexity vs Gopher's rules). A
    * strong NEGATIVE rho means the heuristic agrees with the LM
    * (higher quality ↔ lower NLL); near zero means the two gates cut
    * different corpora and both earn their place in the funnel.
    *
    * Determinism: ranks are row_numbers over (value, doc_id) — exact
    * tie-broken ranks, not average-rank Spearman, so everything is
    * integer until the single final division (floorEps µ-units).
    * Σd² ≤ n³ fits BIGINT to n ≈ 2M docs; beyond that the numerator
    * widens to DECIMAL(38,0) (the `q_epoch_mix` convention).
    *
    * Scale shape: both signal queries are their own audited plans;
    * the two \|docs\|-row ranks use the distributed
    * range-partition + offset pattern (`graft.ops.Ranks` — never a
    * single-partition window), chained so the second rank's exchange
    * carries the first's column; then a 1-row aggregate. */
  private def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    val qa = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    val qb = perplexity(spark, dir).select(col("doc_id"), col("avg_nll_micro"))
    val joined = graft.ops.Ranks.globalRowNumbers(
      qa.join(qb, "doc_id"),
      Seq(("ra", Seq(col("quality"), col("doc_id"))),
        ("rb", Seq(col("avg_nll_micro"), col("doc_id")))))
      .withColumn("d", col("ra") - col("rb"))
    joined.agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        Num.floorEps((lit(1.0) -
          lit(6.0) * col("sum_d2") / (col("n") * (col("n") * col("n") - 1)))
          * 1e6).as("rho_micro"))
  }

  private lazy val signalCorrSql =
    s"""WITH qa AS ($qualityScoreSql),
       |qb AS ($perplexitySql),
       |j AS (
       |  SELECT qa.doc_id, qa.quality, qb.avg_nll_micro
       |  FROM qa JOIN qb ON qa.doc_id = qb.doc_id),
       |rk AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) AS ra,
       |    CAST(row_number() OVER (ORDER BY avg_nll_micro, doc_id) AS BIGINT) AS rb
       |  FROM j)
       |SELECT COUNT(*) AS n,
       |  CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
       |  ${NumSql.floorEps(
      "(1.0 - 6.0 * SUM((ra - rb) * (ra - rb)) / (COUNT(*) * (COUNT(*) * COUNT(*) - 1))) * 1000000")} AS rho_micro
       |FROM rk""".stripMargin

  // ------------------------------------------------------- PMI collocation

  /** Pointwise-mutual-information collocation mining: the top-50
    * adjacent word pairs whose co-occurrence beats chance —
    * PMI = ln(p(l,r) / (p(l)·p(r))) with a min-support gate (the
    * classic phrase/collocation detector used to build tokenizer
    * merge seeds and phrase tables).
    *
    * Determinism: the probability ratio is a fixed chain of
    * correctly-rounded double ops — (c2/B) / ((c1_l/T)·(c1_r/T)) in
    * that exact association order on both engines — so the double is
    * bit-identical, and the µ-nat quantization is ulp-guarded
    * (`floorEps`). Integer products like c2·T² would overflow BIGINT
    * at corpus scale, so the ratio form is the 100 TB-safe one.
    *
    * Scale anatomy: unigram and bigram counts are map-side-combined
    * group-bys collapsing to vocab / distinct-bigram space; the PMI
    * join runs entirely in that model space (never corpus-sized);
    * T and B are 1-row broadcast crosses; the top-50 is
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  private def pmi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val uni = docs.select(explode(TF.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tTok = uni.agg(sum("c").as("t_tok"))
    val c2 = docs.select(explode(bigramPairUdf(col("text"))).as("b"))
      .select(col("b._1").as("l"), col("b._2").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("n_pair"))
    val bTok = c2.agg(sum("n_pair").as("b_tok"))
    c2.filter(col("n_pair") >= 5)
      .join(uni.select(col("w").as("l"), col("c").as("cl")), Seq("l"))
      .join(uni.select(col("w").as("r"), col("c").as("cr")), Seq("r"))
      .crossJoin(broadcast(tTok)).crossJoin(broadcast(bTok))
      .select(col("l"), col("r"), col("n_pair"), Num.floorEps(
        log((col("n_pair").cast("double") / col("b_tok")) /
          ((col("cl").cast("double") / col("t_tok")) *
            (col("cr").cast("double") / col("t_tok")))) * 1e6)
        .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("l"), col("r"))
      .limit(50)
  }

  private val pmiSql =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |uni AS (SELECT w, COUNT(*) AS c
       |        FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok FROM uni),
       |bg AS (SELECT t[i] AS l, t[i+1] AS r
       |       FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
       |             FROM tk WHERE len(t) >= 2)),
       |c2 AS (SELECT l, r, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
       |btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b_tok FROM c2)
       |SELECT l, r, n_pair,
       |  ${NumSql.floorEps(
      "ln((CAST(n_pair AS DOUBLE) / b_tok) / " +
        "((CAST(ul.c AS DOUBLE) / t_tok) * (CAST(ur.c AS DOUBLE) / t_tok))) * 1000000")} AS pmi_micro
       |FROM c2
       |JOIN uni ul ON c2.l = ul.w
       |JOIN uni ur ON c2.r = ur.w
       |CROSS JOIN tot CROSS JOIN btot
       |WHERE n_pair >= 5
       |ORDER BY pmi_micro DESC, l, r LIMIT 50""".stripMargin

  // ------------------------------------------------------ hash vectorizer

  private val HvDim = 16 // hashed feature dimension (2^18+ at real scale)

  /** Feature-hashing vectorizer (the "hashing trick", Weinberger et
    * al. 2009 — sklearn's HashingVectorizer shape): each token
    * occurrence lands in bucket `h mod D` with sign `±1` from the
    * next hash bit, so a document becomes a fixed-D sparse integer
    * vector with NO vocabulary pass, no driver state, and no
    * train/serve skew — the text→vector step that feeds the
    * prefix-filter and ANN machinery. Output is the sparse row form
    * (doc_id, bucket, v≠0) carrying the per-doc squared norm
    * (everything downstream cosine needs).
    *
    * Exactness: hash, bucket, sign, counts, and norms are all
    * integer arithmetic — no floats anywhere, bit-equal cross-engine
    * by construction.
    *
    * Scale anatomy: one scan + explode, a (doc_id, bucket) group-by
    * that map-side combines to ≤D rows per doc, and a doc-bounded
    * window for the norm (≤D rows per frame, riding the same
    * doc-keyed exchange). Output ≤ D·n rows. D=16 suits the 31-word
    * fixture vocabulary; a real corpus raises D to 2¹⁸⁺ — same plan,
    * sign-cancellation keeps E[collision bias] at zero. */
  private def hashVectorize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ent = docs
      .select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("w"))
      .select(col("doc_id"), graft.functions.F.polyHash(col("w")).as("h"))
      .select(col("doc_id"), (col("h") % HvDim).as("bucket"),
        when(expr(s"(h div $HvDim) % 2") === 0, 1L).otherwise(-1L).as("s"))
      .groupBy("doc_id", "bucket").agg(sum("s").as("v"))
      .filter(col("v") =!= 0)
    ent.withColumn("norm2",
      sum(col("v") * col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .orderBy("doc_id", "bucket")
  }

  private val hashVectorizeSql =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |hh AS (SELECT doc_id, ${OracleSqlFrag.poly("w")} AS h FROM tok),
       |ent AS (
       |  SELECT doc_id, h % $HvDim AS bucket,
       |    CAST(SUM(CASE WHEN (h // $HvDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
       |  FROM hh GROUP BY 1, 2)
       |SELECT doc_id, bucket, v,
       |  CAST(SUM(v * v) OVER (PARTITION BY doc_id) AS BIGINT) AS norm2
       |FROM ent WHERE v <> 0
       |ORDER BY doc_id, bucket""".stripMargin

  /** Sequence packing (concat-and-chunk): documents are laid out
    * end-to-end in doc_id order and cut into fixed `PackCapacity`-token
    * training bins — the standard pretraining sample-packing layout
    * (a doc may span bins; q_chunking is the within-doc variant).
    *
    * The global running token offset is computed the scale-correct
    * way: range-partition by the order key, per-partition token
    * totals collected (ONE row per partition), prefix offsets
    * broadcast back, local window cumsum per partition — no
    * single-partition global window (the classic prefix-sum
    * anti-pattern at 100 TB). The result is independent of where the
    * range boundaries land, so sampling-based partitioning cannot
    * perturb it. `PackCapacity` is a power of two, making the
    * bin-index division exact in binary floating point — bit-equal
    * cross-engine. */
  val PackCapacity = 512L

  private def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n_tok"))
    val parts = graft.ops.SideCache.persist(
      toks.repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("pid", spark_partition_id()))
    import spark.implicits._
    val totals = parts.groupBy("pid").agg(sum("n_tok").as("tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val prefix = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid, acc + tot)
    }.init.map { case (_, off) => off } // offset BEFORE each partition
    val prefixDf = totals.map(_._1).zip(prefix).toSeq.toDF("pid", "part_off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("doc_id")
    parts.join(broadcast(prefixDf), Seq("pid"))
      .withColumn("cum", sum(col("n_tok")).over(w) + col("part_off"))
      .withColumn("start", col("cum") - col("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        floor(col("start") / lit(PackCapacity)).as("start_bin"),
        floor((col("cum") - 1) / lit(PackCapacity)).as("end_bin"),
        pmod(col("start"), lit(PackCapacity)).as("start_off"))
      .orderBy("doc_id")
  }

  private val packSequencesSql =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tok,
       |    SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, n_tok,
       |  CAST(floor((cum - n_tok) / $PackCapacity.0) AS BIGINT) AS start_bin,
       |  CAST(floor((cum - 1) / $PackCapacity.0) AS BIGINT) AS end_bin,
       |  CAST((cum - n_tok) % $PackCapacity AS BIGINT) AS start_off
       |FROM c ORDER BY doc_id""".stripMargin

  /** One BPE merge-candidate round — the tokenizer-TRAINING
    * primitive: corpus-wide counts of adjacent symbol pairs, top-10.
    * The per-doc pair list is a single `transform(sequence(...))`
    * projection (no join, no per-char shuffle rows: the explode
    * collapses map-side to ≤|alphabet|² partial rows per partition
    * before the one tiny (pair, count) shuffle — the same partial-agg
    * argument as the histogram family). Real BPE iterates this with
    * the winning pair merged into the symbol stream; the per-round
    * plan is exactly this query, so the round cost at 100 TB is one
    * corpus scan + a KB-sized shuffle. */
  private def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFan(spark, dir)
      .where(length(col("text")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
        .as("pg"))
      .groupBy("pg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pg"))
      .limit(10)

  private val bpePairsSql =
    """WITH pairs AS (
      |  SELECT unnest(list_transform(range(1, length(text)),
      |    i -> substring(text, i, 2))) AS pg
      |  FROM documents WHERE length(text) >= 2)
      |SELECT pg, CAST(COUNT(*) AS BIGINT) AS n
      |FROM pairs GROUP BY pg
      |ORDER BY n DESC, pg LIMIT 10""".stripMargin

  /** BPE tokenizer ENCODE — applying a learned merge table to the
    * corpus, the step every LLM pipeline runs over 100 TB after the
    * (comparatively tiny) vocabulary is trained:
    *
    *  - LEARN (one-shot): word-level adjacent character pairs,
    *    counted corpus-wide in one scan (the `q_bpe_pairs` plan,
    *    restricted to in-word pairs), ranked (count desc, pair asc),
    *    top-[[BpeK]] become the merge table. One-shot = ranks come
    *    from the INITIAL pair counts — a documented approximation;
    *    the TRUE sequential algorithm (recount after each merge) is
    *    `q_bpe_train` ([[graft.text.Bpe]]), whose table can diverge
    *    from this one (BpeTrainSpec exhibits it);
    *  - ENCODE: each word becomes a spaced symbol stream, then the
    *    merges apply IN RANK ORDER, each as one left-to-right
    *    non-overlapping global replace — Java regex and RE2 share
    *    that semantics exactly, which makes the whole tokenizer
    *    hash-verifiable cross-engine.
    *
    * The merge table is DRIVER-HELD (the ANN-codebook pattern: K
    * rows collected once, folded into the projection as literals) so
    * encoding is a scan-speed codegen'd projection — no join against
    * a vocab table, no shuffle before the per-doc count agg. Merges
    * are filtered to `[a-z0-9]` pairs on both engines so none can be
    * a regex metacharacter. */
  private val BpeK = 8

  private def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val merges: Seq[String] = words.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pg"))
      .filter(col("pg").rlike("^[a-z0-9]+$"))
      .groupBy("pg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pg")).limit(BpeK)
      .select("pg").collect().toSeq.map(_.getString(0))
    // the oracle's merge chain is unrolled exactly BpeK deep (its
    // scalar subqueries would go NULL — and NULL the whole output —
    // on a thinner corpus); fail fast here instead of diverging
    require(merges.length == BpeK,
      s"corpus yields only ${merges.length} of $BpeK alphanumeric merge pairs")
    // Kernel choice: the chained-regex fold below is the ORACLE-PARITY
    // path — BpeK sequential `regexp_replace` passes mirror the SQL
    // twin exactly, at O(merges × text) cost, fine for BpeK = 8. A
    // production 32k-merge vocab would fold each word ONCE with the
    // list-based encoder (BpeEncodeSpec.encodeRef is that kernel,
    // cross-checked equal on every doc): O(text × passes-per-word)
    // with the merge table broadcast — the crossover is wherever
    // merges × text regex work exceeds one in-memory token-vector
    // fold per word, i.e. long before merges reach the hundreds.
    def encode(c: org.apache.spark.sql.Column) =
      merges.foldLeft(regexp_replace(c, "(.)", " $1 ")) { (acc, pg) =>
        val (a, b) = (pg.substring(0, 1), pg.substring(1, 2))
        regexp_replace(acc, s" $a  $b ", s" $a$b ")
      }
    val perDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"),
        size(split(trim(encode(col("word"))), "  ")).as("n_tok"))
      .groupBy("doc_id").agg(sum("n_tok").as("n_tok_bpe"))
    val head = docs.select(col("doc_id"),
      array_join(split(trim(encode(element_at(split(col("text"), " "), 1))), "  "), "|")
        .as("enc_head"))
    perDoc.join(head, Seq("doc_id")).orderBy("doc_id")
  }

  private val bpeEncodeSql = {
    def chain(e: String): String =
      (1 to BpeK).foldLeft(s"regexp_replace($e, '(.)', ' \\1 ', 'g')") { (acc, k) =>
        s"""regexp_replace($acc,
           |    ' ' || (SELECT a FROM mr WHERE rk = $k) || '  ' || (SELECT b FROM mr WHERE rk = $k) || ' ',
           |    ' ' || (SELECT a FROM mr WHERE rk = $k) || (SELECT b FROM mr WHERE rk = $k) || ' ', 'g')""".stripMargin
      }
    s"""WITH wrds AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |), mr AS (
       |  SELECT substring(pg, 1, 1) AS a, substring(pg, 2, 1) AS b, rk FROM (
       |    SELECT pg, ROW_NUMBER() OVER (ORDER BY n DESC, pg) AS rk FROM (
       |      SELECT pg, COUNT(*) AS n FROM (
       |        SELECT unnest(list_transform(range(1, length(word)),
       |          i -> substring(word, i, 2))) AS pg
       |        FROM wrds WHERE length(word) >= 2)
       |      WHERE pg ~ '^[a-z0-9]+$$' GROUP BY pg))
       |  WHERE rk <= $BpeK
       |), cnt AS (
       |  SELECT doc_id,
       |    CAST(SUM(len(string_split(trim(${chain("word")}), '  '))) AS BIGINT) AS n_tok_bpe
       |  FROM wrds GROUP BY doc_id
       |), hd AS (
       |  SELECT doc_id,
       |    array_to_string(string_split(trim(${chain("hw")}), '  '), '|') AS enc_head
       |  FROM (SELECT doc_id, string_split(text, ' ')[1] AS hw FROM documents)
       |)
       |SELECT c.doc_id, c.n_tok_bpe, h.enc_head
       |FROM cnt c JOIN hd h ON c.doc_id = h.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  /** ITERATIVE BPE training — the true sequential algorithm
    * ([[graft.text.Bpe]]): K merge rounds, pairs RECOUNTED after each
    * merge, so later rounds can learn pairs involving earlier merged
    * symbols (`t·he`) that `q_bpe_encode`'s one-shot initial-count
    * ranking can never see (`BpeTrainSpec` exhibits a corpus where
    * the two tables diverge). Output = the merge table itself:
    * (round, pair, corpus count at selection time). The oracle
    * unrolls all K rounds as chained CTEs — the `q_pagerank`
    * recurrence pattern — replaying count→argmax→merge in SQL, so
    * the entire training trajectory is hash-verified. */
  private val BpeTrainK = 8

  private def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documentsFan(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
    val table = graft.text.Bpe.train(words, BpeTrainK)
    // the oracle's CTE chain is unrolled exactly K deep; a thinner
    // corpus would NULL its scalar subqueries — fail fast instead
    require(table.length == BpeTrainK,
      s"corpus yields only ${table.length} of $BpeTrainK merge rounds")
    table.zipWithIndex
      .map { case ((pr, n), i) => (i + 1, pr, n) }
      .toDF("rk", "pair", "n")
      .orderBy("rk")
  }

  /** The shared training-recurrence CTE body (wrds → wcnt → w0 →
    * p/m/w rounds): every per-round CTE is MATERIALIZED — each w_r is
    * referenced by BOTH p_{r+1} and w_{r+1} (and m_r three times from
    * w_r's scalar subqueries), so default inlining would expand the
    * chain exponentially (~4^K parquet scans blew the fd limit at
    * K = 8). wcnt = the distinct-word frequency dict (the
    * [[graft.text.Bpe]] collapse): pair totals weighted by wn are
    * identical to counting every word occurrence, at |vocab| rows per
    * round. Reused by `q_bpe_train` (emits the table) and
    * `q_bpe_pipeline` (applies it). */
  private lazy val bpeTrainCtes: String = genBpeCtes(BpeTrainK)

  /** The recurrence generator, depth-parameterized: `q_fertility_sweep`
    * unrolls it to 32 rounds over the SAME collapsed dict. */
  private def genBpeCtes(trainK: Int): String = {
    def pCte(r: Int) =
      s"""p$r AS MATERIALIZED (
         |  SELECT pr, SUM(wn) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(s)),
         |      i -> s[i] || ' ' || s[i + 1])) AS pr, wn
         |    FROM (SELECT string_split(trim(w), '  ') AS s, wn FROM w${r - 1}))
         |  WHERE pr ~ '^[a-z0-9]+ [a-z0-9]+$$' GROUP BY pr)""".stripMargin
    def mCte(r: Int) =
      s"m$r AS MATERIALIZED (SELECT $r AS rk, pr, n FROM p$r ORDER BY n DESC, pr LIMIT 1)"
    def wCte(r: Int) =
      s"""w$r AS MATERIALIZED (
         |  SELECT regexp_replace(w,
         |    ' ' || (SELECT string_split(pr, ' ')[1] FROM m$r) || '  ' || (SELECT string_split(pr, ' ')[2] FROM m$r) || ' ',
         |    ' ' || (SELECT replace(pr, ' ', '') FROM m$r) || ' ', 'g') AS w, wn
         |  FROM w${r - 1})""".stripMargin
    val rounds = (1 to trainK).flatMap { r =>
      Seq(pCte(r), mCte(r)) ++ (if (r < trainK) Seq(wCte(r)) else Nil)
    }
    s"""wrds AS MATERIALIZED (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |), wcnt AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wn FROM wrds GROUP BY word
       |), w0 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') AS w, wn FROM wcnt
       |), ${rounds.mkString(",\n")}""".stripMargin
  }

  private lazy val bpeTrainSql = {
    val union = (1 to BpeTrainK).map(r => s"SELECT * FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT rk, pr AS pair, CAST(n AS BIGINT) AS n
       |FROM ($union) ORDER BY rk""".stripMargin
  }

  /** TRAIN → APPLY under ONE hash — the full tokenizer lifecycle as a
    * single query: run the K iterative merge rounds of `q_bpe_train`,
    * then encode EVERY document with the trained table (merges applied
    * in learned order as left-to-right non-overlapping replaces — the
    * `q_bpe_encode` kernel, but over merges the one-shot ranking could
    * not have learned, including multi-character symbols like `t·he`).
    * Output: per-doc token counts. The oracle chains the training
    * recurrence CTEs into the encode folds (24 scalar subqueries over
    * the 1-row m_k tables), so a divergence ANYWHERE — a wrong round,
    * a wrong argmax, a wrong replace order — breaks the hash. Scale
    * shape: training cost is |vocab|-proportional per round
    * ([[graft.text.Bpe]]); the apply side is one corpus scan with the
    * learned table folded in as literals. */
  private def bpePipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFan(spark, dir)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val merges = graft.text.Bpe.train(words, BpeTrainK)
    require(merges.length == BpeTrainK,
      s"corpus yields only ${merges.length} of $BpeTrainK merge rounds")
    def encode(c: Column) =
      merges.foldLeft(regexp_replace(c, "(.)", " $1 ")) {
        case (acc, (pr, _)) =>
          val Array(a, b) = pr.split(" ")
          regexp_replace(acc, s" $a  $b ", s" $a$b ")
      }
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"),
        size(split(trim(encode(col("word"))), "  ")).as("n_tok"))
      .groupBy("doc_id").agg(sum("n_tok").as("n_tok_bpe"))
      .orderBy("doc_id")
  }

  private lazy val bpePipelineSql = {
    def chain(e: String): String =
      (1 to BpeTrainK).foldLeft(s"regexp_replace($e, '(.)', ' \\1 ', 'g')") { (acc, k) =>
        s"""regexp_replace($acc,
           |    ' ' || (SELECT string_split(pr, ' ')[1] FROM m$k) || '  ' || (SELECT string_split(pr, ' ')[2] FROM m$k) || ' ',
           |    ' ' || (SELECT replace(pr, ' ', '') FROM m$k) || ' ', 'g')""".stripMargin
      }
    s"""WITH $bpeTrainCtes,
       |dwords AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |)
       |SELECT doc_id,
       |  CAST(SUM(len(string_split(trim(${chain("word")}), '  '))) AS BIGINT) AS n_tok_bpe
       |FROM dwords GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer FERTILITY per language — the multilingual-equity
    * metric a tokenizer change is judged by (Ács 2019; languages the
    * merge table never saw pay more tokens per word, i.e. more
    * compute and less effective context): train the BPE merge table
    * in-engine ([[graft.text.Bpe.train]], the `q_bpe_pipeline`
    * recurrence verbatim), encode every word with it, and report per
    * lang tokens-per-word and chars-per-token as exact integer
    * permille ratios (`div`).
    *
    * Scale shape: training is the audited \|vocab\|-per-round plan;
    * scoring is ONE corpus scan with the learned table folded in as
    * regex literals, reduced map-side to \|langs\| rows. (This
    * fixture's langs share one latin vocabulary, so the per-lang
    * gaps are small — on a real multilingual corpus the unserved
    * scripts' fertility blows up, which is the point of the metric;
    * the spec pins the arithmetic and the merges-fired contract.) */
  private def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFan(spark, dir)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val merges = graft.text.Bpe.train(words, BpeTrainK)
    require(merges.length == BpeTrainK,
      s"corpus yields only ${merges.length} of $BpeTrainK merge rounds")
    def encode(c: Column) =
      merges.foldLeft(regexp_replace(c, "(.)", " $1 ")) {
        case (acc, (pr, _)) =>
          val Array(a, b) = pr.split(" ")
          regexp_replace(acc, s" $a  $b ", s" $a$b ")
      }
    docs.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .select(col("lang"), length(col("word")).cast("long").as("wc"),
        size(split(trim(encode(col("word"))), "  ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("wc").as("sum_chars"),
        sum("n_tok").as("sum_tok"))
      .select(col("lang"), col("n_words"), col("sum_chars"), col("sum_tok"),
        expr("(sum_tok * 1000) div n_words").as("fert_milli"),
        expr("(sum_chars * 1000) div sum_tok").as("chars_per_tok_milli"))
      .orderBy("lang")
  }

  private lazy val tokenizerFertilitySql = {
    def chain(e: String): String =
      (1 to BpeTrainK).foldLeft(s"regexp_replace($e, '(.)', ' \\1 ', 'g')") { (acc, k) =>
        s"""regexp_replace($acc,
           |    ' ' || (SELECT string_split(pr, ' ')[1] FROM m$k) || '  ' || (SELECT string_split(pr, ' ')[2] FROM m$k) || ' ',
           |    ' ' || (SELECT replace(pr, ' ', '') FROM m$k) || ' ', 'g')""".stripMargin
      }
    s"""WITH $bpeTrainCtes,
       |dwords AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
       |), scored AS (
       |  SELECT lang, CAST(len(word) AS BIGINT) AS wc,
       |    CAST(len(string_split(trim(${chain("word")}), '  ')) AS BIGINT) AS n_tok
       |  FROM dwords)
       |SELECT lang, COUNT(*) AS n_words,
       |  CAST(SUM(wc) AS BIGINT) AS sum_chars,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       |  CAST((SUM(n_tok) * 1000) // COUNT(*) AS BIGINT) AS fert_milli,
       |  CAST((SUM(wc) * 1000) // SUM(n_tok) AS BIGINT) AS chars_per_tok_milli
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** TOKENIZER-BUDGET tuning curve (the `q_nprobe_curve` convention
    * for the text tier): fertility and word-level OOV at
    * K ∈ {8, 16, 32} merges, from ONE training pass — BPE's greedy
    * recurrence is PREFIX-MONOTONE (the first 8 merges of a 32-round
    * training ARE the 8-round table; FertilitySweepSpec pins it), so
    * the whole sweep trains once to K = 32 and evaluates each budget
    * with a prefix of the learned table. Scoring collapses to the
    * distinct-word frequency dict first (token count depends only on
    * the word; weighting by wn is identical to scanning every
    * occurrence — the [[graft.text.Bpe]] collapse, ~8700× at sf0.1),
    * then encodes each dict word through the 32-merge chain with
    * token counts CHECKPOINTED at the three prefix depths in one
    * projection. Per K: fertility (tokens/word, exact permille) and
    * oov_pm = the permille of word occurrences NOT reduced to a
    * single token — "in vocabulary" for a BPE budget means the whole
    * word became one symbol. Both curves are monotone non-increasing
    * in K (more merges never split a word further), which the spec
    * asserts — the table a tokenizer budget is picked from.
    *
    * Scale shape: training is the audited \|vocab\|-per-round plan;
    * the sweep adds ONE \|vocab\|-row projection + three 1-row
    * aggregates. Nothing rescans the corpus per K. */
  private val SweepKs = Seq(8, 16, 32)

  private def fertilitySweep(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documentsFan(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
    val merges = graft.text.Bpe.train(words, SweepKs.max)
    require(merges.length == SweepKs.max,
      s"corpus yields only ${merges.length} of ${SweepKs.max} merge rounds")
    def encode(k: Int): Column =
      merges.take(k).foldLeft(regexp_replace(col("word"), "(.)", " $1 ")) {
        case (acc, (pr, _)) =>
          val Array(a, b) = pr.split(" ")
          regexp_replace(acc, s" $a  $b ", s" $a$b ")
      }
    def nTok(k: Int): Column =
      size(split(trim(encode(k)), "  ")).cast("long")
    val scored = graft.ops.SideCache.persist(
      words.groupBy("word").agg(count(lit(1)).as("wn"))
        .select(col("wn") +: SweepKs.map(k => nTok(k).as(s"t$k")): _*))
    scored.count()
    SweepKs.map { k =>
      scored.agg(sum("wn").as("n_words"),
          sum(col("wn") * col(s"t$k")).as("sum_tok"),
          sum(when(col(s"t$k") === 1, col("wn")).otherwise(lit(0L)))
            .as("n_single"))
        .select(lit(k.toLong).as("k_merges"), col("n_words"),
          col("sum_tok"),
          expr("(sum_tok * 1000) div n_words").as("fert_milli"),
          col("n_single"),
          expr("(1000 * (n_words - n_single)) div n_words").as("oov_pm"))
    }.reduce(_ unionAll _).orderBy("k_merges")
  }

  private lazy val fertilitySweepSql = {
    def chain(e: String, k: Int): String =
      (1 to k).foldLeft(s"regexp_replace($e, '(.)', ' \\1 ', 'g')") { (acc, r) =>
        s"""regexp_replace($acc,
           |    ' ' || (SELECT string_split(pr, ' ')[1] FROM m$r) || '  ' || (SELECT string_split(pr, ' ')[2] FROM m$r) || ' ',
           |    ' ' || (SELECT replace(pr, ' ', '') FROM m$r) || ' ', 'g')""".stripMargin
      }
    def tier(k: Int): String =
      s"""SELECT $k AS k_merges,
         |  CAST(SUM(wn) AS BIGINT) AS n_words,
         |  CAST(SUM(wn * t$k) AS BIGINT) AS sum_tok,
         |  CAST((SUM(wn * t$k) * 1000) // SUM(wn) AS BIGINT) AS fert_milli,
         |  CAST(SUM(CASE WHEN t$k = 1 THEN wn ELSE 0 END) AS BIGINT)
         |    AS n_single,
         |  CAST((1000 * (SUM(wn) - SUM(CASE WHEN t$k = 1 THEN wn ELSE 0 END)))
         |    // SUM(wn) AS BIGINT) AS oov_pm
         |FROM scored""".stripMargin
    val tokCols = SweepKs.map(k =>
      s"CAST(len(string_split(trim(${chain("word", k)}), '  ')) AS BIGINT) AS t$k")
      .mkString(",\n  ")
    s"""WITH ${genBpeCtes(SweepKs.max)},
       |scored AS MATERIALIZED (
       |  SELECT wn,
       |  $tokCols
       |  FROM wcnt)
       |SELECT CAST(k_merges AS BIGINT) AS k_merges, n_words, sum_tok,
       |  fert_milli, n_single, oov_pm
       |FROM (${SweepKs.map(tier).mkString("\n  UNION ALL\n  ")})
       |ORDER BY k_merges""".stripMargin
  }

  /** Unicode text normalization — the canonicalization pass that MUST
    * precede any hashing/dedup step: NFC composition (decomposed
    * `e`+U+0301 and composed `é` are the SAME text but hash apart),
    * case folding, whitespace collapse, trim. The corpus is ASCII, so
    * deterministic Unicode is PLANTED first (decomposed accents on
    * doc_id%3==0, composed accents + tabs on doc_id%3==1 — same
    * expression in the oracle; the `q_pii_scrub` pattern): the query
    * proves the normalizer, not the corpus.
    *
    * NFC itself is the native [[graft.functions.NfcNormalize]]
    * expression (Spark has no built-in normalizer) — codegen'd, with
    * an ASCII fast path that makes it free on the dominant case; the
    * oracle twin is DuckDB's `nfc_normalize` (Unicode NFC is
    * stabilized, so the two implementations agree on every assigned
    * code point). Everything is a scan-speed projection — zero
    * shuffle at any scale. Output keeps (len, 24-char tail) rather
    * than the full normalized body: enough to pin every planted case
    * cross-engine without shipping the corpus through the ledger. */
  private def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" Café  DÜSSELDORF"))
        .when(col("doc_id") % 3 === 1, lit(" déjà\tvu\t"))
        .otherwise(lit("")))
    val norm = trim(regexp_replace(
      lower(graft.functions.F.nfcNormalize(planted)),
      "[ \t\n\r]+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("n"))
      .select(col("doc_id"), length(col("n")).as("norm_len"),
        expr("right(n, 24)").as("norm_tail"))
      .orderBy("doc_id")
  }

  private val textNormalizeSql =
    """SELECT doc_id, CAST(length(n) AS INT) AS norm_len,
      |  right(n, 24) AS norm_tail FROM (
      |  SELECT doc_id, trim(regexp_replace(
      |    lower(nfc_normalize(text ||
      |      CASE WHEN doc_id % 3 = 0 THEN ' Cafe' || chr(769) || '  DU' || chr(776) || 'SSELDORF'
      |           WHEN doc_id % 3 = 1 THEN ' déjà' || chr(9) || 'vu' || chr(9)
      |           ELSE '' END)),
      |    '[ \t\n\r]+', ' ', 'g')) AS n
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** HTML/boilerplate STRIP — the extraction pass every web-scraped
    * corpus runs before any text analysis (the trafilatura/jusText
    * stage, distilled to its deterministic core): drop script / style
    * / nav / footer ELEMENTS with their content (boilerplate), drop
    * comments, strip remaining tags keeping their text content,
    * collapse whitespace. The corpus is plain text, so deterministic
    * markup is PLANTED first (three wrapper shapes by doc_id mod 4 —
    * full page with head/style/nav, div with script/footer, trailing
    * comment fragment; the `q_pii_scrub` pattern): the query proves
    * the stripper, not the corpus. Both engines run the SAME regex
    * chain (lazy quantifiers + (?s), supported by java.util.regex and
    * RE2 alike; no backreferences — RE2 has none). Output keeps
    * (raw_len, clean_len, boiler_pm, 24-char tail) — enough to pin
    * every planted case cross-engine without shipping the corpus
    * through the ledger. Scan-speed projection; zero shuffle. */
  private def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 4 === 0, concat(
        lit("<html><head><title>T</title><style>body{margin:0}</style>" +
          "</head><body><h1>Heading</h1><p>"), col("text"),
        lit("</p><nav><a href=\"/a\">home</a> <a href=\"/b\">about</a>" +
          "</nav></body></html>")))
      .when(col("doc_id") % 4 === 1, concat(
        lit("<div class=\"main\"><script>var x = 1;</script><p>"),
        col("text"), lit("</p><footer>(c) example site</footer></div>")))
      .when(col("doc_id") % 4 === 2,
        concat(col("text"), lit("<br/><!-- trailing comment -->")))
      .otherwise(col("text"))
    val noBlocks = Seq("script", "style", "nav", "footer")
      .foldLeft(planted) { (acc, t) =>
        regexp_replace(acc, s"(?s)<$t[^>]*>.*?</$t>", " ")
      }
    val clean = trim(regexp_replace(
      regexp_replace(regexp_replace(noBlocks, "(?s)<!--.*?-->", " "),
        "<[^>]*>", " "),
      "[ \t\n\r]+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(planted).cast("long").as("raw_len"),
        length(clean).cast("long").as("clean_len"), clean.as("c"))
      .select(col("doc_id"), col("raw_len"), col("clean_len"),
        expr("(1000 * (raw_len - clean_len)) div raw_len").as("boiler_pm"),
        expr("right(c, 24)").as("clean_tail"))
      .orderBy("doc_id")
  }

  private val htmlStripSql =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      '<html><head><title>T</title><style>body{margin:0}</style></head><body><h1>Heading</h1><p>'
      |        || text ||
      |      '</p><nav><a href="/a">home</a> <a href="/b">about</a></nav></body></html>'
      |    WHEN doc_id % 4 = 1 THEN
      |      '<div class="main"><script>var x = 1;</script><p>' || text ||
      |      '</p><footer>(c) example site</footer></div>'
      |    WHEN doc_id % 4 = 2 THEN text || '<br/><!-- trailing comment -->'
      |    ELSE text END AS raw
      |  FROM documents),
      |cleaned AS (
      |  SELECT doc_id, raw,
      |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(raw,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
      |      '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '<[^>]*>', ' ', 'g'),
      |      '[ \t\n\r]+', ' ', 'g')) AS c
      |  FROM planted)
      |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
      |  CAST(length(c) AS BIGINT) AS clean_len,
      |  CAST((1000 * (length(raw) - length(c))) // length(raw) AS BIGINT)
      |    AS boiler_pm,
      |  right(c, 24) AS clean_tail
      |FROM cleaned ORDER BY doc_id""".stripMargin

  /** In-engine trained multinomial Naive Bayes language classifier —
    * train and predict are BOTH relational plans, so "fit a model on
    * 100 TB" is just aggregation: the model IS a small table. Split:
    * even doc_ids train, odd doc_ids are scored.
    *
    *  - features: word-unigram hashes (one corpus scan + explode);
    *  - model: Laplace-smoothed per-(lang, token) log-likelihoods and
    *    per-lang priors/unseen terms, quantized to micro-nats BIGINTs
    *    (`floor(1e6·ln(p) + 1e-6)` — the `q_entropy` convention, so
    *    the whole recurrence is integer from here on and hash-matches
    *    cross-engine despite ln());
    *  - scoring handles unseen tokens ALGEBRAICALLY: score(d,l) =
    *    prior(l) + n_tok(d)·lp_unseen(l) + Σ_seen c·(lp(l,t) −
    *    lp_unseen(l)) — no outer join against the full vocab×docs
    *    grid, only tokens the doc actually shares with the model;
    *  - argmax with deterministic (score desc, lang asc) tie-break.
    *
    * Scale shape: the MODEL is |langs|·|vocab| rows no matter the
    * corpus size — it broadcasts; training is one scan + one
    * map-side-combining agg; scoring is one scan + one bounded
    * broadcast join + per-doc agg. Nothing iterates, nothing
    * collects. */
  /** ASCII-safe per-language marker vocabulary for the planted
    * signal (zh uses pinyin — the real zh lexicon is multibyte, which
    * the `ascii()`-based poly oracle twin cannot hash). */
  private val NbMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "y", "de", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu", "den"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you", "he", "bu"))

  /** Tokenize (with the planted marker signal) to (doc_id, lang, h).
    * The corpus's lang label carries almost no lexical signal (all
    * languages draw from one vocabulary), so a deterministic signal
    * is PLANTED first — two lexicon words chosen by doc_id, same
    * expression in the oracle (the q_pii_scrub pattern): the query
    * proves the LEARNER recovers a signal that is actually there,
    * not the corpus. Train docs teach it; test docs are scored on it. */
  private[graft] def nbTokens(docs: DataFrame): DataFrame = {
    def marker(idx: org.apache.spark.sql.Column) =
      NbMarkers.init.foldRight(
        element_at(typedLit(NbMarkers.last._2), idx)) { case ((l, ws), e) =>
        when(col("lang") === l, element_at(typedLit(ws), idx)).otherwise(e)
      }
    val planted = concat_ws(" ", col("text"),
      marker((col("doc_id") % 8 + 1).cast("int")),
      marker((expr("doc_id div 8") % 8 + 1).cast("int")))
    docs.select(col("doc_id"), col("lang"),
        explode(TF.tokens(planted)).as("tok"))
      .select(col("doc_id"), col("lang"),
        graft.functions.F.polyHash(col("tok")).as("h"))
  }

  /** Fit the NB model on tokenized training docs → (params, lp):
    * params = per-lang (prior_q, lpu_q); lp = per-(lang, token)
    * quantized log-likelihoods. Both are model-sized tables. */
  private[graft] def nbModel(train: DataFrame): (DataFrame, DataFrame) = {
    val vsz = train.agg(countDistinct("h")).scalar()
    val tot = train.groupBy("lang").agg(count(lit(1)).as("tot_l"))
    val prior = train.groupBy("lang").agg(countDistinct("doc_id").as("nd"))
    val ndall = prior.agg(sum("nd")).scalar()
    def q6(x: org.apache.spark.sql.Column) =
      floor(lit(1e6) * log(x) + lit(1e-6)).cast("long")
    val params = tot.join(prior, Seq("lang"))
      .select(col("lang"), col("tot_l"), vsz.as("vsz"),
        q6(col("nd").cast("double") / ndall.cast("double")).as("prior_q"),
        q6(lit(1.0) / (col("tot_l") + vsz).cast("double")).as("lpu_q"))
    val lp = train.groupBy("lang", "h").agg(count(lit(1)).as("c"))
      .join(broadcast(params), Seq("lang"))
      .select(col("lang"), col("h"),
        q6((col("c") + lit(1L)).cast("double") /
          (col("tot_l") + col("vsz")).cast("double")).as("lp_q"),
        col("lpu_q"))
    (params.select("lang", "prior_q", "lpu_q"), lp)
  }

  /** Score tokenized docs against a fitted model — a STATELESS plan
    * (scan + bounded broadcast join + per-doc agg), so it serves
    * batch and per-micro-batch streaming (`foreachBatch`) identically
    * — the model-serving pattern, spec-proven batch-equal. */
  private[graft] def nbScore(test: DataFrame, params: DataFrame,
                             lp: DataFrame): DataFrame = {
    val tcnt = test.groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val tdoc = test.groupBy("doc_id")
      .agg(min("lang").as("lang"), count(lit(1)).as("n_tok"))
    val base = tdoc.crossJoin(
      broadcast(params.select(col("lang").as("cand"), col("prior_q"), col("lpu_q"))))
      .select(col("doc_id"), col("lang"), col("cand"),
        (col("prior_q") + col("n_tok") * col("lpu_q")).as("base_q"))
    val delta = tcnt
      .join(broadcast(lp.select(col("lang").as("cand"), col("h"),
        col("lp_q"), col("lpu_q"))), Seq("h"))
      .groupBy("doc_id", "cand")
      .agg(sum(col("c") * (col("lp_q") - col("lpu_q"))).as("delta_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_q").desc, col("cand"))
    base.join(delta, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("lang"), col("cand"),
        (col("base_q") + coalesce(col("delta_q"), lit(0L))).as("score_q"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("predicted"),
        col("score_q"), (col("lang") === col("cand")).as("correct"))
      .orderBy("doc_id")
  }

  private def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    val toks = nbTokens(Tables.documents(spark, dir))
    val (params, lp) = nbModel(toks.filter(col("doc_id") % 2 === 0))
    nbScore(toks.filter(col("doc_id") % 2 === 1), params, lp)
  }

  private val nbClassifySql =
    s"""WITH marked AS (
       |  SELECT doc_id, lang,
       |    text || ' ' || arr[CAST(doc_id % 8 + 1 AS INT)]
       |         || ' ' || arr[CAST((doc_id // 8) % 8 + 1 AS INT)] AS mtext
       |  FROM (SELECT doc_id, lang, text, CASE lang
       |    ${NbMarkers.init.map { case (l, ws) =>
              s"WHEN '$l' THEN ${ws.map(w => s"'$w'").mkString("[", ", ", "]")}"
            }.mkString("\n    ")}
       |    ELSE ${NbMarkers.last._2.map(w => s"'$w'").mkString("[", ", ", "]")}
       |    END AS arr FROM documents)
       |), tok AS (
       |  SELECT doc_id, lang, ${OracleSqlFrag.poly("x")} AS h
       |  FROM (SELECT doc_id, lang, unnest(string_split(mtext, ' ')) AS x FROM marked)
       |), train AS (SELECT * FROM tok WHERE doc_id % 2 = 0
       |), test AS (SELECT * FROM tok WHERE doc_id % 2 = 1
       |), v AS (SELECT COUNT(DISTINCT h) AS vsz FROM train
       |), tot AS (SELECT lang, COUNT(*) AS tot_l FROM train GROUP BY lang
       |), prior AS (SELECT lang, COUNT(DISTINCT doc_id) AS nd FROM train GROUP BY lang
       |), ptot AS (SELECT CAST(SUM(nd) AS BIGINT) AS ndall FROM prior
       |), params AS (
       |  SELECT t.lang, t.tot_l, v.vsz,
       |    CAST(floor(1e6 * ln(CAST(p.nd AS DOUBLE) / CAST(ptot.ndall AS DOUBLE)) + 1e-6) AS BIGINT) AS prior_q,
       |    CAST(floor(1e6 * ln(1.0 / CAST(t.tot_l + v.vsz AS DOUBLE)) + 1e-6) AS BIGINT) AS lpu_q
       |  FROM tot t JOIN prior p ON t.lang = p.lang CROSS JOIN v CROSS JOIN ptot
       |), lp AS (
       |  SELECT c.lang, c.h,
       |    CAST(floor(1e6 * ln(CAST(c.c + 1 AS DOUBLE) / CAST(p.tot_l + p.vsz AS DOUBLE)) + 1e-6) AS BIGINT) AS lp_q,
       |    p.lpu_q
       |  FROM (SELECT lang, h, COUNT(*) AS c FROM train GROUP BY lang, h) c
       |  JOIN params p ON c.lang = p.lang
       |), tcnt AS (SELECT doc_id, h, COUNT(*) AS c FROM test GROUP BY doc_id, h
       |), tdoc AS (SELECT doc_id, MIN(lang) AS lang, COUNT(*) AS n_tok FROM test GROUP BY doc_id
       |), base AS (
       |  SELECT d.doc_id, d.lang, p.lang AS cand,
       |    p.prior_q + d.n_tok * p.lpu_q AS base_q
       |  FROM tdoc d CROSS JOIN params p
       |), delta AS (
       |  SELECT t.doc_id, l.lang AS cand,
       |    CAST(SUM(t.c * (l.lp_q - l.lpu_q)) AS BIGINT) AS delta_q
       |  FROM tcnt t JOIN lp l ON t.h = l.h
       |  GROUP BY t.doc_id, l.lang
       |), score AS (
       |  SELECT b.doc_id, b.lang, b.cand,
       |    b.base_q + COALESCE(d.delta_q, 0) AS score_q
       |  FROM base b LEFT JOIN delta d ON b.doc_id = d.doc_id AND b.cand = d.cand
       |)
       |SELECT doc_id, lang, cand AS predicted, score_q, (lang = cand) AS correct
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY score_q DESC, cand) AS rk FROM score)
       |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- unigram LM

  /** `q_unigram_lm` — the UNIGRAM-LM tokenizer ([[graft.text
    * .Unigram]], Kudo 2018 / SentencePiece's default), the other
    * industry tokenizer next to the BPE family and an algorithmically
    * different one: BPE grows a vocab bottom-up by global pair
    * argmaxes; unigram SHRINKS a seeded substring vocab by EM —
    * Viterbi-segment every word under quantized log-probs, re-count,
    * prune what won nothing (chars floored for coverage), re-segment.
    * Output: the re-estimated vocab head (top pieces by count) plus
    * the EM accounting (seed size, survivor count, token totals
    * before/after the M-step, final fertility) — the whole hard-EM
    * trajectory under the driver hash. The oracle unrolls BOTH
    * Viterbi passes as per-position DP CTEs with ROW_NUMBER
    * (score DESC, split DESC) argmaxes and 8-step backtraces (the
    * `q_bpe_train` convention at DP depth = max word length).
    *
    * Scale shape: everything runs on the collapsed distinct-word
    * dict (|vocab| ≤ 2¹⁶ guarded; the E-step is embarrassingly
    * parallel in words — at web scale it distributes as a
    * broadcast-vocab pass, unlike BPE's sequential global rounds). */
  private def unigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").count()
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    val totalWords = dict.map(_._2).sum
    val (nSeed, alive, tok1, tok2) = graft.text.Unigram.train(dict)
    val top = alive.toSeq.sortBy { case (p, c) => (-c, p) }.take(16)
      .zipWithIndex.map { case ((p, c), i) => (i + 1L, p, c) }
    val zz = Seq(
      (901L, "zz_seed", nSeed),
      (902L, "zz_alive", alive.size.toLong),
      (903L, "zz_tok_r1", tok1),
      (904L, "zz_tok_r2", tok2),
      (905L, "zz_fert_bp", tok2 * 10000L / totalWords))
    (top ++ zz).toDF("rk", "piece", "n").orderBy("rk")
  }

  private lazy val unigramLmSql = {
    import graft.text.Unigram.{LogScale, MaxPiece, MaxWord}
    // DP depth = longest [a-z0-9]+ word the fixture admits — the
    // SHARED constant Unigram.train enforces, so a violating corpus
    // fails loudly on the Scala side instead of hash-mismatching here
    // one Viterbi round: DP CTEs v{r}_1..v{r}_8 over vocab rel q$r,
    // then an 8-step backtrace emitting the chosen pieces
    def round(r: Int, qrel: String): String = {
      val dp = (1 to MaxWord).map { j =>
        val prevs = (math.max(0, j - MaxPiece) until j).map { i =>
          if (i == 0)
            s"SELECT word, wn, 0 AS j, CAST(0 AS BIGINT) AS sc FROM wcnt"
          else s"SELECT word, wn, j, sc FROM v${r}_$i"
        }.mkString("\n      UNION ALL ")
        s"""v${r}_$j AS MATERIALIZED (
           |  SELECT word, wn, j, sc, i, piece FROM (
           |    SELECT p.word, p.wn, $j AS j, p.sc + q.sc AS sc, p.j AS i,
           |      substring(p.word, p.j + 1, $j - p.j) AS piece,
           |      ROW_NUMBER() OVER (PARTITION BY p.word
           |        ORDER BY p.sc + q.sc DESC, p.j DESC) AS rn
           |    FROM (
           |      $prevs) p
           |    JOIN $qrel q ON q.piece = substring(p.word, p.j + 1, $j - p.j)
           |    WHERE length(p.word) >= $j)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val vall = (1 to MaxWord)
        .map(j => s"SELECT word, j, i, piece FROM v${r}_$j")
        .mkString("\n    UNION ALL ")
      val bt = (1 to MaxWord).map { k =>
        s"""b${r}_$k AS MATERIALIZED (
           |  SELECT b.word, b.wn, v.i AS j, v.piece
           |  FROM b${r}_${k - 1} b JOIN vall$r v
           |    ON v.word = b.word AND v.j = b.j
           |  WHERE b.j > 0)""".stripMargin
      }.mkString(",\n")
      val emit = (1 to MaxWord)
        .map(k => s"SELECT word, wn, piece FROM b${r}_$k")
        .mkString("\n    UNION ALL ")
      s"""$dp,
         |vall$r AS MATERIALIZED (
         |    $vall),
         |b${r}_0 AS (SELECT word, wn, length(word) AS j FROM wcnt),
         |$bt,
         |emit$r AS MATERIALIZED (
         |    $emit)""".stripMargin
    }
    s"""WITH wrds AS MATERIALIZED (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wcnt AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wn FROM wrds
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY word),
       |seed AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM (
       |    SELECT substring(word, i, l) AS piece, wn
       |    FROM wcnt,
       |      (SELECT unnest(generate_series(1, 8)) AS i),
       |      (SELECT unnest(generate_series(1, $MaxPiece)) AS l)
       |    WHERE i + l - 1 <= length(word))
       |  GROUP BY piece),
       |t0 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM seed),
       |q0 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT t FROM t0))
       |      * $LogScale + 0.000001) AS BIGINT) AS sc
       |  FROM seed),
       |${round(1, "q0")},
       |counts1 AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(wn) AS BIGINT) AS c
       |  FROM emit1 GROUP BY piece),
       |alive AS MATERIALIZED (
       |  SELECT piece, c FROM counts1 WHERE length(piece) > 1
       |  UNION ALL
       |  SELECT s.piece, GREATEST(COALESCE(c1.c, 0), 1)
       |  FROM (SELECT piece FROM seed WHERE length(piece) = 1) s
       |  LEFT JOIN counts1 c1 USING (piece)),
       |t1 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM alive),
       |q1 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT t FROM t1))
       |      * $LogScale + 0.000001) AS BIGINT) AS sc
       |  FROM alive),
       |${round(2, "q1")},
       |rows_ AS (
       |  SELECT rk, piece, c AS n FROM (
       |    SELECT piece, c,
       |      ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rk
       |    FROM alive) WHERE rk <= 16
       |  UNION ALL
       |  SELECT 901, 'zz_seed', COUNT(*) FROM seed
       |  UNION ALL
       |  SELECT 902, 'zz_alive', COUNT(*) FROM alive
       |  UNION ALL
       |  SELECT 903, 'zz_tok_r1', CAST(SUM(wn) AS BIGINT) FROM emit1
       |  UNION ALL
       |  SELECT 904, 'zz_tok_r2', CAST(SUM(wn) AS BIGINT) FROM emit2
       |  UNION ALL
       |  SELECT 905, 'zz_fert_bp',
       |    ((SELECT CAST(SUM(wn) AS BIGINT) FROM emit2) * 10000)
       |      // (SELECT CAST(SUM(wn) AS BIGINT) FROM wcnt))
       |SELECT CAST(rk AS BIGINT) AS rk, piece, CAST(n AS BIGINT) AS n
       |FROM rows_ ORDER BY rk""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_text_normalize", textNormalize, Some(textNormalizeSql)),
    Q("q_html_strip", htmlStrip, Some(htmlStripSql)),
    Q("q_nb_classify", nbClassify, Some(nbClassifySql)),
    Q("q_bpe_pairs", bpePairs, Some(bpePairsSql)),
    Q("q_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    Q("q_bpe_train", bpeTrain, Some(bpeTrainSql)),
    Q("q_unigram_lm", unigramLm, Some(unigramLmSql)),
    Q("q_bpe_pipeline", bpePipeline, Some(bpePipelineSql)),
    Q("q_tokenizer_fertility", tokenizerFertility, Some(tokenizerFertilitySql)),
    Q("q_fertility_sweep", fertilitySweep, Some(fertilitySweepSql)),
    Q("q_delta_ingest", deltaIngest, Some(deltaIngestSql)),
    Q("q_signal_corr", signalCorr, Some(signalCorrSql)),
    Q("q_lsh_curve", lshCurve, Some(lshCurveSql)),
    Q("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Q("q_lm_score", lmScore, Some(lmScoreSql)),
    Q("q_perplexity", perplexity, Some(perplexitySql)),
    Q("q_pmi", pmi, Some(pmiSql)),
    Q("q_hash_vectorize", hashVectorize, Some(hashVectorizeSql)),
    Q("q_text_stats", textStats, Some(textStatsSql)),
    Q("q_quality_score", qualityScore, Some(qualityScoreSql)),
    Q("q_quality_filter_sweep", qualityFilterSweep, Some(qualityFilterSweepSql)),
    Q("q_entropy", entropy, Some(entropySql)),
    Q("q_lang_id", langId, Some(langIdSql)),
    Q("q_langid_confusion", langIdConfusion, Some(langIdConfusionSql)),
    Q("q_fingerprint", fingerprintQ, Some(fingerprintSql)),
    Q("q_token_count", tokenCount, Some(tokenCountSql)),
    Q("q_length_buckets", lengthBuckets, Some(lengthBucketsSql)),
    Q("q_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    Q("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("q_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    Q("q_prefix_join", prefixJoin, Some(prefixJoinSql)),
    Q("q_containment", containment, Some(containmentSql)),
    Q("q_dedup_minhash", dedupMinhash, Some(dedupMinhashSql)),
    Q("q_minhash_est_err", minhashEstErr, Some(minhashEstErrSql)),
    Q("q_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Q("q_edit_distance", editDistance, Some(editDistanceSql)),
    Q("q_oov_rate", oovRate, Some(oovRateSql)),
    Q("q_chunking", chunking, Some(chunkingSql)),
    Q("q_delta_ingest_stored", deltaIngestStored, Some(deltaIngestStoredSql)),
    Q("q_dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    Q("q_split_leakage", splitLeakage, Some(splitLeakageSql)),
    Q("q_dedup_yield", dedupYield, Some(dedupYieldSql)),
    Q("q_wcc_star", wccStarQ, Some(dedupClusterSql)),
    Q("q_tfidf", tfidf, Some(tfidfSql)),
    Q("q_bm25", bm25, Some(bm25Sql)),
  )
}

private object TextFunctionsSql {
  /** DuckDB list literal for a lexicon. */
  def lexicon(lang: String): String =
    graft.text.TextFunctions.Lexicons.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")
}
