package graft.queries

import graft.functions.F
import graft.tables.Tables
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `q_corpus_pipeline` — the end-to-end corpus-curation FLAGSHIP: the
  * whole training-data preparation flow composed as ONE query, with
  * the per-stage accounting table as its result (the
  * `q_filter_funnel` pattern extended across operator families).
  * Every stage is an already-oracled component redeployed:
  *
  *  1. `exact_dedup`   — normalize (lowercase, strip punctuation,
  *     collapse whitespace — `q_dedup_normalized`'s kernel) and keep
  *     the min-id document per normalized-content hash;
  *  2. `near_dedup`    — SimHash hamming ≤ 3 candidate pairs over the
  *     stage-1 survivors (`q_dedup_simhash`'s kernel); a document is
  *     dropped when a SMALLER-id near-duplicate survivor exists (the
  *     greedy pairwise rule — deterministic because it depends only
  *     on ids, and equal to `q_dedup_cluster`'s keep-cluster-min rule
  *     whenever every non-min member of a duplicate cluster pairs
  *     with some smaller member, which holds for the clique-ish
  *     clusters near-dup detection produces);
  *  3. `lang`          — keep the langs the downstream ASCII
  *     quality/repetition formulas are calibrated for (en/fr/es/de;
  *     zh fails them vacuously, so gating it out is the honest move);
  *  4. `media`         — the MULTIMODAL curation gate (round 10):
  *     each doc's media payload (documents × media joined on doc_id)
  *     must DECODE — real `ImageIO`/`AudioSystem`/`vpng` kernels, an
  *     invalid payload fails the job loudly — and the decoded media
  *     must meet minimum-size bounds (image ≥ 100 px, audio ≥ 100
  *     samples, video ≥ 2 frames): the caption+image admission shape
  *     every multimodal training pipeline runs
  *     ([[graft.multimodal.Multimodal.curationGate]]);
  *  5. `quality`       — `q_quality_score`'s integer-quantized
  *     length + stopword-ratio score, gate at ≥ 8;
  *  6. `repetition`    — `q_repetition`'s distinct-3-gram ratio,
  *     gate at ≤ 5% repeated;
  *  7. `decontaminate` — drop the held-out eval slice (doc_id ≡ 0
  *     mod 97) AND every document sharing a 5-gram with it
  *     (`q_contamination`'s kernel, turned from report into gate);
  *  8. `temperature_mix` — `q_temperature_mix`'s sqrt-weighted
  *     per-lang sampling rates, recomputed over the SURVIVORS (the
  *     rates a real pipeline would publish), content-hash bucketed;
  *  9. `shard`         — `q_shard_assign`'s content-hash shard
  *     labels; drops nothing, reports the manifest width.
  *
  * Output: one row per stage — (stage, gate, n_in, n_kept, n_drop,
  * chars_kept, detail). `chars_kept` is the surviving byte mass (the
  * number you size the training run with); `detail` is the
  * stage-specific diagnostic where one exists (docs in duplicated
  * groups / langs entering / contaminated count / langs surviving the
  * mix / distinct shards used), NULL elsewhere.
  *
  * Scale shape (the reason this composes at 100 TB): every gate flag
  * is computed ONCE on a slim per-doc frame (one corpus scan + one
  * window shuffle on the content hash), persisted WITHOUT the text
  * column; the text-dependent side inputs — the near-dup pair set
  * (output-proportional), the contaminated-id set (broadcast
  * semi-join of a tiny eval hash set against a second scan), the
  * (doc_id, media_ok) verdicts (one scan of the media side through
  * the decode kernels — the media BYTES never join the text frame,
  * only the boolean does), and the |langs|-row rate table — are each
  * bounded and joined back by id or lang. The accounting itself is
  * ONE aggregate over the flagged frame (map-side partials → 1 row →
  * `stack`), exactly like `q_filter_funnel`: adding a gate costs a
  * column, not a rescan. */
object CorpusPipelineQuery {

  /** Sampled-corpus size the stage-7 rates aim for (chosen so the
    * mix genuinely prunes at the sf0.01 correctness gate and sf0.1
    * bench, and keeps everything at sf0.001's 50 docs). */
  private val MixTarget = 120L

  private val MixLangs = Seq("en", "fr", "es", "de")

  private def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)

    // ---- slim per-doc frame: every projection-only gate input ----
    val toks = TF.tokens(col("text"))
    val stops = TF.Lexicons.toMap.apply("en")
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val base = docs.select(
      col("doc_id"), col("lang"), col("n_chars"),
      md5(norm).as("h"),
      col("lang").isin(MixLangs: _*).as("f3"),
      size(toks).as("n_tok"),
      TF.lexiconCount(toks, stops).as("stop_cnt"),
      greatest(size(toks) - 2, lit(0)).as("n_3grams"),
      size(TF.shingleUdfCol(col("text"), 3)).as("n_distinct"),
      (col("doc_id") % 97 === 0).as("is_eval"),
      pmod(F.polyHash(col("text")), lit(10000L)).as("bucket"),
      pmod(F.polyHash(col("text")), lit(64L)).as("shard"))
    val scored = base.select(
      col("doc_id"), col("lang"), col("n_chars"), col("h"),
      col("f3"), col("is_eval"), col("bucket"), col("shard"),
      // q_quality_score's formula, gated (q_filter_funnel's g3)
      (floor(lit(50.0) * least(col("n_tok"), lit(400)) / 400 +
        lit(50.0) * col("stop_cnt") / col("n_tok") + lit(1e-6)) >= 8).as("f4"),
      // q_repetition's formula, gated (q_filter_funnel's g4)
      (when(col("n_3grams") === 0, lit(0L)).otherwise(
        floor((lit(1.0) - col("n_distinct") / col("n_3grams")) * 100
          + lit(1e-6))) <= 5).as("f5"))
    val wh = Window.partitionBy("h")
    val slim = graft.ops.SideCache.persist(scored
      .withColumn("f1", col("doc_id") === min("doc_id").over(wh))
      .withColumn("dup_grp", count(lit(1)).over(wh) > 1))

    // ---- near-dup pairs over stage-1 survivors (needs text) ----
    // dropped2/contamIds are PERSISTED: both feed the stage-7 rate
    // aggregate AND the final accounting aggregate, and their upstream
    // (the LSH bucket join / the 5-gram explode) is the expensive part
    // of the whole pipeline. Both are bounded — drop-id lists, far
    // smaller than the corpus (and MEMORY_AND_DISK spills regardless).
    val s1docs = docs.join(
      slim.filter(col("f1")).select("doc_id"), Seq("doc_id"), "left_semi")
    val dropped2 = graft.ops.SideCache.persist(
      Dedup.simhashPairs(s1docs, maxHamming = 3)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("nd_drop", lit(true)))

    // ---- contamination ids: 5-gram overlap with the eval slice ----
    val evalHashes = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(F.shingleHashes(col("text"), 5)).as("sh5")).distinct()
    val contamIds = graft.ops.SideCache.persist(
      docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(F.shingleHashes(col("text"), 5)).as("sh5"))
        .join(broadcast(evalHashes), Seq("sh5"))
        .select("doc_id").distinct()
        .withColumn("contam", lit(true)))

    // ---- media verdicts: one scan of the media side through the
    // REAL decode kernels; only the (doc_id, media_ok) boolean joins
    // back — payload bytes never touch the text frame ----
    val mediaOk = graft.multimodal.Multimodal.curationGate(
      graft.multimodal.Multimodal.mediaFromDocuments(docs))

    val flags = slim
      .join(dropped2, Seq("doc_id"), "left")
      .join(contamIds, Seq("doc_id"), "left")
      .join(mediaOk, Seq("doc_id"), "left")
      .withColumn("f2", col("f1") && col("nd_drop").isNull)
      .withColumn("fm", coalesce(col("media_ok"), lit(false)))
      .withColumn("f6", !col("is_eval") && col("contam").isNull)

    // ---- stage-8 rates over the stage-7 survivors ----
    val pre7: Column = col("f1") && col("f2") && col("f3") && col("fm") &&
      col("f4") && col("f5") && col("f6")
    val weights = flags.filter(pre7)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_q",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val rates = weights.withColumn("sum_w", weights.agg(sum("w_q")).scalar())
      .select(col("lang"),
        // Widened to DECIMAL(38,0)/HUGEINT (the q_epoch_mix convention):
        // w_q = floor(sqrt(n_docs)*1e6) makes the BIGINT product
        // overflow near n_docs ≈ 6e13 per lang — reachable at 100 TB.
        least(lit(10000L),
          expr(s"""CAST((CAST($MixTarget AS DECIMAL(38,0)) * w_q * 10000)
                  |div (CAST(sum_w AS DECIMAL(38,0)) * n_docs) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
          .as("rate_bp"))

    val f7: Column = pre7 && col("bucket") < coalesce(col("rate_bp"), lit(0L))
    val kept = flags.join(broadcast(rates), Seq("lang"), "left")
      .withColumn("k1", col("f1"))
      .withColumn("k2", col("f1") && col("f2"))
      .withColumn("k3", col("f1") && col("f2") && col("f3"))
      .withColumn("km", col("f1") && col("f2") && col("f3") && col("fm"))
      .withColumn("k4",
        col("f1") && col("f2") && col("f3") && col("fm") && col("f4"))
      .withColumn("k5", col("f1") && col("f2") && col("f3") && col("fm") &&
        col("f4") && col("f5"))
      .withColumn("k6", pre7)
      .withColumn("k7", f7)

    def cSum(flag: String): Column =
      coalesce(sum(when(col(flag), col("n_chars"))), lit(0L)).as("c" + flag)
    kept.agg(
        count(lit(1)).as("n0"),
        coalesce(sum(col("n_chars")), lit(0L)).as("ck0"),
        sum(col("k1").cast("long")).as("s1"),
        sum(col("k2").cast("long")).as("s2"),
        sum(col("k3").cast("long")).as("s3"),
        sum(col("km").cast("long")).as("sm"),
        sum(col("k4").cast("long")).as("s4"),
        sum(col("k5").cast("long")).as("s5"),
        sum(col("k6").cast("long")).as("s6"),
        sum(col("k7").cast("long")).as("s7"),
        cSum("k1"), cSum("k2"), cSum("k3"), cSum("km"), cSum("k4"),
        cSum("k5"), cSum("k6"), cSum("k7"),
        sum(col("dup_grp").cast("long")).as("d1"),
        countDistinct(when(col("k2"), col("lang"))).as("d3"),
        sum((col("k5") && !col("is_eval") && col("contam").isNotNull)
          .cast("long")).as("d6"),
        countDistinct(when(col("k7"), col("lang"))).as("d7"),
        countDistinct(when(col("k7"), col("shard"))).as("d8"))
      .selectExpr(
        """stack(9,
          |  1, 'exact_dedup',     n0, s1, ck1, d1,
          |  2, 'near_dedup',      s1, s2, ck2, CAST(NULL AS BIGINT),
          |  3, 'lang',            s2, s3, ck3, d3,
          |  4, 'media',           s3, sm, ckm, CAST(NULL AS BIGINT),
          |  5, 'quality',         sm, s4, ck4, CAST(NULL AS BIGINT),
          |  6, 'repetition',      s4, s5, ck5, CAST(NULL AS BIGINT),
          |  7, 'decontaminate',   s5, s6, ck6, d6,
          |  8, 'temperature_mix', s6, s7, ck7, d7,
          |  9, 'shard',           s7, s7, ck7, d8)
          |AS (stage, gate, n_in, n_kept, chars_kept, detail)""".stripMargin)
      .withColumn("n_drop", col("n_in") - col("n_kept"))
      .orderBy("stage")
  }

  // ------------------------------------------------------------ oracle

  /** SimHash fingerprint + candidate-pair SQL over a CTE named
    * `s1docs(doc_id, text)` — the `q_dedup_simhash` oracle fragment
    * parameterized on its input relation. */
  private def simhashPairCtes: String = {
    val bitTerms =
      (0 until 31).map { k =>
        s"CASE WHEN list_sum(list_transform(h1, x -> CASE WHEN ((x >> $k) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $k) ELSE 0 END"
      } ++ (0 until 31).map { k =>
        s"CASE WHEN list_sum(list_transform(h2, x -> CASE WHEN ((x >> $k) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << ${31 + k}) ELSE 0 END"
      }
    s"""shtoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM s1docs
       |), shhs AS (
       |  SELECT doc_id,
       |    list_transform(t, s -> ${OracleSqlFrag.poly("s", 131L)}) AS h1,
       |    list_transform(t, s -> ${OracleSqlFrag.poly("s", 137L)}) AS h2
       |  FROM shtoks
       |), shfp AS (
       |  SELECT doc_id, ${bitTerms.mkString("\n    + ")} AS simhash FROM shhs
       |), shblocks AS (
       |  SELECT doc_id, simhash, block, (simhash >> (16 * block)) % 65536 AS block_val
       |  FROM shfp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS block)
       |), ndpairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |    FROM shblocks a JOIN shblocks b
       |      ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3
       |)""".stripMargin
  }

  private def gram5(rel: String): String =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 5
       |      THEN list_transform(generate_series(1, len(t)-4),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS sh5
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel)""".stripMargin

  private def sql: String = {
    val stops = TF.Lexicons.toMap.apply("en").map(w => s"'$w'")
      .mkString("[", ", ", "]")
    val langs = MixLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h,
       |    (lang IN ($langs)) AS f3,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stops, x))) AS INT) AS stop_cnt,
       |    CAST(GREATEST(len(string_split(text, ' ')) - 2, 0) AS INT) AS n_3grams,
       |    CAST(len(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
       |      THEN list_transform(generate_series(1, len(string_split(text, ' '))-2),
       |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
       |          || ' ' || string_split(text, ' ')[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END)) AS INT) AS n_distinct,
       |    (doc_id % 97 = 0) AS is_eval,
       |    ${OracleSqlFrag.poly("text")} % 10000 AS bucket,
       |    ${OracleSqlFrag.poly("text")} % 64 AS shard
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, n_chars, h, f3, is_eval, bucket, shard,
       |    (floor(50.0 * LEAST(n_tok, 400) / 400
       |      + 50.0 * stop_cnt / n_tok + 0.000001) >= 8) AS f4,
       |    (CASE WHEN n_3grams = 0 THEN 0
       |      ELSE CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_3grams) * 100
       |        + 0.000001) AS BIGINT) END <= 5) AS f5
       |  FROM base),
       |slim AS (
       |  SELECT *, (doc_id = MIN(doc_id) OVER (PARTITION BY h)) AS f1,
       |    (COUNT(*) OVER (PARTITION BY h) > 1) AS dup_grp
       |  FROM scored),
       |s1docs AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN slim s ON d.doc_id = s.doc_id WHERE s.f1),
       |$simhashPairCtes,
       |dropped AS (SELECT DISTINCT id_b AS doc_id FROM ndpairs),
       |mok AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INT)
       |      WHEN 0 THEN ((n_chars % 28 + 4) * (n_chars % 20 + 4)) >= 100
       |      WHEN 1 THEN (n_chars % 480 + 32) >= 100
       |      ELSE (n_chars % 24 + 1) >= 2 END AS media_ok
       |  FROM documents),
       |evalh AS (
       |  SELECT DISTINCT sh5 FROM (${gram5("(SELECT * FROM documents WHERE doc_id % 97 = 0)")})),
       |contam AS (
       |  SELECT DISTINCT g.doc_id FROM (${gram5("(SELECT * FROM documents WHERE doc_id % 97 <> 0)")}) g
       |  JOIN evalh e ON g.sh5 = e.sh5),
       |flags AS (
       |  SELECT s.*,
       |    (s.f1 AND dr.doc_id IS NULL) AS f2,
       |    COALESCE(m.media_ok, FALSE) AS fm,
       |    (NOT s.is_eval AND c.doc_id IS NULL) AS f6,
       |    (c.doc_id IS NOT NULL) AS contam
       |  FROM slim s
       |  LEFT JOIN dropped dr ON s.doc_id = dr.doc_id
       |  LEFT JOIN contam c ON s.doc_id = c.doc_id
       |  LEFT JOIN mok m ON s.doc_id = m.doc_id),
       |w AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w_q
       |  FROM flags WHERE f1 AND f2 AND f3 AND fm AND f4 AND f5 AND f6 GROUP BY lang),
       |tot AS (SELECT CAST(SUM(w_q) AS BIGINT) AS sum_w FROM w),
       |r AS (
       |  SELECT lang, CAST(LEAST(10000, ($MixTarget::HUGEINT * w_q * 10000) // (sum_w::HUGEINT * n_docs)) AS BIGINT) AS rate_bp
       |  FROM w CROSS JOIN tot),
       |kept AS (
       |  SELECT f.*,
       |    f.f1 AS k1, (f.f1 AND f.f2) AS k2,
       |    (f.f1 AND f.f2 AND f.f3) AS k3,
       |    (f.f1 AND f.f2 AND f.f3 AND f.fm) AS km,
       |    (f.f1 AND f.f2 AND f.f3 AND f.fm AND f.f4) AS k4,
       |    (f.f1 AND f.f2 AND f.f3 AND f.fm AND f.f4 AND f.f5) AS k5,
       |    (f.f1 AND f.f2 AND f.f3 AND f.fm AND f.f4 AND f.f5 AND f.f6) AS k6,
       |    (f.f1 AND f.f2 AND f.f3 AND f.fm AND f.f4 AND f.f5 AND f.f6
       |      AND f.bucket < COALESCE(r.rate_bp, 0)) AS k7
       |  FROM flags f LEFT JOIN r ON f.lang = r.lang),
       |agg AS (
       |  SELECT COUNT(*) AS n0,
       |    CAST(SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(SUM(CASE WHEN km THEN 1 ELSE 0 END) AS BIGINT) AS sm,
       |    CAST(SUM(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
       |    CAST(SUM(CASE WHEN k5 THEN 1 ELSE 0 END) AS BIGINT) AS s5,
       |    CAST(SUM(CASE WHEN k6 THEN 1 ELSE 0 END) AS BIGINT) AS s6,
       |    CAST(SUM(CASE WHEN k7 THEN 1 ELSE 0 END) AS BIGINT) AS s7,
       |    CAST(COALESCE(SUM(CASE WHEN k1 THEN n_chars END), 0) AS BIGINT) AS ck1,
       |    CAST(COALESCE(SUM(CASE WHEN k2 THEN n_chars END), 0) AS BIGINT) AS ck2,
       |    CAST(COALESCE(SUM(CASE WHEN k3 THEN n_chars END), 0) AS BIGINT) AS ck3,
       |    CAST(COALESCE(SUM(CASE WHEN km THEN n_chars END), 0) AS BIGINT) AS ckm,
       |    CAST(COALESCE(SUM(CASE WHEN k4 THEN n_chars END), 0) AS BIGINT) AS ck4,
       |    CAST(COALESCE(SUM(CASE WHEN k5 THEN n_chars END), 0) AS BIGINT) AS ck5,
       |    CAST(COALESCE(SUM(CASE WHEN k6 THEN n_chars END), 0) AS BIGINT) AS ck6,
       |    CAST(COALESCE(SUM(CASE WHEN k7 THEN n_chars END), 0) AS BIGINT) AS ck7,
       |    CAST(SUM(CASE WHEN dup_grp THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(COUNT(DISTINCT CASE WHEN k2 THEN lang END) AS BIGINT) AS d3,
       |    CAST(SUM(CASE WHEN k5 AND NOT is_eval AND contam THEN 1 ELSE 0 END) AS BIGINT) AS d6,
       |    CAST(COUNT(DISTINCT CASE WHEN k7 THEN lang END) AS BIGINT) AS d7,
       |    CAST(COUNT(DISTINCT CASE WHEN k7 THEN shard END) AS BIGINT) AS d8
       |  FROM kept)
       |SELECT stage, gate, n_in, n_kept, chars_kept, detail,
       |  n_in - n_kept AS n_drop FROM (
       |  SELECT 1 AS stage, 'exact_dedup' AS gate, n0 AS n_in, s1 AS n_kept,
       |    ck1 AS chars_kept, d1 AS detail FROM agg
       |  UNION ALL SELECT 2, 'near_dedup', s1, s2, ck2, NULL FROM agg
       |  UNION ALL SELECT 3, 'lang', s2, s3, ck3, d3 FROM agg
       |  UNION ALL SELECT 4, 'media', s3, sm, ckm, NULL FROM agg
       |  UNION ALL SELECT 5, 'quality', sm, s4, ck4, NULL FROM agg
       |  UNION ALL SELECT 6, 'repetition', s4, s5, ck5, NULL FROM agg
       |  UNION ALL SELECT 7, 'decontaminate', s5, s6, ck6, d6 FROM agg
       |  UNION ALL SELECT 8, 'temperature_mix', s6, s7, ck7, d7 FROM agg
       |  UNION ALL SELECT 9, 'shard', s7, s7, ck7, d8 FROM agg)
       |ORDER BY stage""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_corpus_pipeline", run, Some(sql)))
}
