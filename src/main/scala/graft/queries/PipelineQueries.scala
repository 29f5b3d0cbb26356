package graft.queries

import graft.functions.F
import graft.tables.Tables
import graft.text.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators — the steps between "raw corpus"
  * and "training mix" that a 100 TB LLM pipeline runs after dedup:
  * PII scrubbing, benchmark decontamination, repetition scoring, and
  * deterministic stratified sampling. All are single-scan projections
  * or one bounded join; all carry full DuckDB oracles.
  */
object PipelineQueries {

  // Regex patterns restricted to the syntax Java regex and RE2
  // (DuckDB) interpret identically: no backrefs, no lookaround.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** PII scrubbing: redact emails/phones, count what was removed.
    * The corpus is synthetic, so deterministic PII is planted first
    * (same expression in the oracle) — the query proves the scrub
    * pipeline, not the corpus. One codegen'd projection, no shuffle:
    * at 100 TB this runs at scan speed. */
  private def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 10 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 15 === 0,
        concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phones"),
        length(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("scrubbed_len"),
        length(col("t")).as("raw_len"))
      .orderBy("doc_id")
  }

  private val piiScrubSql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
       |  CAST(length(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS INT) AS scrubbed_len,
       |  CAST(length(t) AS INT) AS raw_len
       |FROM (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 10 = 0
       |         THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 15 = 0
       |         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
       |    AS t
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: flag training docs sharing any 5-gram
    * with the held-out eval slice (doc_id ≡ 0 mod 97).
    *
    * Scale shape: the eval side is tiny by construction, so its
    * shingle-hash set BROADCASTS and the train side never shuffles —
    * a semi-join at scan speed over 100 TB. Output is per
    * (train, eval) pair with the overlap count (8-byte hash keys,
    * same rationale as q_ngram_jaccard). */
  private def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(F.shingleHashes(col("text"), 5)).as("h"))
    val evalSh = sh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSh), Seq("h"))
      .groupBy(col("doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "eval_id")
  }

  private val contaminationSql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 5
       |      THEN list_transform(generate_series(1, len(t)-4),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |)
       |SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
       |FROM sh tr JOIN sh ev ON tr.h = ev.h
       |WHERE tr.doc_id % 97 <> 0 AND ev.doc_id % 97 = 0
       |GROUP BY 1, 2 ORDER BY train_id, eval_id""".stripMargin

  /** Exact repeated-passage detection: 6-token shingles shared by ≥2
    * documents — the exact-substring dedup stage of a training-data
    * pipeline (boilerplate headers, license blocks, mirrored articles
    * surface as high-document-count passages worth cutting before
    * training).
    *
    * Scale shape: the shingle hashes come out of the scan projection
    * (one codegen'd pass per doc, distinct within doc), then ONE
    * partial+final count over 8-byte keys — at 100 TB this is a
    * scan-speed map plus a single integer-keyed shuffle whose output
    * is only the repeated tail of the distribution. */
  private def repeatedPassages(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(F.shingleHashes(col("text"), 6)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("h"))

  private val repeatedPassagesSql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 6
       |      THEN list_transform(generate_series(1, len(t)-5),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |)
       |SELECT h, COUNT(*) AS n_docs FROM sh
       |GROUP BY h HAVING COUNT(*) >= 2
       |ORDER BY n_docs DESC, h""".stripMargin

  /** Intra-document repetition score: 1 − distinct/total 3-grams —
    * the standard boilerplate/spam signal. Pure projection. */
  private def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokens(col("text"))
    val total = greatest(size(toks) - 2, lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"), total.as("n_3grams"),
        size(TF.shingleUdfCol(col("text"), 3)).as("n_distinct"))
      .withColumn("rep_pct",
        when(col("n_3grams") === 0, 0L).otherwise(
          floor((lit(1.0) - col("n_distinct") / col("n_3grams")) * 100 + lit(1e-6))))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    """SELECT doc_id, n_3grams, n_distinct,
      |  CASE WHEN n_3grams = 0 THEN 0
      |    ELSE CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_3grams) * 100 + 0.000001) AS BIGINT)
      |  END AS rep_pct
      |FROM (
      |  SELECT doc_id,
      |    CAST(GREATEST(len(t) - 2, 0) AS INT) AS n_3grams,
      |    CAST(len(list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE CAST([] AS VARCHAR[]) END)) AS INT) AS n_distinct
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling for training-mix construction:
    * per-language keep-rates applied by `poly_hash(text) mod 100` —
    * content-hash bucketing, NOT `rand()`: reproducible across runs,
    * engines, and partitionings, and it down-samples duplicate
    * content consistently. Single scan, no shuffle, no state. */
  private val Quota: Seq[(String, Int)] =
    Seq("en" -> 20, "fr" -> 60, "es" -> 60, "de" -> 60, "zh" -> 80)

  private def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(F.polyHash(col("text")), lit(100L))
    val quota = Quota.foldRight(lit(0): org.apache.spark.sql.Column) {
      case ((l, q), e) => when(col("lang") === l, lit(q)).otherwise(e)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), quota.as("keep_below"))
      .filter(col("bucket") < col("keep_below"))
      .orderBy("doc_id")
  }

  private val stratifiedSampleSql = {
    val quotaCase = Quota.map { case (l, q) => s"WHEN lang = '$l' THEN $q" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT doc_id, lang, bucket, keep_below FROM (
       |  SELECT doc_id, lang,
       |    ${OracleSqlFrag.poly("text")} % 100 AS bucket,
       |    CAST($quotaCase AS INT) AS keep_below
       |  FROM documents)
       |WHERE bucket < keep_below ORDER BY doc_id""".stripMargin
  }

  /** Temperature-weighted training-mix sampling (the multilingual
    * pretraining rebalance: keep rates ∝ count^α, α = 1/2, so
    * low-resource languages are upsampled relative to their share).
    * Unlike q_stratified_sample's FIXED quotas, the rates here are
    * computed FROM the corpus: one tiny per-language aggregate →
    * weights w = floor(√n·10⁶) → basis-point keep rates broadcast
    * back against the scan; row selection is the same content-hash
    * bucket (reproducible, engine-independent — never rand()).
    * Determinism: √n is a single correctly-rounded IEEE op on
    * identical inputs, so the quantized weights are bit-equal across
    * engines; everything after is integer (floor division == DuckDB
    * `//` on non-negatives). Scale shape: agg is |langs| rows, rates
    * broadcast, the corpus never shuffles — selection happens in the
    * scan projection. */
  private def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val Target = 200L // sampled-corpus size the rates aim for
    val docs = Tables.documents(spark, dir)
    val weights = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_q",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val tot = weights.agg(sum("w_q").as("sum_w"))
    val rates = weights.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        least(lit(10000L),
          expr(s"(${Target}L * w_q * 10000L) div (sum_w * n_docs)")).as("rate_bp"))
    docs.select(col("doc_id"), col("lang"),
        pmod(F.polyHash(col("text")), lit(10000L)).as("bucket"))
      .join(broadcast(rates.drop("n_docs")), Seq("lang"))
      .filter(col("bucket") < col("rate_bp"))
      .select("doc_id", "lang", "bucket", "rate_bp")
      .orderBy("doc_id")
  }

  private val temperatureMixSql =
    s"""WITH w AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w_q
       |  FROM documents GROUP BY lang
       |), tot AS (
       |  SELECT CAST(SUM(w_q) AS BIGINT) AS sum_w FROM w
       |), r AS (
       |  SELECT lang, CAST(LEAST(10000, (200 * w_q * 10000) // (sum_w * n_docs)) AS BIGINT) AS rate_bp
       |  FROM w CROSS JOIN tot
       |)
       |SELECT doc_id, d.lang AS lang,
       |  ${OracleSqlFrag.poly("text")} % 10000 AS bucket, rate_bp
       |FROM documents d JOIN r ON d.lang = r.lang
       |WHERE ${OracleSqlFrag.poly("text")} % 10000 < rate_bp
       |ORDER BY doc_id""".stripMargin

  /** Deterministic content-hash sharding — the "write the corpus as K
    * reproducible shards" step every pretraining pipeline ends with:
    * shard = polyhash(text) mod K, so the assignment depends only on
    * CONTENT (re-running on re-ordered, re-partitioned, or
    * incrementally-grown input lands every surviving document in the
    * same shard — stable training order, resumable preprocessing).
    * Output is the shard MANIFEST (per-shard count, byte mass, id
    * range) — the thing you actually inspect before a 100 TB write.
    * Scale shape: the assignment is a scan-speed projection; the
    * manifest is a K-row aggregate (map-side partials do all the
    * work); an actual sharded write is `partitionBy("shard")` on the
    * same column (the q_write_partitioned layout). Balance is a
    * multinomial: shards concentrate within O(√(n/K)) of n/K —
    * spec-asserted on the corpus. */
  private val NumShards = 64L

  private def shardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        pmod(F.polyHash(col("text")), lit(NumShards)).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")

  private val shardAssignSql =
    s"""SELECT ${OracleSqlFrag.poly("text")} % $NumShards AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  /** RENDEZVOUS (highest-random-weight) sharding — the rebalance
    * story `q_shard_assign`'s `mod K` cannot tell: when the shard
    * count grows 64 → 80, mod-hashing moves ~79/80 of all documents
    * (every doc's residue changes), a full 100 TB rewrite; rendezvous
    * hashing (shard = argmax over s of h(doc, s)) moves ONLY the docs
    * some NEW shard now wins — 16/80 = 20% in expectation, and
    * NOTHING ever moves between two old shards (growing the shard set
    * only ADDS candidate hashes, so an old argmax stays the winner
    * unless a new shard beats it — the defining monotonicity, visible
    * in the output: n_arrived = 0 on every old shard; spec asserts it
    * and the mod-hash control). h is the exact-integer [[F.polyHash]]
    * of "doc_id:s" passed through a quadratic scramble
    * (h² + 7919·h mod 2³¹−1): the raw polynomial hash is nearly
    * MONOTONE in the trailing digit on strings this short (no modular
    * wrap), which made argmax collapse onto the largest-suffix shard;
    * squaring wraps thousands of times and restores avalanche while
    * staying exact-integer on both engines (h < 2³¹ ⇒ h² < 2⁶², no
    * BIGINT overflow). Scale shape: the double assignment is a scan
    * projection (80+64 short hashes/doc — a native batch expression
    * would fold this into one pass at real scale), the output an
    * 80-row map-side aggregate. */
  private val OldShards = 64
  private val NewShards = 80

  private def shardRendezvous(spark: SparkSession, dir: String): DataFrame = {
    def hrw(n: Int): Column = {
      def hs = transform(
        transform(sequence(lit(0), lit(n - 1)),
          s => F.polyHash(concat(col("doc_id").cast("string"), lit(":"),
            s.cast("string")))),
        h => pmod(h * h + lit(7919L) * h, lit(2147483647L)))
      (array_position(hs, array_max(hs)) - 1).cast("long")
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), hrw(OldShards).as("old_shard"),
        hrw(NewShards).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("old_shard") =!= col("shard")).cast("long")).as("n_arrived"))
      .orderBy("shard")
  }

  private val shardRendezvousSql = {
    def polyKS = OracleSqlFrag.poly("CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)")
    def mixed(n: Int) =
      s"list_transform(list_transform(range(0, $n), s -> $polyKS), " +
        s"hv -> (hv * hv + 7919 * hv) % 2147483647)"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${mixed(OldShards)} AS h64,
       |    ${mixed(NewShards)} AS h80
       |  FROM documents),
       |a AS (
       |  SELECT doc_id,
       |    CAST(list_position(h64, list_max(h64)) - 1 AS BIGINT) AS old_shard,
       |    CAST(list_position(h80, list_max(h80)) - 1 AS BIGINT) AS shard
       |  FROM h)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN old_shard <> shard THEN 1 ELSE 0 END) AS BIGINT) AS n_arrived
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Per-source document cap — the absolute-ceiling companion to
    * q_temperature_mix's proportional rates: no single source (one
    * crawl domain, one dump) may contribute more than `SourceCap`
    * documents (the corpus holds ~25 per source, so the ceiling
    * genuinely prunes), and within a source the KEPT documents are the
    * best ones under a deterministic (length desc, doc_id) order —
    * never "first N encountered", which depends on scan order. Plan
    * shape:
    * rank-within-group with a `rank <= k` filter, which Spark rewrites
    * to WindowGroupLimit — each group keeps a k-row heap BEFORE the
    * window sort, so per-source state is O(k) even when one domain
    * holds a billion pages (the q_topn_per_group/q_ann_topk operator,
    * deployed on curation). */
  private val SourceCap = 10

  private def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SourceCap)
      .orderBy("doc_id")
  }

  private val sourceCapSql =
    s"""SELECT doc_id, source, n_chars, rk FROM (
       |  SELECT doc_id, source, n_chars,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS INT) AS rk
       |  FROM documents
       |) WHERE rk <= $SourceCap
       |ORDER BY doc_id""".stripMargin

  /** Weighted sampling without replacement — priority sampling
    * (Duffield/Lund/Thorup): each document draws a deterministic
    * uniform u ∈ (0,1] from its content hash, gets priority u/w with
    * weight w = max(n_chars, 1), and the k SMALLEST priorities form
    * the sample — longer documents are proportionally more likely to
    * survive, which is the length-weighted epoch-sampling step of a
    * training-mix builder (sampling ∝ tokens, not ∝ documents).
    *
    * Never `rand()`: u = (poly_hash(text)+1)/2³¹ is reproducible
    * across runs, engines, and partitionings. Determinism is BIT
    * exactness, not eps-tolerance: u and w are identical doubles on
    * both engines and /,* are single correctly-rounded IEEE ops in
    * identical order, so every priority is bit-equal; selection and
    * tie-breaks run on the quantized integer (prio_q, doc_id) key on
    * BOTH engines, so the boundary of the sample cannot disagree.
    *
    * Scale shape: priorities are a scan-speed projection; the global
    * smallest-k is `TakeOrderedAndProject` — each partition keeps a
    * k-row heap, the driver merges P·k rows — no global sort, no
    * shuffle of the corpus. At 100 TB with k = 100 the exchanged
    * volume is partitions × k rows. */
  private val SampleK = 100

  private def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (F.polyHash(col("text")) + lit(1L)).cast("double") / lit(2147483648.0)
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        floor(u / w * lit(1e15)).cast("long").as("prio_q"))
      .orderBy(col("prio_q"), col("doc_id"))
      .limit(SampleK)
  }

  private val weightedSampleSql =
    s"""SELECT doc_id, lang, n_chars,
       |  CAST(floor((CAST(${OracleSqlFrag.poly("text")} + 1 AS DOUBLE) / 2147483648.0)
       |    / CAST(GREATEST(n_chars, 1) AS DOUBLE) * 1e15) AS BIGINT) AS prio_q
       |FROM documents
       |ORDER BY prio_q, doc_id LIMIT $SampleK""".stripMargin

  /** Per-stratum weighted sampling — `q_weighted_sample`'s
    * partitioned sibling: the SAME priority-sampling key (bit-exact
    * hash uniform u, priority u/w, w = doc length), but the k
    * smallest are taken PER LANGUAGE — the "sample ∝ tokens within
    * each stratum" step that builds a balanced multilingual mix
    * without a global pass.
    *
    * Scale shape: `rank <= k` over (prio_q, doc_id) plans as
    * `WindowGroupLimit` — each language keeps a k-row heap BEFORE
    * any sort (the q_source_cap operator shape), so per-stratum
    * state is O(k) even when one language holds a billion documents
    * and the only exchange is the |langs|-keyed window shuffle. */
  private def groupWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (F.polyHash(col("text")) + lit(1L)).cast("double") / lit(2147483648.0)
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("prio_q"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        floor(u / w * lit(1e15)).cast("long").as("prio_q"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 20)
      .orderBy("lang", "rk")
  }

  private val groupWeightedSampleSql =
    s"""SELECT doc_id, lang, n_chars, prio_q, rk FROM (
       |  SELECT doc_id, lang, n_chars, prio_q,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY prio_q, doc_id) AS INT) AS rk
       |  FROM (
       |    SELECT doc_id, lang, n_chars,
       |      CAST(floor((CAST(${OracleSqlFrag.poly("text")} + 1 AS DOUBLE) / 2147483648.0)
       |        / CAST(GREATEST(n_chars, 1) AS DOUBLE) * 1e15) AS BIGINT) AS prio_q
       |    FROM documents))
       |WHERE rk <= 20
       |ORDER BY lang, rk""".stripMargin

  /** Record linkage / entity resolution (Fellegi–Sunter): match the
    * customer master against a dirty second source using BLOCKED
    * pairwise field comparison and integer agreement weights — the
    * "same real-world entity, different records" step that precedes
    * any cross-source join in a data-integration pipeline.
    *
    * The dirty source is PLANTED deterministically (the q_pii_scrub
    * pattern, same expressions in the oracle): every custkey ≢ 2
    * (mod 3) re-appears at −custkey−1 (the negative namespace is
    * disjoint from any real non-negative key — no collision on
    * sources whose keys reach a fixed offset) with either benign drift
    * (identical name, balance +23¢, same segment → must classify
    * `match`) or real corruption (`#`→`-` in the name = edit distance
    * 1, balance +$25, segment lost → `possible`). Cross-customer
    * block pairs mostly score negative → `nonmatch` (not emitted) —
    * but single-digit-apart names land in the `possible` gray zone,
    * and a coincidental balance+segment agreement on top can reach
    * `match`: that is the Fellegi–Sunter FALSE-POSITIVE RATE, the
    * quantity the weights/thresholds trade off against recall (at
    * sf0.001 it is exactly zero, which the spec pins; at sf0.01 two
    * of 550 gray-zone pairs cross the bar — expected FS behavior,
    * identical on both engines, still hash-green).
    *
    * Fellegi–Sunter mechanics, scale-shaped:
    *  - BLOCKING on (nationkey, last-4-of-name) bounds candidates to
    *    Σ|block_A|·|block_B| through a plain equi-join — never a
    *    cross join. The second key matters at scale: nationkey alone
    *    left ~n²/|nations| pairs (measured 31 s at sf0.1 — 6M
    *    levenshteins); the name-suffix key is UNTOUCHED by the
    *    planted corruption (position 9), so twin recall is unharmed
    *    while blocks collapse to O(1) records. Missing
    *    cross-customer gray-zone pairs whose names differ inside the
    *    suffix is the standard blocking recall trade-off (production
    *    runs multi-pass blocking with several keys, same plan);
    *  - the agreement vector (edit-distance-≤1 name, ≤100¢ balance,
    *    segment equality) is a per-pair projection; weights are
    *    INTEGER log-odds (agree/disagree: name +20/−5, balance
    *    +10/−5, segment +3/−2), so scoring and thresholds (≥25 match,
    *    ≥8 possible) are exact on both engines — `levenshtein` is the
    *    same edit-distance definition in Spark and DuckDB. */
  private def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(spark, dir, "customer")
    val a = c.select(col("c_custkey").as("a_key"),
      lower(col("c_name")).as("a_name"), col("c_nationkey").as("nk"),
      graft.ops.Num.cents(col("c_acctbal")).as("a_bal"),
      col("c_mktsegment").as("a_seg"))
      .withColumn("blk", expr("right(a_name, 4)"))
    val b = c.filter(col("c_custkey") % 3 =!= 2).select(
      (-col("c_custkey") - 1L).as("b_key"),
      when(col("c_custkey") % 3 === 0, lower(col("c_name")))
        .otherwise(lower(regexp_replace(col("c_name"), "#", "-"))).as("b_name"),
      col("c_nationkey").as("nk"),
      (graft.ops.Num.cents(col("c_acctbal")) +
        when(col("c_custkey") % 3 === 0, lit(23L)).otherwise(lit(2500L))).as("b_bal"),
      when(col("c_custkey") % 3 === 0, col("c_mktsegment"))
        .otherwise(lit("UNKNOWN")).as("b_seg"))
      .withColumn("blk", expr("right(b_name, 4)"))
    val scored = a.join(b, Seq("nk", "blk"))
      .select(col("a_key"), col("b_key"),
        (when(levenshtein(col("a_name"), col("b_name")) <= 1, 20L).otherwise(-5L) +
          when(abs(col("a_bal") - col("b_bal")) <= 100L, 10L).otherwise(-5L) +
          when(col("a_seg") === col("b_seg"), 3L).otherwise(-2L)).as("w_total"))
      .withColumn("verdict",
        when(col("w_total") >= 25, lit("match"))
          .when(col("w_total") >= 8, lit("possible"))
          .otherwise(lit("nonmatch")))
    scored.filter(col("verdict") =!= "nonmatch")
      .orderBy("a_key", "b_key")
  }

  private val recordLinkageSql =
    s"""WITH a AS (
       |  SELECT c_custkey AS a_key, lower(c_name) AS a_name,
       |    right(lower(c_name), 4) AS blk,
       |    c_nationkey AS nk, ${graft.ops.NumSql.cents("c_acctbal")} AS a_bal,
       |    c_mktsegment AS a_seg
       |  FROM customer
       |), b AS (
       |  SELECT -c_custkey - 1 AS b_key,
       |    CASE WHEN c_custkey % 3 = 0 THEN lower(c_name)
       |         ELSE lower(replace(c_name, '#', '-')) END AS b_name,
       |    c_nationkey AS nk,
       |    ${graft.ops.NumSql.cents("c_acctbal")} +
       |      CASE WHEN c_custkey % 3 = 0 THEN 23 ELSE 2500 END AS b_bal,
       |    CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment
       |         ELSE 'UNKNOWN' END AS b_seg,
       |    right(lower(c_name), 4) AS blk
       |  FROM customer WHERE c_custkey % 3 <> 2
       |)
       |SELECT a_key, b_key, w_total, verdict FROM (
       |  SELECT a_key, b_key, w_total,
       |    CASE WHEN w_total >= 25 THEN 'match'
       |         WHEN w_total >= 8 THEN 'possible'
       |         ELSE 'nonmatch' END AS verdict
       |  FROM (
       |    SELECT a_key, b_key,
       |      CAST(CASE WHEN levenshtein(a_name, b_name) <= 1 THEN 20 ELSE -5 END +
       |           CASE WHEN abs(a_bal - b_bal) <= 100 THEN 10 ELSE -5 END +
       |           CASE WHEN a_seg = b_seg THEN 3 ELSE -2 END AS BIGINT) AS w_total
       |    FROM a JOIN b USING (nk, blk)))
       |WHERE verdict <> 'nonmatch'
       |ORDER BY a_key, b_key""".stripMargin

  /** Data-quality rule suite: the validation pass every production
    * pipeline runs before publishing a batch. Each rule is a
    * scan-speed predicate aggregate (or one anti-join for referential
    * integrity); the union of per-rule counts is a handful of rows.
    * At 100 TB each rule shares the same scan via column pruning —
    * no rule needs more than (key, checked column). */
  private def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    def rule(name: String, n: org.apache.spark.sql.Column, from: DataFrame) =
      from.agg(coalesce(n, lit(0L)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    val orphans = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
    rule("1_orders_orphan_custkey", count(lit(1)), orphans)
      .union(rule("2_lineitem_qty_range",
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)), li))
      .union(rule("3_events_negative_value",
        sum(when(col("value") < 0, 1L).otherwise(0L)), ev))
      .union(rule("4_events_dup_event_id",
        count(lit(1)) - countDistinct(col("event_id")), ev))
      .union(rule("5_events_ts_out_of_range",
        sum(when(to_date(col("ts")) < lit("2024-01-01") ||
          to_date(col("ts")) >= lit("2025-01-01"), 1L).otherwise(0L)), ev))
      .orderBy("rule")
  }

  private val dqChecksSql =
    """SELECT rule, n_violations FROM (
      |  SELECT '1_orders_orphan_custkey' AS rule, COUNT(*) AS n_violations
      |  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |  UNION ALL SELECT '2_lineitem_qty_range',
      |    CAST(COALESCE(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL SELECT '3_events_negative_value',
      |    CAST(COALESCE(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
      |  UNION ALL SELECT '4_events_dup_event_id',
      |    COUNT(*) - COUNT(DISTINCT event_id) FROM events
      |  UNION ALL SELECT '5_events_ts_out_of_range',
      |    CAST(COALESCE(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-01'
      |      OR CAST(ts AS DATE) >= DATE '2025-01-01' THEN 1 ELSE 0 END), 0) AS BIGINT)
      |  FROM events)
      |ORDER BY rule""".stripMargin

  /** Sequential filter funnel with per-stage attrition — the curation
    * ACCOUNTING table every production pipeline publishes (what
    * fraction died at which gate, in which order). Four gates run in
    * sequence: declared language, length band, quality score
    * (`q_quality_score`'s formula), repetition (`q_repetition`'s
    * formula). ONE corpus scan computes all gate flags as projections;
    * survival counts are conjunction sums in a single aggregate
    * (map-side partial → 1 row), then `stack` unpivots to the 4-row
    * report — no per-stage rescans, no intermediate materialization.
    * At 100 TB this is exactly one pass over the corpus regardless of
    * how many gates the funnel grows. */
  private def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokens(col("text"))
    val stops = TF.Lexicons.toMap.apply("en")
    val base = Tables.documents(spark, dir).select(
      col("lang"), col("n_chars"),
      size(toks).as("n_tok"),
      TF.lexiconCount(toks, stops).as("stop_cnt"),
      greatest(size(toks) - 2, lit(0)).as("n_3grams"),
      size(TF.shingleUdfCol(col("text"), 3)).as("n_distinct"))
    val flags = base.select(
      (col("lang") === "en").as("g1"),
      col("n_chars").between(100, 20000).as("g2"),
      (floor(lit(50.0) * least(col("n_tok"), lit(400)) / 400 +
        lit(50.0) * col("stop_cnt") / col("n_tok") + lit(1e-6)) >= 8).as("g3"),
      (when(col("n_3grams") === 0, lit(0L)).otherwise(
        floor((lit(1.0) - col("n_distinct") / col("n_3grams")) * 100
          + lit(1e-6))) <= 5).as("g4"))
    flags.agg(
      count(lit(1)).as("n0"),
      sum(col("g1").cast("long")).as("s1"),
      sum((col("g1") && col("g2")).cast("long")).as("s2"),
      sum((col("g1") && col("g2") && col("g3")).cast("long")).as("s3"),
      sum((col("g1") && col("g2") && col("g3") && col("g4")).cast("long"))
        .as("s4"))
      .selectExpr(
        """stack(4,
          |  1, 'lang', n0, s1,
          |  2, 'length', s1, s2,
          |  3, 'quality', s2, s3,
          |  4, 'repetition', s3, s4) AS (stage, gate, n_in, n_kept)"""
          .stripMargin)
      .withColumn("n_drop", col("n_in") - col("n_kept"))
      .orderBy("stage")
  }

  private val filterFunnelSql = {
    val stops = TextFunctionsSql.lexicon("en")
    s"""WITH base AS (
       |  SELECT lang, n_chars,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stops, x))) AS INT) AS stop_cnt,
       |    CAST(GREATEST(len(string_split(text, ' ')) - 2, 0) AS INT) AS n_3grams,
       |    CAST(len(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
       |      THEN list_transform(generate_series(1, len(string_split(text, ' '))-2),
       |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
       |          || ' ' || string_split(text, ' ')[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END)) AS INT) AS n_distinct
       |  FROM documents),
       |flags AS (
       |  SELECT (lang = 'en') AS g1,
       |    (n_chars BETWEEN 100 AND 20000) AS g2,
       |    (floor(50.0 * LEAST(n_tok, 400) / 400
       |      + 50.0 * stop_cnt / n_tok + 0.000001) >= 8) AS g3,
       |    (CASE WHEN n_3grams = 0 THEN 0
       |      ELSE CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_3grams) * 100
       |        + 0.000001) AS BIGINT) END <= 5) AS g4
       |  FROM base),
       |agg AS (
       |  SELECT COUNT(*) AS n0,
       |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
       |  FROM flags)
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'lang' AS gate, n0 AS n_in, s1 AS n_kept, n0 - s1 AS n_drop FROM agg
       |  UNION ALL SELECT 2, 'length', s1, s2, s1 - s2 FROM agg
       |  UNION ALL SELECT 3, 'quality', s2, s3, s2 - s3 FROM agg
       |  UNION ALL SELECT 4, 'repetition', s3, s4, s3 - s4 FROM agg)
       |ORDER BY stage""".stripMargin
  }

  /** Fill-in-the-middle (FIM) transformation — the code/infilling
    * training-data reshape (Bavarian et al.: split → re-order as
    * prefix‖suffix‖middle with sentinels, so an autoregressive model
    * learns to infill). Deterministic twin of the random pipeline:
    * the FIM gate (50% rate) and both cut points derive from content
    * hashes (two poly bases), so re-runs, re-partitions and the
    * DuckDB oracle all reproduce the identical transform — `md5` of
    * the transformed text is part of the hashed result, pinning every
    * emitted byte. Short docs (< 8 chars) stay autoregressive. One
    * codegen projection, zero shuffle: scan speed at 100 TB. */
  private def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val l = length(col("text")).cast("long")
    val h1 = F.polyHash(col("text"))
    val h2 = F.polyHash(col("text"), graft.functions.Poly.Base2)
    val fim = h1 % 2 === 0 && l >= 8
    val pa = pmod(h1, l + 1)
    val pb = pmod(h2, l + 1)
    val c1 = least(pa, pb)
    val c2 = greatest(pa, pb)
    val pre = col("text").substr(lit(1), c1.cast("int"))
    val mid = col("text").substr((c1 + 1).cast("int"), (c2 - c1).cast("int"))
    val suf = col("text").substr((c2 + 1).cast("int"), (l - c2).cast("int"))
    val out = when(fim,
      concat(lit("<PRE>"), pre, lit("<SUF>"), suf, lit("<MID>"), mid))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), fim.as("fim_applied"),
        when(fim, c1).otherwise(l).as("n_pre"),
        when(fim, c2 - c1).otherwise(0L).as("n_mid"),
        when(fim, l - c2).otherwise(0L).as("n_suf"),
        length(out).cast("long").as("out_len"),
        md5(out).as("out_md5"))
      .orderBy("doc_id")
  }

  private val fimSplitSql = {
    val p1 = OracleSqlFrag.poly("text")
    val p2 = OracleSqlFrag.poly("text", 137L)
    s"""WITH b AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS l,
       |    ($p1 % 2 = 0 AND length(text) >= 8) AS fim,
       |    $p1 % (length(text) + 1) AS pa,
       |    $p2 % (length(text) + 1) AS pb
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, text, l, fim,
       |    LEAST(pa, pb) AS c1, GREATEST(pa, pb) AS c2
       |  FROM b),
       |o AS (
       |  SELECT doc_id, fim,
       |    CASE WHEN fim THEN c1 ELSE l END AS n_pre,
       |    CASE WHEN fim THEN c2 - c1 ELSE 0 END AS n_mid,
       |    CASE WHEN fim THEN l - c2 ELSE 0 END AS n_suf,
       |    CASE WHEN fim THEN '<PRE>' || substr(text, 1, CAST(c1 AS INT))
       |      || '<SUF>' || substr(text, CAST(c2 + 1 AS INT), CAST(l - c2 AS INT))
       |      || '<MID>' || substr(text, CAST(c1 + 1 AS INT), CAST(c2 - c1 AS INT))
       |    ELSE text END AS ot
       |  FROM c)
       |SELECT doc_id, fim AS fim_applied,
       |  CAST(n_pre AS BIGINT) AS n_pre, CAST(n_mid AS BIGINT) AS n_mid,
       |  CAST(n_suf AS BIGINT) AS n_suf,
       |  CAST(length(ot) AS BIGINT) AS out_len, md5(ot) AS out_md5
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** Per-source EPOCH mixing — the repeat-factor companion to
    * `q_temperature_mix`'s selection rates: given a total token
    * budget (2× the corpus mass here), each source gets a repeat
    * factor (×1000) so its effective share follows sqrt-temperature
    * weights — sources SMALLER than their target share are UPSAMPLED
    * (repeat > 1.0, the multi-epoch trick every pretraining recipe
    * applies to small high-quality sources), capped at 10 epochs.
    *
    * Determinism: sqrt is one correctly-rounded IEEE op on identical
    * inputs (the `q_temperature_mix` convention); everything after is
    * integer — exact integral `div` (never `floor(a/b)`, whose decimal
    * quotient rounds HALF_UP to scale 6 before the floor and can
    * disagree with DuckDB's `//` near-integer boundaries) — in
    * Decimal(38,0) on Spark and HUGEINT in DuckDB,
    * because budget × weight × 1000 overflows BIGINT at corpus scale
    * (the `q_rolling_zscore` widening convention). Scale shape: one
    * map-side agg to |sources| rows; the corpus is scanned once and
    * never shuffled. */
  /** DATASET-CARD DIFF — the release gate between two corpus
    * versions: did last night's ingest change the corpus MIX? The
    * "old" cohort models the pre-ingest corpus and the ingest is
    * deliberately SKEWED (it added only `en` documents — doc_id ≡ 0
    * mod 7 ∧ lang = en; a uniform delta would leave every share flat
    * and the gate vacuous, the fixture-planting convention): per
    * lang, both versions' doc counts and permille shares, the share
    * delta, and the verdict ladder (|Δ| < 25‰ stable, else drifted) —
    * probed: `en` drifts +44‰, every other lang reads stable at
    * −10..−12‰, so BOTH verdicts are inside the hash. This is
    * `q_data_card`'s composition section turned into a longitudinal
    * comparison (what `q_psi` does for numeric distributions, at the
    * categorical release-audit grain).
    *
    * Scale shape: two map-side lang histograms over one scan each
    * (the cohorts differ by a pushed-down predicate), a \|langs\|-row
    * join, the two totals as scalar subqueries. */
  private def dataCardDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val oldC = docs.filter(!(col("doc_id") % 7 === 0 && col("lang") === "en"))
      .groupBy("lang").agg(count(lit(1)).as("old_docs"))
    val newC = docs.groupBy("lang").agg(count(lit(1)).as("new_docs"))
    oldC.join(newC, Seq("lang"), "full")
      .na.fill(0L, Seq("old_docs", "new_docs"))
      .withColumn("ot", oldC.agg(sum("old_docs")).scalar())
      .withColumn("nt", newC.agg(sum("new_docs")).scalar())
      .select(col("lang"), col("old_docs"), col("new_docs"),
        expr("(1000 * old_docs) div ot").as("old_share_pm"),
        expr("(1000 * new_docs) div nt").as("new_share_pm"))
      .withColumn("delta_pm", col("new_share_pm") - col("old_share_pm"))
      .withColumn("verdict",
        when(abs(col("delta_pm")) < 25, "stable").otherwise("drifted"))
      .orderBy("lang")
  }

  private val dataCardDiffSql =
    """WITH old_ AS (
      |  SELECT lang, COUNT(*) AS old_docs FROM documents
      |  WHERE NOT (doc_id % 7 = 0 AND lang = 'en') GROUP BY 1),
      |new_ AS (SELECT lang, COUNT(*) AS new_docs FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT CAST(SUM(old_docs) AS BIGINT) FROM old_) AS ot,
      |         (SELECT CAST(SUM(new_docs) AS BIGINT) FROM new_) AS nt),
      |j AS (
      |  SELECT COALESCE(o.lang, n.lang) AS lang,
      |    COALESCE(o.old_docs, 0) AS old_docs,
      |    COALESCE(n.new_docs, 0) AS new_docs
      |  FROM old_ o FULL OUTER JOIN new_ n ON o.lang = n.lang),
      |sh AS (
      |  SELECT lang, old_docs, new_docs,
      |    CAST((1000 * old_docs) // ot AS BIGINT) AS old_share_pm,
      |    CAST((1000 * new_docs) // nt AS BIGINT) AS new_share_pm
      |  FROM j CROSS JOIN tot)
      |SELECT lang, old_docs, new_docs, old_share_pm, new_share_pm,
      |  new_share_pm - old_share_pm AS delta_pm,
      |  CASE WHEN abs(new_share_pm - old_share_pm) < 25 THEN 'stable'
      |       ELSE 'drifted' END AS verdict
      |FROM sh ORDER BY lang""".stripMargin

  /** CURRICULUM schedule — quality-annealed sampling over epochs
    * (Bengio et al. 2009, the data-side reading): early epochs
    * oversample high-quality bands, the last epoch samples the corpus
    * as-is. Per (epoch e ∈ {1,2,3}, quality band b ∈ 0..3 — the
    * `q_quality_score` value div 5, capped): integer weight
    * w = (b+1)^(3−e) (e = 3 ⇒ uniform BY CONSTRUCTION — the anneal
    * endpoint is inside the hash, not a tuning accident), and the
    * band's sampling share ∝ n_docs·w as exact permille. The spec
    * pins the two curriculum invariants: the top band's share is
    * non-increasing in e, and epoch 3's shares equal the plain
    * document shares.
    *
    * Scale shape: one quality scan, a map-side histogram to ≤4 rows,
    * a 12-row epoch×band grid with a per-epoch partitioned window —
    * nothing corpus-proportional past the first aggregate. */
  private def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val t = TF.tokens(col("text"))
    val stops = TF.Lexicons.toMap.apply("en")
    val hist = Tables.documents(spark, dir)
      .select(size(t).as("n_tok"), TF.lexiconCount(t, stops).as("stop_cnt"))
      .select(floor(lit(50.0) * least(col("n_tok"), lit(400)) / 400 +
          lit(50.0) * col("stop_cnt") / col("n_tok") + lit(1e-6))
          .cast("long").as("q"))
      .select(expr("least(q div 5, 3)").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_docs"))
    val epochs = spark.range(1, 4).select(col("id").as("epoch"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("epoch")
    hist.crossJoin(broadcast(epochs))
      .withColumn("wgt", pow(col("band") + 1, lit(3L) - col("epoch"))
        .cast("long"))
      .withColumn("mass", col("n_docs") * col("wgt"))
      .withColumn("tot", sum("mass").over(w))
      .select(col("epoch"), col("band"), col("n_docs"), col("wgt"),
        expr("(1000 * mass) div tot").as("share_pm"))
      .orderBy("epoch", "band")
  }

  private val curriculumSql = {
    val stops = TextFunctionsSql.lexicon("en")
    s"""WITH hist AS (
       |  SELECT LEAST(CAST(floor(50.0 * LEAST(n_tok, 400) / 400 +
       |      50.0 * stop_cnt / n_tok + 0.000001) AS BIGINT) // 5, 3) AS band,
       |    COUNT(*) AS n_docs
       |  FROM (
       |    SELECT CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       |      CAST(len(list_filter(string_split(text, ' '),
       |        x -> list_contains($stops, x))) AS INT) AS stop_cnt
       |    FROM documents)
       |  GROUP BY 1),
       |grid AS (
       |  SELECT e.epoch, h.band, h.n_docs,
       |    CAST(power(h.band + 1, 3 - e.epoch) AS BIGINT) AS wgt
       |  FROM hist h
       |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS epoch) e)
       |SELECT CAST(epoch AS BIGINT) AS epoch, band, n_docs, wgt,
       |  CAST((1000 * (n_docs * wgt)) //
       |    SUM(n_docs * wgt) OVER (PARTITION BY epoch) AS BIGINT)
       |    AS share_pm
       |FROM grid ORDER BY epoch, band""".stripMargin
  }

  private val MaxRepeatMilli = 10000L // 10-epoch upsampling cap

  private def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .withColumn("w_q",
        floor(sqrt(col("sum_chars").cast("double")) * 1e6).cast("long"))
    val tot = per.agg(sum("w_q").as("sum_w"),
      sum("sum_chars").as("tot_chars"))
    per.withColumn("sum_w", tot.select("sum_w").scalar())
      .withColumn("tot_chars", tot.select("tot_chars").scalar())
      .select(col("source"), col("n_docs"), col("sum_chars"),
        least(lit(MaxRepeatMilli), expr(
          """CAST((CAST(2 AS DECIMAL(38,0)) * tot_chars * w_q * 1000)
            |div (CAST(sum_w AS DECIMAL(38,0)) * sum_chars) AS BIGINT)"""
            .stripMargin.replace("\n", " "))).as("repeat_milli"))
      .withColumn("eff_chars", expr("(sum_chars * repeat_milli) div 1000"))
      .orderBy("source")
  }

  private val epochMixSql =
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |    CAST(floor(sqrt(CAST(SUM(n_chars) AS DOUBLE)) * 1000000) AS BIGINT) AS w_q
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(w_q) AS BIGINT) AS sum_w,
       |    CAST(SUM(sum_chars) AS BIGINT) AS tot_chars FROM per)
       |SELECT source, n_docs, sum_chars,
       |  CAST(LEAST($MaxRepeatMilli,
       |    (2::HUGEINT * tot_chars * w_q * 1000) // (sum_w::HUGEINT * sum_chars))
       |    AS BIGINT) AS repeat_milli,
       |  CAST((sum_chars * LEAST($MaxRepeatMilli,
       |    (2::HUGEINT * tot_chars * w_q * 1000) // (sum_w::HUGEINT * sum_chars)))
       |    // 1000 AS BIGINT) AS eff_chars
       |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  // -------------------------------------------------------------- novelty

  /** Per-document NOVELTY — the share of a doc's distinct 6-gram
    * shingles that occur in NO other document (`q_repeated_passages`
    * inverted to a per-doc rate): the uniqueness/memorization-risk
    * signal curation uses to up-weight genuinely novel text and to
    * spot near-boilerplate that slipped every dedup bar (novelty ≈ 0
    * without being a dup). Permille is exact integer division
    * (counts are positive, so Spark `div` and DuckDB `//` agree).
    *
    * Scale shape: the codegen'd distinct-shingle projection feeds ONE
    * integer-keyed partial+final count (df), which joins back to the
    * per-doc shingle table on the 8-byte hash; both aggregates
    * map-side combine. Docs too short for one shingle report 0/0/0
    * via the left join. */
  private def novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = graft.ops.SideCache.persist(
      docs.select(col("doc_id"), explode(F.shingleHashes(col("text"), 6)).as("h")))
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val per = sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(expr("(n_unique * 1000) div n_sh"), lit(0L)).as("novelty_milli"))
      .orderBy("doc_id")
  }

  private val noveltySql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(t) >= 6
       |      THEN list_transform(generate_series(1, len(t)-5),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
       |      ELSE CAST([] AS VARCHAR[]) END,
       |    shs -> ${OracleSqlFrag.poly("shs")}))) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |df AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_sh,
       |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |  FROM sh JOIN df USING (h) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(n_sh, 0) AS n_sh,
       |  COALESCE(n_unique, 0) AS n_unique,
       |  COALESCE((n_unique * 1000) // n_sh, 0) AS novelty_milli
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- PII Luhn

  /** Luhn mod-10 total of a 16-digit number held as BIGINT, as a SQL
    * expression string over variable `n` — a FIXED 16-term integer
    * sum (digit k = (n div 10^k) % 10, doubled-and-folded on odd k
    * from the right), so it stays whole-stage-codegen on Spark and
    * is byte-identical logic in DuckDB (`div` vs `//` is the only
    * dialect difference, parameterized). */
  private def luhnTotalSql(nVar: String, divOp: String): String =
    (0 until 16).map { k =>
      val p = BigInt(10).pow(k)
      val d = s"(($nVar $divOp $p) % 10)"
      if (k % 2 == 1) s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }.mkString("(", " + ", ")")

  /** Checksum-VALIDATED credit-card detection (the PII tier
    * `q_pii_scrub`'s regexes cannot reach): a 16-digit run is only
    * PII if its Luhn mod-10 checksum holds — the gate that stops a
    * scrubber mangling order ids, timestamps, and hashes that merely
    * look like PANs (regex-only scrubbers over-redact exactly those).
    * Planted per doc: a VALID card (check digit computed in-engine
    * by the same Luhn machinery) on doc_id ≡ 0 (mod 10), and a
    * near-miss with a wrong check digit on doc_id ≡ 0 (mod 15) —
    * so the query proves both detection AND rejection, hash-exactly.
    *
    * Scale shape: one codegen projection — candidates from one
    * regexp pass, each validated by a fixed 16-term integer sum
    * inside a bounded array fold (≤ a few candidates per doc). */
  private def piiLuhn(spark: SparkSession, dir: String): DataFrame = {
    val lt = (v: String) => luhnTotalSql(v, "div")
    val planted =
      s"""concat(text,
         |  CASE WHEN doc_id % 10 = 0 THEN concat(' card ', CAST(vcard AS STRING), ' ok') ELSE '' END,
         |  CASE WHEN doc_id % 15 = 0 THEN concat(' ref ', CAST(icard AS STRING), ' end') ELSE '' END)""".stripMargin
    Tables.documents(spark, dir)
      .withColumn("n0", expr(
        "(400000000000000 + (doc_id * 987654321) % 100000000000000) * 10"))
      .withColumn("chk", expr(s"(10 - ${lt("n0")} % 10) % 10"))
      .withColumn("vcard", expr("n0 + chk"))
      .withColumn("icard", expr("n0 + (chk + 5) % 10"))
      .withColumn("t", expr(planted))
      .withColumn("cands", expr(
        "transform(regexp_extract_all(t, '[0-9]{16}', 0), c -> CAST(c AS BIGINT))"))
      .withColumn("valids", expr(
        s"filter(cands, n -> ${lt("n")} % 10 = 0)"))
      .select(col("doc_id"),
        expr("CAST(size(cands) AS BIGINT)").as("n_cand"),
        expr("CAST(size(valids) AS BIGINT)").as("n_valid"),
        expr("CAST(size(cands) - size(valids) AS BIGINT)").as("n_invalid"),
        expr("aggregate(valids, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("sum_valid_cards"))
      .orderBy("doc_id")
  }

  private val piiLuhnSql = {
    val lt = (v: String) => luhnTotalSql(v, "//")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    (400000000000000 + (doc_id * 987654321) % 100000000000000) * 10 AS n0
       |  FROM documents),
       |cards AS (
       |  SELECT doc_id, text, n0,
       |    (10 - ${lt("n0")} % 10) % 10 AS chk
       |  FROM base),
       |pl AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 10 = 0
       |         THEN ' card ' || CAST(n0 + chk AS VARCHAR) || ' ok' ELSE '' END
       |    || CASE WHEN doc_id % 15 = 0
       |         THEN ' ref ' || CAST(n0 + (chk + 5) % 10 AS VARCHAR) || ' end' ELSE '' END
       |    AS t
       |  FROM cards),
       |cc AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(t, '[0-9]{16}'),
       |      c -> CAST(c AS BIGINT)) AS cands
       |  FROM pl),
       |vv AS (
       |  SELECT doc_id, cands,
       |    list_filter(cands, n -> ${lt("n")} % 10 = 0) AS valids
       |  FROM cc)
       |SELECT doc_id,
       |  CAST(len(cands) AS BIGINT) AS n_cand,
       |  CAST(len(valids) AS BIGINT) AS n_valid,
       |  CAST(len(cands) - len(valids) AS BIGINT) AS n_invalid,
       |  CAST(COALESCE(list_sum(valids), 0) AS BIGINT) AS sum_valid_cards
       |FROM vv ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- Neyman allocation

  /** NEYMAN ALLOCATION — the sampling-design step `q_stratified_sample`
    * executes with FIXED quotas: given a total budget, how many samples
    * should each stratum (lang) get? Optimal allocation is
    * n_h ∝ N_h·S_h (Neyman 1934): strata that are larger OR more
    * internally varied earn more of the budget. Emits per stratum
    * N_h, the n_chars standard deviation (population, in milli), the
    * weight, and the per-mille allocation alloc_pm =
    * floor(1000·N_h·S_h / Σ N_g·S_g) — the table a sampler consumes.
    * Variance comes from the one-pass (n, Σx, Σx²) triple — exact
    * BIGINT moments, one map-side aggregate to \|strata\| rows;
    * sqrt is the floorEps'd double chain; the Σ weight re-enters as a
    * scalar subquery.
    *
    * Fixture check (probed): allocations span ~140-440‰ across langs
    * at both gate SFs — the en stratum genuinely earns more (bigger
    * N_h), so the design signal is non-degenerate. */
  private def neymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("s"),
        sum(col("n_chars") * col("n_chars")).as("ss"))
      // variance numerator n·Σx² − (Σx)²: s is a per-stratum char SUM,
      // so s·s wraps BIGINT once a stratum holds ~3e9 chars (a few
      // thousand docs) — widened to DECIMAL(38,0) (HUGEINT in the
      // oracle), the q_embedding_drift convention.
      .withColumn("sd_milli", graft.ops.Num.floorEps(
        sqrt((col("n_docs").cast("decimal(38,0)") * col("ss") -
            col("s").cast("decimal(38,0)") * col("s"))
          .cast("double") / (col("n_docs") * col("n_docs")).cast("double"))
          * 1000))
      .withColumn("w_milli", col("n_docs") * col("sd_milli"))
    val tw = strata.agg(sum("w_milli")).scalar()
    strata
      .select(col("lang"), col("n_docs"), col("sd_milli"), col("w_milli"),
        graft.ops.Num.floorEps(
          col("w_milli").cast("double") * 1000 / tw).as("alloc_pm"))
      .orderBy("lang")
  }

  private val neymanAllocSql =
    s"""WITH strata AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS s,
       |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
       |  FROM documents GROUP BY lang),
       |sd AS (
       |  SELECT lang, n_docs,
       |    ${graft.ops.NumSql.floorEps(
      "sqrt(CAST(CAST(n_docs AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)) * 1000")} AS sd_milli
       |  FROM strata),
       |w AS (
       |  SELECT lang, n_docs, sd_milli,
       |    CAST(n_docs * sd_milli AS BIGINT) AS w_milli
       |  FROM sd),
       |tw AS (SELECT CAST(SUM(w_milli) AS BIGINT) AS tw FROM w)
       |SELECT lang, n_docs, sd_milli, w_milli,
       |  ${graft.ops.NumSql.floorEps("CAST(w_milli AS DOUBLE) * 1000 / tw")} AS alloc_pm
       |FROM w CROSS JOIN tw ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- data card

  /** CORPUS DATA CARD — the datasheet (Gebru et al.) a training corpus
    * ships with, emitted as ONE hash-verified long-format table
    * (section, key, metric, value): corpus totals (docs, tokens,
    * chars), the language composition with per-mille shares and a
    * quantized-integer entropy (per-lang −p·ln p terms are floorEps'd
    * to micro-nats BEFORE the sum, so the fold is BIGINT — a raw
    * double Σ would be partition-order-dependent), per-lang median
    * lengths, the global length decile ladder, and the PII and
    * exact-dup incidence rates (the fixture's planted emails read
    * 100‰; the dup rate is an HONEST zero — this corpus has no exact
    * dups, and a datasheet that says so is correct, the non-vacuity
    * burden lies on the metrics that vary).
    *
    * Scale shape: ONE slim per-doc projection (lang, chars, tokens,
    * has_email) is persisted and feeds every section — the
    * `q_corpus_pipeline` convention: adding a metric adds a column or
    * a bounded aggregate, never a second corpus scan. All sections
    * reduce map-side to ≤ \|langs\|+10 rows before the union. */
  private def dataCard(spark: SparkSession, dir: String): DataFrame = {
    // the raw fixture has no PII; the card measures the corpus AS THE
    // SCRUB PATH SEES IT — the q_pii_scrub planted-email expression,
    // so the incidence metric is non-vacuous (100 per mille)
    val planted = concat(col("text"),
      when(col("doc_id") % 10 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
        .otherwise(lit("")))
    val slim = graft.ops.SideCache.persist(
      Tables.documents(spark, dir).select(
        col("lang"), col("n_chars"),
        size(TF.tokens(col("text"))).cast("long").as("n_tok"),
        when(regexp_extract(planted, EmailRe, 0) =!= "", 1L)
          .otherwise(0L).as("has_email"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("h")))
    slim.count()
    def row(section: String, key: Column, metric: String, v: Column) =
      struct(lit(section).as("section"), key.as("key"),
        lit(metric).as("metric"), v.cast("long").as("value"))
    val totals = slim.agg(count(lit(1)).as("n"), sum("n_tok").as("tok"),
        sum("n_chars").as("ch"), sum("has_email").as("em"))
    val corpus = totals.select(explode(array(
      row("corpus", lit("all"), "n_docs", col("n")),
      row("corpus", lit("all"), "n_tokens", col("tok")),
      row("corpus", lit("all"), "n_chars", col("ch")),
      row("quality", lit("pii"), "email_docs_pm",
        col("em") * 1000 / col("n")))).as("r"))
    val dups = slim.groupBy("h").agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("d"),
        sum("c").as("n"))
      .select(explode(array(row("quality", lit("dup"), "exact_dup_pm",
        col("d") * 1000 / col("n")))).as("r"))
    val langs = slim.groupBy("lang")
      .agg(count(lit(1)).as("nh"),
        graft.ops.Num.floorEps(percentile(col("n_chars"), lit(0.5))).as("p50"))
      .withColumn("n", totals.select(col("n")).scalar())
      .select(explode(array(
        row("lang", col("lang"), "n_docs", col("nh")),
        row("lang", col("lang"), "share_pm", col("nh") * 1000 / col("n")),
        row("lang", col("lang"), "p50_chars", col("p50")),
        row("lang", col("lang"), "entropy_term_micro",
          graft.ops.Num.floorEps(expr(
            "-(CAST(nh AS DOUBLE) / n) * ln(CAST(nh AS DOUBLE) / n) * 1000000"
          ))))).as("r"))
    val deciles = slim.agg(
      percentile_approx(col("n_chars"),
        typedlit((1 to 9).map(_ / 10.0)), lit(1000000)).as("qs"))
      .select(posexplode(col("qs")))
      .select(explode(array(row("length",
        concat(lit("d"), (col("pos") + 1).cast("string")), "chars",
        col("col")))).as("r"))
    corpus.unionAll(dups).unionAll(langs).unionAll(deciles)
      .select(col("r.section"), col("r.key"), col("r.metric"),
        col("r.value"))
      .orderBy("section", "key", "metric")
  }

  private val dataCardSql =
    s"""WITH slim AS (
       |  SELECT lang, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CASE WHEN regexp_extract(text ||
       |      CASE WHEN doc_id % 10 = 0
       |        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |        ELSE '' END, '$EmailRe', 0) <> '' THEN 1 ELSE 0 END AS has_email,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
       |  FROM documents),
       |totals AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(n_tok) AS BIGINT) AS tok,
       |    CAST(SUM(n_chars) AS BIGINT) AS ch,
       |    CAST(SUM(has_email) AS BIGINT) AS em
       |  FROM slim),
       |dupagg AS (
       |  SELECT CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(c) AS BIGINT) AS n
       |  FROM (SELECT COUNT(*) AS c FROM slim GROUP BY h)),
       |langs AS (
       |  SELECT lang, COUNT(*) AS nh,
       |    ${graft.ops.NumSql.floorEps("quantile_cont(n_chars, 0.5)")} AS p50
       |  FROM slim GROUP BY lang),
       |rows_ AS (
       |  SELECT 'corpus' AS section, 'all' AS key, 'n_docs' AS metric,
       |    CAST(n AS BIGINT) AS value FROM totals
       |  UNION ALL SELECT 'corpus', 'all', 'n_tokens', tok FROM totals
       |  UNION ALL SELECT 'corpus', 'all', 'n_chars', ch FROM totals
       |  UNION ALL SELECT 'quality', 'pii', 'email_docs_pm',
       |    CAST(em * 1000 // n AS BIGINT) FROM totals
       |  UNION ALL SELECT 'quality', 'dup', 'exact_dup_pm',
       |    CAST(d * 1000 // n AS BIGINT) FROM dupagg
       |  UNION ALL SELECT 'lang', lang, 'n_docs', CAST(nh AS BIGINT) FROM langs
       |  UNION ALL SELECT 'lang', lang, 'share_pm',
       |    CAST(nh * 1000 // (SELECT n FROM totals) AS BIGINT) FROM langs
       |  UNION ALL SELECT 'lang', lang, 'p50_chars', p50 FROM langs
       |  UNION ALL SELECT 'lang', lang, 'entropy_term_micro',
       |    ${graft.ops.NumSql.floorEps(
      "-(CAST(nh AS DOUBLE) / (SELECT n FROM totals)) * " +
        "ln(CAST(nh AS DOUBLE) / (SELECT n FROM totals)) * 1000000")}
       |  FROM langs
       |  UNION ALL SELECT 'length', 'd1', 'chars', CAST(quantile_disc(n_chars, 0.1) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd2', 'chars', CAST(quantile_disc(n_chars, 0.2) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd3', 'chars', CAST(quantile_disc(n_chars, 0.3) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd4', 'chars', CAST(quantile_disc(n_chars, 0.4) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd5', 'chars', CAST(quantile_disc(n_chars, 0.5) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd6', 'chars', CAST(quantile_disc(n_chars, 0.6) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd7', 'chars', CAST(quantile_disc(n_chars, 0.7) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd8', 'chars', CAST(quantile_disc(n_chars, 0.8) AS BIGINT) FROM slim
       |  UNION ALL SELECT 'length', 'd9', 'chars', CAST(quantile_disc(n_chars, 0.9) AS BIGINT) FROM slim)
       |SELECT section, key, metric, value
       |FROM rows_ ORDER BY section, key, metric""".stripMargin

  // --------------------------------------------------- quantile normalization

  /** QUANTILE NORMALIZATION onto a reference stratum — the
    * distribution-matching rebalance (Bolstad et al., the microarray/
    * corpus-balancing standard): every non-`en` doc's n_chars is
    * replaced by the `en` value at the SAME quantile, so all strata
    * share the reference length distribution while each doc keeps its
    * rank within its stratum. Deterministic: ranks break ties on
    * (n_chars, doc_id); the reference index is
    * ridx = floor(rk·(n_ref−1)/(n_h−1) + ε) (singleton strata pin to
    * 0); the probed fixture remaps ~97% of non-en values, so the
    * operator measurably changes the data.
    *
    * Scale shape: BOTH rank sides use the distributed
    * range-partition + per-partition-row_number + broadcast-offset
    * pattern (`graft.ops.Ranks` — no stratum ever funnels through a
    * single-partition window; strata are corpus-proportional, so a
    * per-lang window would be one task's sort at 100×). Source ranks
    * come from ONE global rank on (lang, n_chars, doc_id) minus the
    * per-lang min rank — the per-lang offset table is \|langs\| rows,
    * broadcast, and doubles as the stratum-size (n_h) source. The
    * mapping is one shuffle join on ridx against the \|ref\|-row
    * table (broadcastable when the reference stratum fits). */
  private def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val ref = graft.ops.Ranks.globalRowNumber(
        d.filter(col("lang") === "en"), "ridx1",
        Seq(col("n_chars"), col("doc_id")))
      .select(col("n_chars").as("norm_chars"),
        (col("ridx1") - 1).as("ridx"))
    val nRef = d.filter(col("lang") === "en").agg(count(lit(1))).scalar()
    val srcRanked = graft.ops.Ranks.globalRowNumber(
      d.filter(col("lang") =!= "en"), "grk",
      Seq(col("lang"), col("n_chars"), col("doc_id")))
    val langOff = srcRanked.groupBy("lang")
      .agg(min("grk").as("lang_min"), count(lit(1)).as("n_h"))
    val src = srcRanked.join(broadcast(langOff), Seq("lang"))
      .withColumn("rk", col("grk") - col("lang_min"))
    src
      .withColumn("ridx", when(col("n_h") === 1, 0L)
        .otherwise(graft.ops.Num.floorEps(
          col("rk").cast("double") * (nRef - 1) / (col("n_h") - 1))))
      .join(ref, Seq("ridx"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("norm_chars"))
      .orderBy("doc_id")
  }

  private val quantileNormSql =
    s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       |ref AS (
       |  SELECT n_chars AS norm_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS ridx
       |  FROM d WHERE lang = 'en'),
       |refn AS (SELECT COUNT(*) AS n_ref FROM d WHERE lang = 'en'),
       |src AS (
       |  SELECT doc_id, lang, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS rk,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_h
       |  FROM d WHERE lang <> 'en'),
       |m AS (
       |  SELECT s.doc_id, s.lang, s.n_chars,
       |    CASE WHEN s.n_h = 1 THEN 0
       |      ELSE ${graft.ops.NumSql.floorEps(
      "CAST(s.rk AS DOUBLE) * (r.n_ref - 1) / (s.n_h - 1)")} END AS ridx
       |  FROM src s CROSS JOIN refn r)
       |SELECT m.doc_id, m.lang, m.n_chars, ref.norm_chars
       |FROM m JOIN ref ON m.ridx = ref.ridx
       |ORDER BY m.doc_id""".stripMargin

  // ------------------------------------------------------ delete propagate

  /** Right-to-be-forgotten CASCADE (the GDPR/CCPA deletion operator a
    * lakehouse pipeline must run on schedule): a deletion list of
    * customers (c_custkey ≡ 0 mod 13 — ~8% of the table at every SF)
    * propagates through the foreign-key chain customer → orders →
    * lineitem, and the query emits the compliance accounting: per
    * table (n_total, n_deleted, n_remaining) plus the bit_xor
    * checksum of the deleted keys — the tombstone-manifest integrity
    * a deletion audit replays (xor is order- and partition-
    * independent, so the checksum is hash-verifiable cross-engine).
    *
    * Scale shape: the deletion list broadcasts to orders (\|list\| ∝
    * deletion requests, small by law); the deleted-order key set is
    * delta-proportional and reaches lineitem as one left-semi shuffle
    * join — at 100 TB the probe side would be Bloom-pruned first
    * (`q_bloom_prune`'s build side IS this key set). Each table is
    * scanned once; totals and deleted counts share the scan. */
  private[queries] def deletePropagate(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"))
    val delC = graft.ops.SideCache.persist(
      cust.filter(pmod(col("c_custkey"), lit(13L)) === 0))
    delC.count() // materialize before the multi-consumer scans race
    val delO = graft.ops.SideCache.persist(
      orders.join(broadcast(delC), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey")))
    delO.count()
    val delL = li.join(delO, col("l_orderkey") === col("o_orderkey"),
        "left_semi")
      .select((col("l_orderkey") * 31 + col("l_linenumber")).as("k"))
    def row(tbl: String, total: DataFrame, totalKey: Column,
            del: DataFrame, delKey: Column): DataFrame = {
      val nTotal = total.agg(count(lit(1))).scalar()
      del.agg(count(lit(1)).as("n_deleted"),
          coalesce(expr(s"bit_xor(${delKey.toString})"), lit(0L))
            .as("del_key_xor"))
        .select(lit(tbl).as("tbl"), nTotal.as("n_total"), col("n_deleted"),
          (nTotal - col("n_deleted")).as("n_remaining"), col("del_key_xor"))
    }
    row("customer", cust, col("c_custkey"), delC, col("c_custkey"))
      .unionAll(row("orders", orders, col("o_orderkey"),
        delO, col("o_orderkey")))
      .unionAll(row("lineitem", li, col("k"), delL, col("k")))
      .orderBy("tbl")
  }

  private[queries] val deletePropagateSql =
    """WITH delc AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
      |delo AS (
      |  SELECT o_orderkey FROM orders o
      |  JOIN delc c ON o.o_custkey = c.c_custkey),
      |dell AS (
      |  SELECT l_orderkey * 31 + l_linenumber AS k FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |rows_ AS (
      |  SELECT 'customer' AS tbl,
      |    (SELECT COUNT(*) FROM customer) AS n_total,
      |    (SELECT COUNT(*) FROM delc) AS n_deleted,
      |    (SELECT COALESCE(bit_xor(c_custkey), 0) FROM delc) AS del_key_xor
      |  UNION ALL
      |  SELECT 'orders',
      |    (SELECT COUNT(*) FROM orders),
      |    (SELECT COUNT(*) FROM delo),
      |    (SELECT COALESCE(bit_xor(o_orderkey), 0) FROM delo)
      |  UNION ALL
      |  SELECT 'lineitem',
      |    (SELECT COUNT(*) FROM lineitem),
      |    (SELECT COUNT(*) FROM dell),
      |    (SELECT COALESCE(bit_xor(k), 0) FROM dell))
      |SELECT tbl, CAST(n_total AS BIGINT) AS n_total,
      |  CAST(n_deleted AS BIGINT) AS n_deleted,
      |  CAST(n_total - n_deleted AS BIGINT) AS n_remaining,
      |  CAST(del_key_xor AS BIGINT) AS del_key_xor
      |FROM rows_ ORDER BY tbl""".stripMargin

  // --------------------------------------------------------- shuffle shard

  private val ShufShardSize = 64L // docs per training shard

  /** Deterministic global training shuffle + sequential sharding —
    * the "shuffle once, then read shards in order" layout every
    * pretraining run wants: each document gets a pseudo-random but
    * REPRODUCIBLE position (scrambled hash of its id; ties broken by
    * id), and shards are cut sequentially from that order, so shard
    * s is exactly rows [s·S, (s+1)·S) of the shuffled corpus — the
    * property that makes mid-epoch resume and per-shard manifests
    * trivial (`q_shard_assign`'s mod-hash gives balanced shards but
    * no defined read order; this gives both).
    *
    * The global position is computed the scale-correct way (the
    * `q_pack_sequences` pattern): range-partition on the shuffle
    * key, per-partition row counts collected (ONE row per
    * partition), prefix offsets broadcast back, local `row_number`
    * per partition — no single-partition global window. Cost: one
    * range exchange of (id, key) pairs; the text never moves. */
  private def shuffleShard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = F.polyHash(concat(col("doc_id").cast("string"), lit(":shuf")))
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(h * h + lit(7919L) * h, lit(2147483647L)).as("sk"))
    val parts = graft.ops.SideCache.persist(
      keyed.repartitionByRange(col("sk"), col("doc_id"))
        .sortWithinPartitions("sk", "doc_id")
        .withColumn("pid", spark_partition_id()))
    val totals = parts.groupBy("pid").agg(count(lit(1)).as("tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val prefix = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid, acc + tot)
    }.init.map { case (_, off) => off }
    val prefixDf = totals.map(_._1).zip(prefix).toSeq.toDF("pid", "part_off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("sk", "doc_id")
    parts.join(broadcast(prefixDf), Seq("pid"))
      .withColumn("pos",
        row_number().over(w).cast("long") + col("part_off") - 1)
      .select(col("doc_id"), col("sk"), col("pos"),
        expr(s"pos div $ShufShardSize").as("shard"),
        pmod(col("pos"), lit(ShufShardSize)).as("pos_in_shard"))
      .orderBy("doc_id")
  }

  private val shuffleShardSql = {
    val h = OracleSqlFrag.poly("CAST(doc_id AS VARCHAR) || ':shuf'")
    s"""WITH k AS (
       |  SELECT doc_id, ($h * $h + 7919 * $h) % 2147483647 AS sk
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, sk,
       |    row_number() OVER (ORDER BY sk, doc_id) - 1 AS pos
       |  FROM k)
       |SELECT doc_id, sk, CAST(pos AS BIGINT) AS pos,
       |  CAST(pos // $ShufShardSize AS BIGINT) AS shard,
       |  CAST(pos % $ShufShardSize AS BIGINT) AS pos_in_shard
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- class weights

  /** EFFECTIVE-NUMBER CLASS WEIGHTS (Cui et al. 2019, "Class-Balanced
    * Loss") — the re-weighting table an imbalanced-training loss is
    * built from: naive 1/n over-corrects because marginal samples
    * overlap; the effective number Eₙ = (1 − βⁿ)/(1 − β) (β = 0.999)
    * saturates, and weights ∝ 1/Eₙ. Per stratum (lang): n_docs,
    * Eₙ (milli), the raw 1/Eₙ weight (micro), and the weight
    * normalized so Σ over classes = \|classes\| (per-mille).
    *
    * Determinism: βⁿ is computed as exp(n·ln 0.999) — the SAME
    * two-transcendental chain on both engines (pow() would be a
    * different libm entry point); each row's double chain quantizes
    * to integers BEFORE the cross-row total (the repo-wide rule that
    * keeps double summation order out of the hash), so normalization
    * is exact integer arithmetic.
    *
    * Scale shape: one map-side count to \|langs\| rows and the totals
    * as scalar subqueries. */
  private def classWeights(spark: SparkSession, dir: String): DataFrame = {
    val effn = expr("(1.0 - exp(cast(n_docs as double) * ln(0.999))) / 0.001")
    val strata = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("eff_n_milli", graft.ops.Num.floorEps(effn * 1000))
      .withColumn("w_micro", graft.ops.Num.floorEps(lit(1000000.0) / effn))
    val tot = strata.agg(sum("w_micro").as("tot_w"),
      count(lit(1)).as("n_classes"))
    strata.withColumn("tot_w", tot.select("tot_w").scalar())
      .withColumn("n_classes", tot.select("n_classes").scalar())
      .select(col("lang"), col("n_docs"), col("eff_n_milli"), col("w_micro"),
        expr("1000 * w_micro * n_classes div tot_w").as("w_norm_pm"))
      .orderBy("lang")
  }

  private val classWeightsSql =
    s"""WITH strata AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    ${graft.ops.NumSql.floorEps(
      "(1.0 - exp(CAST(COUNT(*) AS DOUBLE) * ln(0.999))) / 0.001 * 1000")} AS eff_n_milli,
       |    ${graft.ops.NumSql.floorEps(
      "1000000.0 / ((1.0 - exp(CAST(COUNT(*) AS DOUBLE) * ln(0.999))) / 0.001)")} AS w_micro
       |  FROM documents GROUP BY lang),
       |tot AS (
       |  SELECT CAST(SUM(w_micro) AS BIGINT) AS tot_w,
       |    COUNT(*) AS n_classes FROM strata)
       |SELECT lang, n_docs, eff_n_milli, w_micro,
       |  CAST(1000 * w_micro * n_classes // tot_w AS BIGINT) AS w_norm_pm
       |FROM strata CROSS JOIN tot ORDER BY lang""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_class_weights", classWeights, Some(classWeightsSql)),
    Q("q_epoch_mix", epochMix, Some(epochMixSql)),
    Q("q_curriculum", curriculum, Some(curriculumSql)),
    Q("q_fim_split", fimSplit, Some(fimSplitSql)),
    Q("q_filter_funnel", filterFunnel, Some(filterFunnelSql)),
    Q("q_pii_scrub", piiScrub, Some(piiScrubSql)),
    Q("q_contamination", contamination, Some(contaminationSql)),
    Q("q_repeated_passages", repeatedPassages, Some(repeatedPassagesSql)),
    Q("q_shuffle_shard", shuffleShard, Some(shuffleShardSql)),
    Q("q_delete_propagate", deletePropagate, Some(deletePropagateSql)),
    Q("q_neyman_alloc", neymanAlloc, Some(neymanAllocSql)),
    Q("q_quantile_norm", quantileNorm, Some(quantileNormSql)),
    Q("q_data_card", dataCard, Some(dataCardSql)),
    Q("q_data_card_diff", dataCardDiff, Some(dataCardDiffSql)),
    Q("q_pii_luhn", piiLuhn, Some(piiLuhnSql)),
    Q("q_novelty", novelty, Some(noveltySql)),
    Q("q_repetition", repetition, Some(repetitionSql)),
    Q("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    Q("q_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    Q("q_shard_assign", shardAssign, Some(shardAssignSql)),
    Q("q_shard_rendezvous", shardRendezvous, Some(shardRendezvousSql)),
    Q("q_source_cap", sourceCap, Some(sourceCapSql)),
    Q("q_weighted_sample", weightedSample, Some(weightedSampleSql)),
    Q("q_record_linkage", recordLinkage, Some(recordLinkageSql)),
    Q("q_group_weighted_sample", groupWeightedSample, Some(groupWeightedSampleSql)),
    Q("q_dq_checks", dqChecks, Some(dqChecksSql)),
  )
}
