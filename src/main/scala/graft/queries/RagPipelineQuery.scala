package graft.queries

import graft.functions.F
import graft.ops.SideCache
import graft.tables.Tables
import graft.text.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `q_rag_pipeline` — the retrieval-INDEXING flagship: the flow that
  * turns a raw corpus into a servable vector index, composed as ONE
  * query from already-oracled components (the `q_corpus_pipeline`
  * pattern applied to the serving side instead of the training side):
  *
  *  1. `passage_dedup` — `q_passage_dedup`'s global first-occurrence
  *     rewrite (disjoint 8-word passages): boilerplate never reaches
  *     the index, so no query can retrieve the same passage twice
  *     from different documents;
  *  2. `chunk`         — the surviving text re-cut into disjoint
  *     32-token retrieval chunks (the same passage kernel at w=32 —
  *     `q_chunking`'s within-doc layout over the REWRITTEN stream);
  *  3. `vectorize`     — `q_hash_vectorize`'s feature-hashing trick
  *     per CHUNK (bucket = hash mod 16, ±1 sign bit): every chunk
  *     becomes a sparse integer vector with its squared norm, no
  *     vocabulary pass, no driver state;
  *  4. `index`         — sign-LSH coarse quantization over the first
  *     4 hashed dimensions (bit b set iff v_b > 0): 16 inverted-file
  *     buckets with a size manifest — the IVF layout `q_ann_ivf`
  *     probes, built here from scratch.
  *
  * Output: one accounting row per stage — (stage, n_in, n_out, m1,
  * m2); m1/m2 are the stage diagnostics (passages total/kept; tokens
  * total/full chunks; nonzero entries/total norm mass; max/min bucket
  * size). The numbers compose: stage N's n_in is stage N−1's n_out
  * domain, so a regression anywhere in the chain moves a visible row.
  *
  * Scale anatomy: stage 1 moves text twice (the inherent rewrite
  * cost, see `q_passage_dedup`); stages 2–3 are projections + one
  * map-side-combined (doc, chunk, bucket) aggregate of the REWRITTEN
  * text — the raw corpus is never rescanned; stage 4 reduces
  * chunk-grain to 16 manifest rows map-side. Each accounting
  * aggregate collapses to one row before the 4-row union. Nothing is
  * ever quadratic; no driver state beyond the 4-row result. */
object RagPipelineQuery {

  private val PassW = 8      // dedup passage width (q_passage_dedup)
  private val ChunkTok = 32  // retrieval chunk width
  private val HvDim = 16     // hashed feature dimension (q_hash_vectorize)
  private val LshBits = 4    // index key = sign bits of dims 0..3

  private def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFan(spark, dir)

    // ---- stage 1: passage-dedup rewrite (q_passage_dedup kernel)
    val pass = docs.select(col("doc_id"),
      explode(TF.passages(col("text"), PassW)).as("c"))
      .select(col("doc_id"), col("c._1").cast("long").as("idx"),
        col("c._2").as("passage"))
    val keptPass = SideCache.persist(
      pass.withColumn("rn", row_number().over(
        Window.partitionBy("passage").orderBy("doc_id", "idx")))
        .filter(col("rn") === 1).drop("rn"))
    val re = SideCache.persist(
      keptPass.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("passage")))),
          s => s.getField("passage"))).as("new_text")))

    // ---- stage 2: re-chunk the rewritten stream at w=32
    val chunks = SideCache.persist(
      re.select(col("doc_id"),
        explode(TF.passages(col("new_text"), ChunkTok)).as("c"))
        .select(col("doc_id"), col("c._1").cast("long").as("chunk_ix"),
          col("c._2").as("chunk"),
          size(split(col("c._2"), " ")).cast("long").as("n_tok")))

    // ---- stage 3: hashing-trick vectorization per chunk
    val ent = SideCache.persist(
      chunks.select(col("doc_id"), col("chunk_ix"),
        explode(split(col("chunk"), " ")).as("w"))
        .select(col("doc_id"), col("chunk_ix"), F.polyHash(col("w")).as("h"))
        .select(col("doc_id"), col("chunk_ix"), (col("h") % HvDim).as("bucket"),
          when(expr(s"(h div $HvDim) % 2") === 0, 1L).otherwise(-1L).as("s"))
        .groupBy("doc_id", "chunk_ix", "bucket").agg(sum("s").as("v"))
        .filter(col("v") =!= 0))

    // ---- stage 4: sign-LSH bucket per chunk + manifest
    val ckey = SideCache.persist(
      ent.groupBy("doc_id", "chunk_ix").agg(
        sum(when(col("bucket") < LshBits && col("v") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
          .otherwise(0L)).as("ivf"),
        count(lit(1)).as("n_entries"),
        sum(col("v") * col("v")).as("norm2")))
    val manifest = ckey.groupBy("ivf").agg(count(lit(1)).as("n_chunks"))

    // ---- accounting: one 1-row aggregate per stage, the other
    // side's counts as scalar subqueries, unioned
    val reOut = re.agg(count(lit(1)).as("n_out"), sum("n_kept").as("m2"))
    val s1 = pass.agg(
      countDistinct("doc_id").as("n_in"),
      count(lit(1)).as("m1"))
      .select(lit("1_passage_dedup").as("stage"), col("n_in"),
        reOut.select("n_out").scalar().as("n_out"), col("m1"),
        reOut.select("m2").scalar().as("m2"))
    val s2 = chunks.agg(count(lit(1)).as("n_out"),
        sum("n_tok").as("m1"),
        sum(when(col("n_tok") === ChunkTok, 1L).otherwise(0L)).as("m2"))
      .select(lit("2_chunk").as("stage"),
        re.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))
    val s3 = ckey.agg(count(lit(1)).as("n_out"),
        sum("n_entries").as("m1"), sum("norm2").as("m2"))
      .select(lit("3_vectorize").as("stage"),
        chunks.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))
    val s4 = manifest.agg(count(lit(1)).as("n_out"),
        max("n_chunks").as("m1"), min("n_chunks").as("m2"))
      .select(lit("4_index").as("stage"),
        ckey.agg(count(lit(1))).scalar().as("n_in"), col("n_out"),
        col("m1"), col("m2"))

    s1.union(s2).union(s3).union(s4).orderBy("stage")
  }

  private val sql = {
    val polyW = OracleSqlFrag.poly("w")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |pass AS (
       |  SELECT doc_id, s // $PassW AS idx,
       |    array_to_string(list_slice(tk, s + 1, least(s + $PassW, len(tk))), ' ') AS passage
       |  FROM (SELECT doc_id, tk,
       |          unnest(generate_series(0, len(tk) - 1, $PassW)) AS s FROM t)),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, idx, passage FROM (
       |    SELECT doc_id, idx, passage,
       |      row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
       |    FROM pass) WHERE rn = 1),
       |re AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(passage, ' ' ORDER BY idx) AS new_text
       |  FROM kept GROUP BY doc_id),
       |t2 AS (SELECT doc_id, string_split(new_text, ' ') AS tk2 FROM re),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id, s // $ChunkTok AS chunk_ix,
       |    list_slice(tk2, s + 1, least(s + $ChunkTok, len(tk2))) AS ctoks
       |  FROM (SELECT doc_id, tk2,
       |          unnest(generate_series(0, len(tk2) - 1, $ChunkTok)) AS s FROM t2)),
       |hh AS (
       |  SELECT doc_id, chunk_ix, $polyW AS h
       |  FROM (SELECT doc_id, chunk_ix, unnest(ctoks) AS w FROM chunks)),
       |ent AS MATERIALIZED (
       |  SELECT doc_id, chunk_ix, bucket, v FROM (
       |    SELECT doc_id, chunk_ix, h % $HvDim AS bucket,
       |      CAST(SUM(CASE WHEN (h // $HvDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
       |    FROM hh GROUP BY 1, 2, 3) WHERE v <> 0),
       |ckey AS MATERIALIZED (
       |  SELECT doc_id, chunk_ix,
       |    CAST(SUM(CASE WHEN bucket < $LshBits AND v > 0
       |      THEN (1::BIGINT << bucket) ELSE 0 END) AS BIGINT) AS ivf,
       |    COUNT(*) AS n_entries,
       |    CAST(SUM(v * v) AS BIGINT) AS norm2
       |  FROM ent GROUP BY 1, 2),
       |manifest AS (SELECT ivf, COUNT(*) AS n_chunks FROM ckey GROUP BY ivf)
       |SELECT '1_passage_dedup' AS stage,
       |  (SELECT COUNT(DISTINCT doc_id) FROM pass) AS n_in,
       |  (SELECT COUNT(*) FROM re) AS n_out,
       |  (SELECT COUNT(*) FROM pass) AS m1,
       |  (SELECT CAST(SUM(n_kept) AS BIGINT) FROM re) AS m2
       |UNION ALL
       |SELECT '2_chunk',
       |  (SELECT COUNT(*) FROM re),
       |  (SELECT COUNT(*) FROM chunks),
       |  (SELECT CAST(SUM(len(ctoks)) AS BIGINT) FROM chunks),
       |  (SELECT COUNT(*) FROM chunks WHERE len(ctoks) = $ChunkTok)
       |UNION ALL
       |SELECT '3_vectorize',
       |  (SELECT COUNT(*) FROM chunks),
       |  (SELECT COUNT(*) FROM ckey),
       |  (SELECT CAST(SUM(n_entries) AS BIGINT) FROM ckey),
       |  (SELECT CAST(SUM(norm2) AS BIGINT) FROM ckey)
       |UNION ALL
       |SELECT '4_index',
       |  (SELECT COUNT(*) FROM ckey),
       |  (SELECT COUNT(*) FROM manifest),
       |  (SELECT CAST(MAX(n_chunks) AS BIGINT) FROM manifest),
       |  (SELECT CAST(MIN(n_chunks) AS BIGINT) FROM manifest)
       |ORDER BY stage""".stripMargin
  }

  val all: Seq[Q] = Seq(Q("q_rag_pipeline", run, Some(sql)))
}
