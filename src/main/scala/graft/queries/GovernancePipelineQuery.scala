package graft.queries

import graft.ops.Num
import graft.sim.Similarity
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `q_forget_pipeline` — the GOVERNANCE/ERASURE flagship: the full
  * right-to-be-forgotten run a data platform executes on schedule,
  * composed across every tier that can retain a key, under ONE hash.
  * The tombstone convention is the repo-wide key ≡ 0 (mod 13)
  * (`q_delete_propagate`, `q_ann_delete`). Five stages:
  *
  *   1. TOMBSTONES — the deletion list itself (count + the bit_xor
  *      manifest checksum).
  *   2. CASCADE — the relational propagation customer → orders →
  *      lineitem ([[PipelineQueries.deletePropagate]]'s own frame,
  *      re-emitted here so the flagship and the standalone query can
  *      never drift).
  *   3. VECTOR INDEX — a stored IVF×PQ index over the embeddings is
  *      COMPACTED minus the vec tombstones
  *      ([[Similarity.ivfPqCompactDelete]] into a `codes_live`
  *      generation, original untouched); before/after counts and the
  *      dropped-id xor are read FROM THE STORED segments.
  *   4. FACT REWRITE — the events fact is rewritten minus the
  *      tombstoned users' rows into a `_live` generation (the
  *      lakehouse erasure write; old generation untouched for the
  *      retention window, the `q_vacuum` lifecycle), with the erased
  *      event-id xor.
  *   5. CERTIFY — one row folding the cascade/index/fact tiers (NOT
  *      stage 1: the tombstone list and the cascade's customer row
  *      carry the same keys, and folding both would self-cancel the
  *      xor): total erased keys and the xor-of-xors composite
  *      checksum — the line an auditor reads, reproduced from first
  *      principles by the oracle.
  *
  * A tier that silently retained a tombstoned key (a cascade miss, a
  * segment that kept a code row, a fact file not rewritten) changes
  * its count or xor and fails the hash. GovernancePipelineSpec
  * additionally proves retention-absence ON DISK: the live segments
  * and the live fact generation contain zero tombstoned keys, while
  * the untouched originals still do (erasure happened by rewrite,
  * not by editing history).
  *
  * Scale shape: the tombstone lists broadcast everywhere; stage 2 is
  * `q_delete_propagate`'s shape (semi joins, Bloom-prunable); stage 3
  * is one bucket-preserving segment rewrite; stage 4 one fact
  * rewrite exchange; accounting rows are 1-row aggregates. Priced
  * like the other flagships — several real writes in one query. */
object GovernancePipelineQuery {

  /** The erasure run's commit log — per dataset, REBUILT each run
    * (the VersionChain recommit discipline): v1 commits the
    * pre-erasure tier manifest, v2 the post-erasure one, so the
    * spanning version in the certification row is deterministic. */
  def forgetLogRoot(dir: String): String =
    s"${graft.ops.FixtureStore.root("forget", dir)}/forgetlog"

  /** ONE ATOMIC CROSS-TABLE COMMIT: every erasure tier flips in a
    * single spanning entry. Round 16 built this bespoke here; it is
    * now the general [[graft.ops.MultiTableCommit]] API (round 17,
    * closes r16 verdict #3) — these thin wrappers keep the flagship's
    * call sites and hash identical while any multi-table writer can
    * use the ops protocol; MultiTableCommitSpec pins the two-spanning-
    * writers and spanning-vs-single-table conflict stories. */
  def commitTiers(logRoot: String, name: String, op: String,
                  tiers: Map[String, String], base: Long): Long =
    graft.ops.MultiTableCommit.commit(logRoot, "forget", name, op,
      tiers, base)

  /** Tier → data path as of the newest committed spanning entry, plus
    * the one version every tier resolves at — readers of EVERY tier
    * gate on the same resolved slot. */
  def resolveTiers(logRoot: String): (Long, Map[String, String]) =
    graft.ops.MultiTableCommit.resolveUniform(logRoot)

  def run(spark: SparkSession, dir: String): DataFrame = {
    val nullL = lit(null).cast("long")
    // ---- stage 1: the tombstone list
    // conditional aggregation (r19): the tombstone predicate is a pure
    // projection, so n_before / n_erased / key_xor fold into ONE scan
    // (bit_xor skips NULLs, so the CASE-gated xor equals the filtered
    // xor) instead of a count subtree crossed with a filtered subtree.
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val delC = cust.filter(pmod(col("c_custkey"), lit(13L)) === 0)
    val s1 = cust.agg(count(lit(1)).as("n_before"),
        count(when(pmod(col("c_custkey"), lit(13L)) === 0, 1)).as("n_erased"),
        coalesce(expr(
          "bit_xor(CASE WHEN pmod(c_custkey, 13) = 0 THEN c_custkey END)"),
          lit(0L)).as("key_xor"))
      .select(lit("1_tombstones").as("stage"), lit("customer").as("tier"),
        col("n_before"), col("n_erased"),
        (col("n_before") - col("n_erased")).as("n_after"), col("key_xor"))
    // ---- stage 2: the relational cascade (the standalone query's frame)
    val s2 = PipelineQueries.deletePropagate(spark, dir)
      .select(lit("2_cascade").as("stage"), col("tbl").as("tier"),
        col("n_total").as("n_before"), col("n_deleted").as("n_erased"),
        col("n_remaining").as("n_after"), col("del_key_xor").as("key_xor"))
    // ---- the events BASE generation is fixture (deterministic from
    // the dataset) — built once per dataset; the erasure REWRITE
    // below (into the same root) is the operation being priced
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(Num.cents(col("value")), lit(-1L)).as("vc"),
        to_date(col("ts")).as("day"))
    val root = graft.ops.FixtureStore.ensure("forget", dir,
        parts = Seq("events")) { root =>
      base.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$root/events")
    }
    // ---- the SHARED content-keyed full-corpus index (built once per
    // dataset); the compaction below is additive — fresh live
    // generations plus the livelog flip — so the base segments other
    // consumers read stay byte-identical
    val emb = Tables.embeddings(spark, dir)
    val annPath = Similarity.ensureStoredIndex(spark, emb, dir,
      split9 = false)
    // ---- the SPANNING log: v1 = the pre-erasure tier manifest
    // (readers during staging resolve it), rebuilt per run so the
    // spanning version is deterministic under the hash
    val logRoot = forgetLogRoot(dir)
    graft.ops.VersionChain.rmTree(new java.io.File(logRoot))
    commitTiers(logRoot, "m0", "base", Map(
      "cascade" -> "derived",
      "events" -> s"$root/events",
      "index" -> s"$annPath/codes"), 0L)
    // ---- stage 3 + stage 4 WRITES, OVERLAPPED (r20, guide §2.6):
    // the stored-index compaction and the fact-table erasure rewrite
    // touch disjoint tables and both simply have to land before the
    // atomic m1 commit below — submitting them from two driver
    // threads lets each write's task tail back-fill the other's
    // cores. A failure surfaces only after both writes have stopped,
    // and before anything commits.
    // Stage 4 keeps its r19 shape: no pre-write exchange — the stored
    // generation is already hive-partitioned by day, so partitionBy
    // regroups nothing.
    val delV = emb.filter(col("vec_id") % 13 === 0).select("vec_id")
    val stored = spark.read.schema(base.schema).parquet(s"$root/events")
    val Seq(liveSeg, eventsLive) = graft.ops.DriverPar.all(Seq(
      () => Similarity.ivfPqCompactDelete(
        spark, annPath, delV, Seq("codes")).head,
      () => {
        val out = s"$root/events_live"
        stored.filter(pmod(col("user_id"), lit(13L)) =!= 0)
          .write.mode("overwrite").partitionBy("day").parquet(out)
        out
      }))
    // ---- the ATOMIC CROSS-TABLE COMMIT: all tiers flip at ONE slot —
    // a crash anywhere above leaves readers on the v1 manifest
    // everywhere (ForgetAtomicSpec kills a pipeline mid-stage and
    // proves it); every read below gates on the resolved slot
    val commitV = commitTiers(logRoot, "m1", "erasure", Map(
      "cascade" -> "derived",
      "events" -> eventsLive,
      "index" -> s"$annPath/$liveSeg"), 1L)
    val (resV, liveTiers) = resolveTiers(logRoot)
    require(resV == commitV,
      s"readers resolve v$resV but the spanning commit landed at v$commitV")
    // ---- stage 3 accounting (live read through the resolved slot)
    val ids = emb.select("vec_id").schema
    val codes = spark.read.schema(ids).parquet(s"$annPath/codes").select("vec_id")
    val live = spark.read.schema(ids).parquet(liveTiers("index")).select("vec_id")
    // one scan of the stored segment (r19): the former count subtree +
    // semi-join subtree re-read it twice; a left join against the
    // broadcast tombstone list (unique keys, so row counts are
    // preserved) folds n_before / n_erased / key_xor into one pass.
    // dropDuplicates ENFORCES the unique-keys invariant the fold's
    // row-count preservation depends on (ADVICE r19): trivial on the
    // broadcast-sized list, and a future non-distinct caller can no
    // longer silently inflate n_before/n_erased
    val hit = codes.join(
      broadcast(delV.dropDuplicates("vec_id").withColumn("__hit", lit(1))),
      Seq("vec_id"), "left")
    val s3 = hit.agg(count(lit(1)).as("n_before"),
        count(col("__hit")).as("n_erased"),
        coalesce(expr("bit_xor(CASE WHEN __hit IS NOT NULL THEN vec_id END)"),
          lit(0L)).as("key_xor"))
      .select(lit("3_vector_index").as("stage"), lit("codes").as("tier"),
        col("n_before"), col("n_erased"),
        live.agg(count(lit(1))).scalar().as("n_after"), col("key_xor"))
    // ---- stage 4 accounting (live read through the resolved slot)
    val evLive = spark.read.schema(base.schema).parquet(liveTiers("events"))
    // same conditional-aggregation fold: one scan of the stored fact
    // instead of a full-count subtree plus a filtered subtree
    val s4 = stored.agg(count(lit(1)).as("n_before"),
        count(when(pmod(col("user_id"), lit(13L)) === 0, 1)).as("n_erased"),
        coalesce(expr(
          "bit_xor(CASE WHEN pmod(user_id, 13) = 0 THEN event_id END)"),
          lit(0L)).as("key_xor"))
      .select(lit("4_fact_rewrite").as("stage"), lit("events").as("tier"),
        col("n_before"), col("n_erased"),
        evLive.agg(count(lit(1))).scalar().as("n_after"), col("key_xor"))
    // ---- stage 5: the auditor's line — fold the CASCADE/INDEX/FACT
    // tiers only. Stage 1 is the tombstone LIST, and stage 2's cascade
    // re-emits the same customer keys: folding both would double-count
    // n_erased and cancel the identical key_xors (x^x=0), leaving the
    // composite checksum blind to customer-key drift. The fold carries
    // the SPANNING COMMIT VERSION every tier resolved at — the
    // auditor's proof the erasure flipped atomically.
    val tiers = s1.unionAll(s2).unionAll(s3).unionAll(s4)
      .withColumn("commit_v", nullL)
    val folded = s2.unionAll(s3).unionAll(s4)
    val s5 = folded.agg(sum("n_erased").as("n_erased"),
        coalesce(expr("bit_xor(key_xor)"), lit(0L)).as("key_xor"))
      .select(lit("5_certify").as("stage"), lit("all").as("tier"),
        nullL.as("n_before"), col("n_erased"), nullL.as("n_after"),
        col("key_xor"), lit(resV).as("commit_v"))
    tiers.unionAll(s5).orderBy("stage", "tier")
  }

  private val sql = {
    s"""WITH cascade AS (${PipelineQueries.deletePropagateSql}),
       |tiers AS (
       |  SELECT '1_tombstones' AS stage, 'customer' AS tier,
       |    (SELECT COUNT(*) FROM customer) AS n_before,
       |    (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0) AS n_erased,
       |    (SELECT COUNT(*) FROM customer)
       |      - (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0) AS n_after,
       |    (SELECT COALESCE(bit_xor(c_custkey), 0) FROM customer
       |     WHERE c_custkey % 13 = 0) AS key_xor
       |  UNION ALL
       |  SELECT '2_cascade', tbl, n_total, n_deleted, n_remaining, del_key_xor
       |  FROM cascade
       |  UNION ALL
       |  SELECT '3_vector_index', 'codes',
       |    (SELECT COUNT(*) FROM embeddings),
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 = 0),
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 <> 0),
       |    (SELECT COALESCE(bit_xor(vec_id), 0) FROM embeddings
       |     WHERE vec_id % 13 = 0)
       |  UNION ALL
       |  SELECT '4_fact_rewrite', 'events',
       |    (SELECT COUNT(*) FROM events),
       |    (SELECT COUNT(*) FROM events WHERE user_id % 13 = 0),
       |    (SELECT COUNT(*) FROM events WHERE user_id % 13 <> 0),
       |    (SELECT COALESCE(bit_xor(event_id), 0) FROM events
       |     WHERE user_id % 13 = 0))
       |SELECT stage, tier, CAST(n_before AS BIGINT) AS n_before,
       |  CAST(n_erased AS BIGINT) AS n_erased,
       |  CAST(n_after AS BIGINT) AS n_after,
       |  CAST(key_xor AS BIGINT) AS key_xor,
       |  CAST(NULL AS BIGINT) AS commit_v
       |FROM tiers
       |UNION ALL
       |SELECT '5_certify', 'all', NULL,
       |  (SELECT CAST(SUM(n_erased) AS BIGINT) FROM tiers
       |   WHERE stage <> '1_tombstones'), NULL,
       |  (SELECT CAST(COALESCE(bit_xor(key_xor), 0) AS BIGINT) FROM tiers
       |   WHERE stage <> '1_tombstones'),
       |  CAST(2 AS BIGINT)
       |ORDER BY stage, tier""".stripMargin
  }

  val all: Seq[Q] = Seq(Q("q_forget_pipeline", run, Some(sql)))
}
