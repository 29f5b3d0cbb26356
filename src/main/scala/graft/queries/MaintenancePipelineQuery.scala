package graft.queries

import graft.ops.{FixtureStore, Num, NumSql, VersionChain}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The LAKEHOUSE MAINTENANCE tier: the nightly table-service cycle
  * every partitioned fact table runs — ingest, compaction, retention,
  * versioned reads, generation expiry, and the change-data-feed —
  * over ONE shared immutable generation chain ([[VersionChain]]:
  * v0 ingest → v1 compact → v2 retain → v3 update, plus per-commit
  * CDF deltas and the version manifest). The chain is committed once
  * per dataset (a [[FixtureStore]] root) and every query
  * here resolves it rather than re-writing a private copy per run —
  * the round-12 bench spent ~12 s re-writing four identical chains.
  *
  * Reference anchor: the reference pipeline re-derives its whole
  * output tree every run (`il_analysis_git.py:171-213` rewrites every
  * export file); this tier is the at-scale replacement — rewrite only
  * what maintenance must touch, record every commit in a log, and
  * certify content preservation by checksum instead of by faith. */
object MaintenancePipelineQuery {

  /** Canonical per-row content hash + metric (vc with NULL → −1). */
  private def rowHash: Column = VersionChain.rowHash

  /** SQL twin of [[rowHash]]. */
  private val rowHashSql = OracleSqlFrag.poly(
    "CAST(event_id AS VARCHAR) || '|' || event_type || '|' || " +
      "CAST(vc AS VARCHAR)")

  /** [[Num.digest]] of a chain generation hashed by [[rowHash]] into
    * `h`, and its twin over [[chainCte]]'s `h`. */
  private def chainDigest: Seq[Column] =
    Num.digest(col("h"), col("vc"), "n_rows", "xor_hash", "content_sum")
  private val chainDigestSql =
    NumSql.digest("h", "vc", "n_rows", "xor_hash", "content_sum")

  /** [[Num.digest]] of staged commit-log events (`event_id`, `vc`),
    * and its twin. */
  private def clogDigest: Seq[Column] =
    Num.digest(col("event_id"), col("vc"), "n_rows", "key_xor", "vc_sum")
  private val clogDigestSql =
    NumSql.digest("event_id", "vc", "n_rows", "key_xor", "vc_sum")

  /** [[Num.digest]] of a merge fixture's customer rows (`custkey`,
    * `bal`), and its twin. */
  private def mergeDigest: Seq[Column] =
    Num.digest(col("custkey"), col("bal"), "n_rows", "key_xor", "bal_sum")
  private val mergeDigestSql =
    NumSql.digest("custkey", "bal", "n_rows", "key_xor", "bal_sum")

  /** The [[rowHash]] digest of `df` as one (step, outcome, version)
    * row, and its twin over `rel`. */
  private def stepStats(df: DataFrame, step: String, outcome: String,
                        ver: Long): DataFrame =
    df.withColumn("h", rowHash)
      .select(Num.digest(col("h"), col("vc"), "n_rows", "xor_hash", "vc_sum"): _*)
      .select(lit(step).as("step"), lit(outcome).as("outcome"),
        lit(ver).as("version"), col("n_rows"), col("xor_hash"), col("vc_sum"))
  private def stepStatsSql(step: String, outcome: String, ver: Long,
                           rel: String): String =
    s"""SELECT '$step' AS step, '$outcome' AS outcome,
       |  CAST($ver AS BIGINT) AS version,
       |  ${NumSql.digest(rowHashSql, "vc", "n_rows", "xor_hash", "vc_sum")}
       |FROM $rel""".stripMargin

  /** One labelled [[clogDigest]] row, and its twin over `rel`. */
  private def clogStats(df: DataFrame, step: String): DataFrame =
    df.select(clogDigest: _*)
      .select(lit(step).as("step"), col("n_rows"), col("key_xor"), col("vc_sum"))
  private def clogStatsSql(step: String, rel: String): String =
    s"SELECT '$step' AS step, $clogDigestSql FROM $rel"

  // ------------------------------------------------ maintenance flagship

  /** `q_maintenance_pipeline` — the maintenance-cycle ACCOUNTING: one
    * row per stage of the chain's first three commits, each carrying
    * the `q_table_checksum` order-free triple (count + bit_xor of a
    * canonical per-row polyhash + integer content sum), so the hashed
    * result itself proves the two invariants a maintenance run must
    * certify — COMPACTION PRESERVES CONTENT (stage 2's triple equals
    * stage 1's while n_files drops from \|days\| to ⌈total/T⌉) and
    * the RETENTION SWEEP IS A PARTITION (stage 3 + stage 4 counts sum
    * to stage 1's; their xors fold back to stage 1's xor, which the
    * spec asserts explicitly). NULL values enter the row hash as −1
    * (`concat_ws` skips nulls where `||` nulls out — COALESCE is the
    * one spelling both engines agree on).
    *
    * Scale shape: the rewrites are the chain's (paid once,
    * content-keyed skip thereafter); this query is four map-side
    * accounting aggregates over generation scans. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    def gen(p: String): DataFrame =
      spark.read.parquet(s"$root/$p").withColumn("h", rowHash)
    def acct(stage: String, df: DataFrame, fileKey: Column,
             nFilesOverride: Option[Column] = None): DataFrame = {
      val base = df.agg(countDistinct(fileKey).as("nf"), chainDigest: _*)
      base.select(lit(stage).as("stage"),
        nFilesOverride.getOrElse(col("nf")).as("n_files"),
        col("n_rows"), col("xor_hash"), col("content_sum"))
    }
    acct("1_ingest", gen("gen0"), col("day"))
      .unionAll(acct("2_compact", gen("gen1"), col("bin")))
      .unionAll(acct("3_retained", gen("gen2"), col("bin")))
      .unionAll(acct("4_deleted",
        gen("gen1").filter(dayofmonth(col("day")) > 20), col("bin"),
        nFilesOverride = Some(lit(0L))))
      .orderBy("stage")
  }

  /** Shared oracle CTE prefix: the chain's content re-derived from
    * the raw events — base (v0 content), the bin plan, binned (v1),
    * and binned3 (v3 content: the point update applied to the swept
    * subset). A writer that mutated the wrong rows hash-fails. */
  private val chainCte =
    s"""WITH base AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day
       |  FROM events),
       |hashed AS (SELECT *, $rowHashSql AS h FROM base),
       |daily AS (
       |  SELECT day, CAST(SUM(24 + length(event_type)) AS BIGINT) AS bytes
       |  FROM base GROUP BY 1),
       |tot AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total FROM daily),
       |plan_ AS (
       |  SELECT day,
       |    CAST(COALESCE(SUM(bytes) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      // (total // 8 + 1) AS bin
       |  FROM daily CROSS JOIN tot),
       |binned AS (
       |  SELECT h.*, p.bin FROM hashed h JOIN plan_ p ON h.day = p.day),
       |base3 AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 7 = 0 THEN vc + 100 ELSE vc END AS vc, day
       |  FROM base WHERE EXTRACT(day FROM day) <= 20),
       |binned3 AS (
       |  SELECT b3.*, $rowHashSql AS h, p.bin
       |  FROM base3 b3 JOIN plan_ p ON b3.day = p.day)""".stripMargin

  private val sql =
    s"""$chainCte,
       |rows_ AS (
       |  SELECT '1_ingest' AS stage,
       |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_files, $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT '2_compact', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT '3_retained', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned WHERE EXTRACT(day FROM day) <= 20
       |  UNION ALL
       |  SELECT '4_deleted', 0, $chainDigestSql
       |  FROM binned WHERE EXTRACT(day FROM day) > 20)
       |SELECT stage, n_files, n_rows, xor_hash, content_sum
       |FROM rows_ ORDER BY stage""".stripMargin

  // ------------------------------------------------------- time travel

  /** `q_time_travel` — the VERSIONED READ: a reader resolves "as of
    * v" through the stored manifest to the newest generation ≤ v and
    * scans THAT path — old generations are never mutated, so v0 stays
    * readable after the OPTIMIZE (v1), the retention sweep (v2), and
    * the point update (v3). Four manifest-resolved `asOf` reads emit
    * the `q_table_checksum` triple per version — the hash itself
    * certifies that v0 and v1 carry IDENTICAL content (compaction
    * preserved every row while n_files fell), that v2 is exactly the
    * post-sweep subset, and that v3 mutated exactly the
    * event_id % 7 = 0 values. TimeTravelSpec asserts all four
    * generation paths appear in the executed plan (the `q_ann_serve`
    * stored-artifact convention), manifest-resolution correctness,
    * and the generations' immutable layouts.
    *
    * The `90`/`91` rows are TIMESTAMP-keyed reads (Delta's
    * `timestampAsOf`, round-15 verdict gap #2):
    * [[graft.ops.CommitLog.asOfTimestamp]] resolves a wall-clock
    * instant to the newest commit at or before it — `90` probes
    * BETWEEN the compact and retain commits (must resolve the compact
    * generation, the between-commits lookup), `91` probes after the
    * last commit (must resolve the head). Commit timestamps are the
    * stored entries' logical stamps (version-derived so the oracle
    * replays them); TimestampTravelSpec pins the resolution agreement
    * (`asOfTimestamp(commitTimestamp(v)) == v`), the between-commits
    * floor, and the before-history None.
    *
    * Scale shape: the manifest is \|versions\| rows (a bounded
    * driver-side resolve, like an index's cents table); each asOf
    * read is one generation scan with the partition layout that
    * generation was written with. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    val log = VersionChain.manifest(spark, root)
    def triple(v: Long, fileKey: String, label: Long = -1L): DataFrame =
      versionTriple(spark, root, log, if (label >= 0) label else v, v, fileKey)
    // timestamp → log version → chain version (log slot N+1 holds
    // chain generation N): half-way between two commits must resolve
    // the EARLIER one; far future resolves the head
    import graft.ops.CommitLog
    val logRoot = VersionChain.commitLogRootOf(root)
    def tsTriple(label: Long, ts: Long): DataFrame = {
      val logV = CommitLog.asOfTimestamp(logRoot, ts).getOrElse(
        throw new IllegalStateException(s"no commit at or before ts $ts"))
      triple(logV - 1, "bin", label)
    }
    triple(0L, "day")
      .unionAll(triple(1L, "bin"))
      .unionAll(triple(2L, "bin"))
      .unionAll(triple(3L, "bin"))
      .unionAll(tsTriple(90L, CommitLog.commitTimestamp(2L) + 1800L))
      .unionAll(tsTriple(91L, CommitLog.commitTimestamp(999L)))
      .orderBy("version")
  }

  /** Chain version `v`, resolved through `log`: its file count and
    * [[chainDigest]] as one row labelled `label`. */
  private def versionTriple(spark: SparkSession, root: String,
                            log: Seq[VersionChain.Commit], label: Long,
                            v: Long, fileKey: String): DataFrame = {
    val (c, df) = VersionChain.asOf(spark, root, log, v)
    df.withColumn("h", rowHash)
      .agg(countDistinct(col(fileKey)).as("n_files"), chainDigest: _*)
      .select(lit(label).as("version"), lit(c.op).as("op"), col("n_files"),
        col("n_rows"), col("xor_hash"), col("content_sum"))
  }

  private val timeTravelSql =
    s"""$chainCte,
       |rows_ AS (
       |  SELECT 0 AS version, 'ingest' AS op,
       |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_files, $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT 1, 'compact', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT 2, 'retain', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned WHERE EXTRACT(day FROM day) <= 20
       |  UNION ALL
       |  SELECT 3, 'update', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned3
       |  UNION ALL
       |  SELECT 90, 'compact', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT 91, 'update', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned3)
       |SELECT CAST(version AS BIGINT) AS version, op, n_files, n_rows,
       |  xor_hash, content_sum
       |FROM rows_ ORDER BY version""".stripMargin

  // ------------------------------------------------------------- vacuum

  /** `q_vacuum` — GENERATION EXPIRY, the lifecycle step `q_time_travel`
    * creates the need for: immutable rewrites accumulate old
    * generations forever unless something reclaims them (Delta's
    * VACUUM / Iceberg's expire_snapshots). Retention policy: keep the
    * newest 2 generations; everything older is swept. The operator
    * works on a METADATA-ONLY [[VersionChain.shallowClone]] of the
    * shared chain (round 14 — the round-13 version file-copied the
    * whole chain, a data-proportional primitive that at 100 TB copies
    * 100 TB to expire metadata), then:
    *
    *   1. takes the PRE-SWEEP audit of every generation — file count
    *      from the actual listing at the resolved data paths, row
    *      count + the `q_table_checksum` xor from a read (you record
    *      what you expire BEFORE expiring it),
    *   2. rewrites the clone's manifest with the audit + status
    *      columns — expiry DROPS THE REFERENCES (the log row
    *      survives; Delta keeps history rows), and
    *   3. hands physical reclamation to the REFCOUNTED
    *      [[VersionChain.retireUnreferenced]]: a generation's files
    *      are deleted only when no live manifest — the owner's or any
    *      registered clone's — references them. Here the shared owner
    *      still does, so the shared data is untouched by
    *      construction; VacuumSpec exercises the zero-reference path
    *      on an OWNED copy, where the expired directories really go.
    *   4. returns a READ of the stored post-vacuum manifest — the
    *      output hash certifies the lifecycle end-state.
    *
    * The oracle predicts every audited number from the raw events
    * (files-per-generation = the partition counts the writers
    * produce; rows/xor from the same hashed CTEs as the maintenance
    * flagship), so a sweep that touched the wrong generation, or a
    * writer that split partitions into multiple files, hash-fails.
    * VacuumSpec pins: ZERO data files under the clone, the shared
    * root untouched, zero-ref retirement actually deletes on an owned
    * chain, as-of degrading to v2 for every v ≤ 2, idempotent re-run.
    *
    * Scale shape: the clone is \|versions\| manifest rows; the audit
    * is one scan per generation; expiry is a manifest rewrite;
    * retirement is file-listing + delete — data is never copied. */
  def vacuumRoot(dir: String): String = FixtureStore.root("vacuum", dir)

  /** Audit + expire + refcounted retire over any chain root (owner or
    * shallow clone); returns the post-vacuum manifest read. */
  def vacuumChain(spark: SparkSession, root: String,
                  keepNewest: Int = 2): DataFrame = {
    import spark.implicits._
    val log = VersionChain.manifest(spark, root)
    val expired = log.sortBy(-_.version).drop(keepNewest)
      .map(_.version).toSet
    // pre-sweep audit: record what will be expired before expiring it.
    // ONE fused job over a version-tagged union of all generations —
    // a per-generation loop of agg jobs costs |versions| scheduler
    // barriers for the same scans (measured ~2x wall at sf0.1)
    val counts = log.map { c =>
      spark.read.parquet(VersionChain.resolvePath(root, c.path))
        .select(lit(c.version).as("version"), rowHash.as("h"))
    }.reduce(_ unionAll _)
      .groupBy("version")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("xor_hash"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap // bounded: |versions| rows
    val audit = log.map { c =>
      val nf = VersionChain.parquetFiles(VersionChain.resolvePath(root, c.path))
        .size.toLong
      val (nRows, xor) = counts(c.version)
      val status = if (expired(c.version)) "vacuumed" else "live"
      (c.version, c.op, c.path, status, nf,
        if (expired(c.version)) 0L else nf, nRows, xor)
    }
    // the sweep: REFERENCES go (the log row stays); physical deletion
    // is refcounted — only zero-ref generations are reclaimed
    val manifest = audit.toDF("version", "op", "path", "status",
      "n_files_before", "n_files_after", "n_rows", "xor_hash")
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
    // the expiry is itself a COMMIT, routed through this chain's OWN
    // optimistic log (a shallow clone carries an independent copy):
    // its touched partitions are the generations whose references it
    // drops, so a concurrent writer rewriting one of them would get a
    // CommitConflict instead of a silent lost update
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "vacuum", "expire", "manifest",
      log.filter(c => expired(c.version)).map(_.path),
      graft.ops.CommitLog.latestCommitted(root)))
    VersionChain.retireUnreferenced(spark, root)
    spark.read.schema(manifest.schema).parquet(s"$root/manifest").orderBy("version")
  }

  def vacuum(spark: SparkSession, dir: String): DataFrame = {
    val shared = VersionChain.ensure(spark, dir)
    val root = vacuumRoot(dir)
    VersionChain.shallowClone(shared, root) // zero data files move
    vacuumChain(spark, root)
  }

  private val vacuumSql =
    s"""$chainCte,
       |rows_ AS (
       |  SELECT 0 AS version, 'ingest' AS op, 'gen0' AS path,
       |    'vacuumed' AS status,
       |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_files_before,
       |    CAST(0 AS BIGINT) AS n_files_after,
       |    COUNT(*) AS n_rows,
       |    CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS xor_hash
       |  FROM binned
       |  UNION ALL
       |  SELECT 1, 'compact', 'gen1', 'vacuumed',
       |    CAST(COUNT(DISTINCT bin) AS BIGINT),
       |    CAST(0 AS BIGINT), COUNT(*),
       |    CAST(COALESCE(bit_xor(h), 0) AS BIGINT)
       |  FROM binned
       |  UNION ALL
       |  SELECT 2, 'retain', 'gen2', 'live',
       |    CAST(COUNT(DISTINCT bin) AS BIGINT),
       |    CAST(COUNT(DISTINCT bin) AS BIGINT), COUNT(*),
       |    CAST(COALESCE(bit_xor(h), 0) AS BIGINT)
       |  FROM binned WHERE EXTRACT(day FROM day) <= 20
       |  UNION ALL
       |  SELECT 3, 'update', 'gen3', 'live',
       |    CAST(COUNT(DISTINCT bin) AS BIGINT),
       |    CAST(COUNT(DISTINCT bin) AS BIGINT), COUNT(*),
       |    CAST(COALESCE(bit_xor(h), 0) AS BIGINT)
       |  FROM binned3)
       |SELECT CAST(version AS BIGINT) AS version, op, path, status,
       |  n_files_before, n_files_after, n_rows, xor_hash
       |FROM rows_ ORDER BY version""".stripMargin

  // ------------------------------------------------- orphan staging

  /** `q_vacuum_orphans` — ORPHANED-STAGING reclamation, the
    * untracked-file half of VACUUM `q_vacuum` leaves open (round-15
    * verdict gap #1): a conflict-rejected writer staged its private
    * data files before losing, and nothing referenced them afterward —
    * `purgeAborted` sweeps slot METADATA only; the staged bytes lived
    * forever. Scenario, re-proven under the driver hash every run:
    *
    *   1. committed base: days 16–20 staged + committed as v1
    *      (content-keyed, paid once),
    *   2. a CONFLICTED writer: days 12–18 (overlapping v1) staged
    *      fresh each run, then committed from a STALE snapshot
    *      (base 0) — rejected with [[graft.ops.CommitLog.CommitConflict]],
    *      leaving an aborted slot whose entry names the staging,
    *   3. [[graft.ops.CommitLog.sweepOrphanStaging]]: the aborted
    *      entry's dataPath is reclaimed — files physically gone —
    *      while every committed path survives (the `4_live_after`
    *      row re-reads v1's data AFTER the sweep and must reproduce
    *      `1_live_before`'s triple bit-for-bit inside the hash).
    *
    * The oracle predicts the staged/reclaimed file counts from the
    * day-partition layout and every triple from the raw events, so a
    * sweep that touched a committed file (or missed the orphan)
    * hash-fails. OrphanSweepSpec additionally pins: an UNRESOLVED
    * claim's staging survives (its writer may still commit), a path
    * referenced by both an aborted and a committed entry survives,
    * path-traversal hygiene, and idempotence.
    *
    * Scale shape: the sweep is metadata-proportional (\|slots\| entry
    * reads + one recursive delete per orphan — never a data scan);
    * staging the conflicted delta is one pruned exchange per run,
    * the accounting one scan per staged path. */
  private def ensureOrphanBase(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("orphans", dir, parts = Seq("data/live"),
      valid = root => graft.ops.CommitLog.committedVersions(root) == Seq(1L),
      rows = Some("data/live")) { root =>
      val e = clogEvents(spark, dir)
      clogStaged(e.filter(col("dom").between(16, 20)))
        .repartition(col("pday"))
        .write.mode("overwrite").partitionBy("pday").parquet(s"$root/data/live")
      graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
        "keeper", "ingest", "data/live",
        daysIn(e, col("dom").between(16, 20)), 0L))
    }

  def vacuumOrphans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.CommitLog
    val root = ensureOrphanBase(spark, dir)
    val e = clogEvents(spark, dir)
    // the conflicted writer's staging, rebuilt each run (last run's
    // sweep reclaimed it): days 12-18, event_id % 7 <> 0
    val orphanPath = s"$root/data/orphan"
    clogStaged(e.filter(col("dom").between(12, 18) && col("event_id") % 7 =!= 0))
      .repartition(col("pday"))
      .write.mode("overwrite").partitionBy("pday").parquet(orphanPath)
    // the conflicted commit: days 12-18 overlap v1's 16-20 and the
    // snapshot is STALE (base 0) — must be rejected, leaving the
    // aborted slot that names the staging
    scala.util.Try(CommitLog.tryCommit(root, CommitLog.Entry(
      "conflicter", "backfill", "data/orphan",
      daysIn(e, col("dom").between(12, 18)), 0L))) match {
      case scala.util.Failure(_: CommitLog.CommitConflict) => ()
      case other => throw new IllegalStateException(
        s"overlapping stale commit was not rejected: $other")
    }
    CommitLog.purgeAborted(root) // bound prior runs' tombstones
    def parquetCount(p: String): Long = VersionChain.parquetFiles(p).size.toLong
    // accounting is EAGER (collected before the sweep mutates the FS —
    // a lazy frame would read after the delete)
    def tripleOf(p: String): (Long, Long, Long) = {
      val r = spark.read.schema(clogStaged(e).schema).parquet(p)
        .select(clogDigest: _*).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val liveBefore = tripleOf(s"$root/data/live")
    val orphBefore = tripleOf(orphanPath)
    val orphFiles = parquetCount(orphanPath)
    val swept = CommitLog.sweepOrphanStaging(root)
    require(swept == Seq("data/orphan"),
      s"sweep must reclaim exactly the conflicted staging, got $swept")
    val liveAfter = tripleOf(s"$root/data/live")
    Seq(
      ("1_live_before", parquetCount(s"$root/data/live"),
        liveBefore._1, liveBefore._2, liveBefore._3),
      ("2_orphan_staged", orphFiles,
        orphBefore._1, orphBefore._2, orphBefore._3),
      ("3_swept", orphFiles, swept.size.toLong, 0L, 0L),
      ("4_live_after", parquetCount(s"$root/data/live"),
        liveAfter._1, liveAfter._2, liveAfter._3),
      ("5_orphan_after", parquetCount(orphanPath), 0L, 0L, 0L))
      .toDF("stage", "n_files", "n_rows", "key_xor", "vc_sum")
      .orderBy("stage")
  }

  private val vacuumOrphansSql =
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |live AS (SELECT * FROM e WHERE dom BETWEEN 16 AND 20),
       |orph AS (
       |  SELECT * FROM e WHERE dom BETWEEN 12 AND 18 AND event_id % 7 <> 0),
       |rows_ AS (
       |  SELECT '1_live_before' AS stage,
       |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_files, $clogDigestSql
       |  FROM live
       |  UNION ALL
       |  SELECT '2_orphan_staged', CAST(COUNT(DISTINCT day) AS BIGINT),
       |    $clogDigestSql
       |  FROM orph
       |  UNION ALL
       |  SELECT '3_swept', CAST(COUNT(DISTINCT day) AS BIGINT), 1, 0, 0
       |  FROM orph
       |  UNION ALL
       |  SELECT '4_live_after', CAST(COUNT(DISTINCT day) AS BIGINT),
       |    $clogDigestSql
       |  FROM live
       |  UNION ALL
       |  SELECT '5_orphan_after', 0, 0, 0, 0)
       |SELECT stage, n_files, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY stage""".stripMargin

  // ------------------------------------------------ write-audit-publish

  /** `q_wap` — WRITE-AUDIT-PUBLISH (the Iceberg/Netflix WAP pattern,
    * Delta's staging-branch flow): producers never commit straight to
    * main — they commit to an isolated BRANCH (a metadata-only copy
    * of main's commit log), run the audit
    * ([[graft.ops.Expectations]]) against the branch head, and only a
    * PASSING branch is fast-forward published, by committing the
    * branch entry's dataPath into main's log — publish moves ZERO
    * data bytes at any scale. The flow runs twice under the hash:
    *
    *   - the GOOD branch (vc += 50 on day-6/7 keys ≡ 0 mod 4) passes
    *     its audit (no negative vc, no null keys, row count preserved
    *     — violations all zero) and publishes as main v2, which the
    *     main-head row then serves;
    *   - the BAD branch (same update but vc FORCED to −2 on keys ≡ 0
    *     mod 5 — a corrupting writer; −2 is DISTINCT from the −1
    *     NULL-value sentinel `clogEvents` writes, so the audit's
    *     `vc >= -1` floor catches exactly the corruption and never a
    *     legitimate NULL-value row) FAILS its audit
    *     (`chk_nonneg` fail-mode) and its publish is REFUSED —
    *     re-proven EVERY run: main's log never gains its entry, and
    *     the main-head row's hash proves the corruption never became
    *     visible.
    *
    * The oracle derives every triple and violation count from the raw
    * events, so a publish that skipped the audit, or an audit that
    * passed the corrupted branch, hash-fails. WapSpec pins: the
    * branch log is independent (branch commits never advance main),
    * publish is metadata-only (the published dataPath IS the branch's
    * staged path — no copy), the refused branch leaves main's version
    * unchanged, and idempotent re-run.
    *
    * Scale shape: branching is a commit-log copy (kilobytes);
    * staging is one pruned exchange per branch (content-keyed, paid
    * once); the audit is one map-side aggregate over the staged
    * delta; publish is one metadata commit. */
  /** vc += 50 where event_id ≡ 0 mod 4 — the good branch's update. */
  private def wapUpdate(e: DataFrame): DataFrame =
    e.filter(col("dom").between(6, 7))
      .withColumn("vc", col("vc") +
        when(col("event_id") % 4 === 0, lit(50L)).otherwise(lit(0L)))

  /** The corrupting writer: same update, then vc forced to −2 on
    * keys ≡ 0 mod 5 (what the audit must catch — −2, never the −1
    * NULL-value sentinel, so the corruption stays distinguishable
    * from a legitimate NULL `events.value` row). */
  private def wapCorrupt(e: DataFrame): DataFrame =
    wapUpdate(e).withColumn("vc",
      when(col("event_id") % 5 === 0, lit(-2L)).otherwise(col("vc")))

  private def wapAudit(spark: SparkSession, schema: StructType, path: String,
                       expectedRows: Long): Seq[(String, String, Long)] = {
    import graft.ops.Expectations
    import graft.ops.Expectations.Expectation
    val staged = spark.read.schema(schema).parquet(path)
    val exps = Seq(
      // floor at −1, NOT 0: clogEvents writes vc = −1 as the
      // NULL-value sentinel (coalesce(cents(value), −1)), which is a
      // legitimate row the audit must admit; the corrupting writer's
      // forced −2 stays below the floor and is what this catches
      Expectation("chk_nonneg", col("vc") >= -1, "fail"),
      Expectation("chk_key", col("event_id").isNotNull, "fail"))
    val rep = Expectations.report(staged, exps,
      graft.functions.F.polyHash(col("event_id").cast("string")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    // row-count preservation is an audit expectation too: a branch
    // that dropped or duplicated rows must not publish
    val n = staged.count()
    rep :+ (("chk_rowcount", "fail",
      if (n == expectedRows) 0L else math.abs(n - expectedRows)))
  }

  def ensureWap(spark: SparkSession, dir: String): String = {
    import graft.ops.CommitLog
    FixtureStore.ensure("wap", dir,
      parts = Seq("base", "branch_good", "branch_bad").map(p => s"data/$p"),
      valid = r => CommitLog.committedVersions(s"$r/main") == Seq(1L, 2L)) { root =>
      val e = clogEvents(spark, dir).filter(col("dom") <= 10)
      val days = daysIn(e, lit(true))
      val upDays = daysIn(e, col("dom").between(6, 7))
      e.write.mode("overwrite").parquet(s"$root/data/base")
      CommitLog.tryCommit(s"$root/main", CommitLog.Entry("ingest",
        "ingest", s"$root/data/base", days, 0L))
      // both branch payloads staged once (content-keyed)
      wapUpdate(e).write.mode("overwrite")
        .parquet(s"$root/data/branch_good")
      wapCorrupt(e).write.mode("overwrite")
        .parquet(s"$root/data/branch_bad")
      // BRANCH: a metadata-only copy of main's log; the branch commit
      // lands in the BRANCH's log only
      VersionChain.cpTree(new java.io.File(s"$root/main/commitlog"),
        new java.io.File(s"$root/branch_good/commitlog"))
      CommitLog.tryCommit(s"$root/branch_good", CommitLog.Entry(
        "producer", "update", s"$root/data/branch_good", upDays, 1L))
      // AUDIT the branch head, then PUBLISH: main gains the branch's
      // entry (same dataPath — zero bytes move)
      val audit = wapAudit(spark, e.schema, s"$root/data/branch_good",
        spark.read.schema(e.schema).parquet(s"$root/data/base")
          .filter(col("dom").between(6, 7)).count())
      graft.ops.Expectations.enforceFail(audit)
      CommitLog.tryCommit(s"$root/main", CommitLog.Entry("publisher",
        "publish", s"$root/data/branch_good", upDays, 1L))
    }
  }

  def wap(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val root = ensureWap(spark, dir)
    val e = clogEvents(spark, dir).filter(col("dom") <= 10)
    val upDays = daysIn(e, col("dom").between(6, 7))
    val expectedRows = spark.read.schema(e.schema).parquet(s"$root/data/base")
      .filter(col("dom").between(6, 7)).count()
    // the BAD branch's audit + refused publish — re-proven every run
    VersionChain.rmTree(new java.io.File(s"$root/branch_bad"))
    VersionChain.cpTree(new java.io.File(s"$root/main/commitlog"),
      new java.io.File(s"$root/branch_bad/commitlog"))
    CommitLog.tryCommit(s"$root/branch_bad", CommitLog.Entry(
      "corruptor", "update", s"$root/data/branch_bad", upDays,
      CommitLog.latestCommitted(s"$root/branch_bad")))
    val badAudit = wapAudit(spark, e.schema, s"$root/data/branch_bad", expectedRows)
    val refused = scala.util.Try(
      graft.ops.Expectations.enforceFail(badAudit)) match {
      case scala.util.Failure(_: graft.ops.Expectations.ExpectationViolated)
        => "refused"
      case scala.util.Failure(ex) => throw ex
      case scala.util.Success(_) => "published" // hash-fails
    }
    // the GOOD audit re-runs under the hash too (its zeros are
    // computed, not asserted)
    val goodAudit = wapAudit(spark, e.schema, s"$root/data/branch_good",
      expectedRows)
    val goodOutcome = scala.util.Try(
      graft.ops.Expectations.enforceFail(goodAudit)) match {
      case scala.util.Success(_) => "pass"
      case scala.util.Failure(_) => "failed" // hash-fails
    }
    val mainHead = CommitLog.latestCommitted(s"$root/main")
    def triple(step: String, outcome: String, ver: Long,
               path: String): DataFrame =
      stepStats(spark.read.schema(e.schema).parquet(path), step, outcome, ver)
    val log = CommitLog.readLog(s"$root/main").toMap
    def violRow(step: String, outcome: String, ver: Long,
                audit: Seq[(String, String, Long)]) = {
      val viol = audit.filter(_._3 > 0)
      (step, outcome, ver, viol.map(_._3).sum,
        graft.functions.Poly.hashBytes(
          viol.map(_._1).sorted.mkString(",")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          graft.functions.Poly.Base),
        viol.size.toLong)
    }
    val auditRows = spark.createDataFrame(Seq(
      violRow("3_audit_good", goodOutcome, 2L, goodAudit),
      violRow("5_audit_bad", refused, -1L, badAudit)
    )).toDF("step", "outcome", "version", "n_rows", "xor_hash", "vc_sum")
    triple("1_main_base", "commit", 1L, log(1L).dataPath)
      .unionAll(triple("2_branch_good", "commit", 2L,
        s"$root/data/branch_good"))
      .unionAll(triple("4_published", "publish", 2L, log(2L).dataPath))
      .unionAll(triple("6_main_head", "head", mainHead,
        log(mainHead).dataPath))
      .unionAll(auditRows)
      .orderBy("step")
  }

  private val wapSql = {
    val cn = OracleSqlFrag.poly("'chk_nonneg'")
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 10),
       |good AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 4 = 0 THEN vc + 50 ELSE vc END AS vc
       |  FROM e WHERE dom BETWEEN 6 AND 7),
       |rows_ AS (
       |  ${stepStatsSql("1_main_base", "commit", 1L, "e")}
       |  UNION ALL
       |  ${stepStatsSql("2_branch_good", "commit", 2L, "good")}
       |  UNION ALL
       |  SELECT '3_audit_good', 'pass', 2, 0, 0, 0
       |  UNION ALL
       |  ${stepStatsSql("4_published", "publish", 2L, "good")}
       |  UNION ALL
       |  SELECT '5_audit_bad', 'refused', -1,
       |    (SELECT COUNT(*) FROM e
       |     WHERE dom BETWEEN 6 AND 7 AND event_id % 5 = 0),
       |    CAST($cn AS BIGINT), 1
       |  UNION ALL
       |  ${stepStatsSql("6_main_head", "head", 2L, "good")})
       |SELECT step, outcome, version, n_rows, xor_hash, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  // --------------------------------------- checkpoint fold + expiry

  /** `q_checkpoint_fold` — LOG CHECKPOINT + HISTORY EXPIRY under the
    * driver hash (round 17 — the lifecycle CommitLogSpec pins
    * structurally, surfaced as a first-class operator; Delta's
    * checkpoint.parquet + log retention distilled): three committed
    * batches are folded into one `ckpt_v3.tsv`, their slots are
    * PHYSICALLY DELETED (`expireBelow`), and the resolved table read
    * THROUGH the checkpoint must reproduce the pre-expiry read
    * bit-for-bit — the oracle derives both from raw events, so a fold
    * that dropped a partition, resolved the wrong owner, or read below
    * the horizon silently hash-fails. A post-expiry commit then lands
    * at v4: slot numbering stays monotone past the checkpoint (a
    * reused slot number would corrupt every version-keyed read).
    *
    * Scale shape: the checkpoint is |partitions| lines; expiry
    * deletes |slots| directories; the post-expiry read folds
    * |partitions| checkpoint rows + slots after it instead of the
    * whole history — the property that keeps commit-log reads O(live)
    * rather than O(lifetime). */
  private def checkpointFold(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    import graft.ops.CommitLog.Entry
    val root = ensureStreamCommitData(spark, dir)
    val e = clogEvents(spark, dir)
    val logRoot = s"$root/ckptlog"
    VersionChain.rmTree(new java.io.File(logRoot))
    (0L to 2L).foreach { b =>
      CommitLog.tryCommit(logRoot, Entry(s"w$b", "ingest",
        s"$root/data/b$b", daysIn(e, streamBatchCond(b)), b))
    }
    def resolvedStats(step: String, ver: Long): DataFrame = {
      val paths = CommitLog.resolvePartitions(logRoot)
        .values.map(_._2).toSeq.distinct.sorted
      paths.map(spark.read.schema(e.schema).parquet(_)).reduce(_ unionAll _)
        .withColumn("h", rowHash)
        .select(Num.digest(col("h"), col("vc"), "n_rows", "xor_hash", "vc_sum"): _*)
        .select(lit(step).as("step"), lit(ver).as("version"),
          col("n_rows"), col("xor_hash"), col("vc_sum"))
    }
    val pre = resolvedStats("1_pre_expiry",
      CommitLog.stableVersion(logRoot))
    val ckptV = CommitLog.checkpoint(logRoot)
    val swept = CommitLog.expireBelow(logRoot, ckptV)
    require(swept == Seq(1L, 2L, 3L), s"expiry swept $swept")
    val expiredRow = spark.range(1)
      .select(lit("2_expired").as("step"),
        lit(CommitLog.expiredBelow(logRoot)).as("version"),
        lit(swept.size.toLong).as("n_rows"), lit(0L).as("xor_hash"),
        lit(0L).as("vc_sum"))
    // the read THROUGH the checkpoint: slots are gone, content equal
    val post = resolvedStats("3_post_expiry", ckptV)
    // numbering stays monotone past the fold
    val v4 = CommitLog.tryCommit(logRoot, Entry("late", "meta",
      "derived", Seq("meta"), ckptV))
    val lateRow = spark.range(1)
      .select(lit("4_late_commit").as("step"), lit(v4).as("version"),
        lit(0L).as("n_rows"), lit(0L).as("xor_hash"),
        lit(0L).as("vc_sum"))
    pre.unionAll(expiredRow).unionAll(post).unionAll(lateRow)
      .orderBy("step")
  }

  private val checkpointFoldSql = {
    def stats(step: String, ver: Long) =
      s"""SELECT '$step' AS step, CAST($ver AS BIGINT) AS version,
         |  ${NumSql.digest(rowHashSql, "vc", "n_rows", "xor_hash", "vc_sum")}
         |FROM e""".stripMargin
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc
       |  FROM events),
       |rows_ AS (
       |  ${stats("1_pre_expiry", 3L)}
       |  UNION ALL
       |  SELECT '2_expired', 3, 3, 0, 0
       |  UNION ALL
       |  ${stats("3_post_expiry", 3L)}
       |  UNION ALL
       |  SELECT '4_late_commit', 4, 0, 0, 0)
       |SELECT step, version, n_rows, xor_hash, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  // --------------------------------------- exactly-once streaming MV

  /** `q_stream_mv` — DERIVED STATE under the exactly-once sink
    * (round 17 — the composition `q_stream_commit` enables): a
    * materialized aggregate (per event_type: n, Σvc) is maintained by
    * micro-batches, each delivery MERGING its delta into the previous
    * MV generation and committing the new generation through
    * [[graft.ops.StreamCommit]] — the batch's identity and the
    * derived state flip in one atomic entry. Then batch 1 is
    * RE-DELIVERED after batch 2 already folded (the crash-replay that
    * CORRUPTS an MV: re-merging b1's delta into the post-b2 view
    * double-counts every b1 row — appends merely duplicate, derived
    * state goes silently WRONG). The sink skips it, and the final MV
    * rows sit directly under the oracle hash (counts and sums per
    * event_type over ALL events — any double-fold inflates them).
    * The head version pins that no 4th commit landed.
    *
    * Scale shape: each delivery reads one delta + the |event_types|-
    * row previous MV (never the accumulated fact history); the MV
    * partition resolves newest-wins through the log. */
  private def streamMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{CommitLog, StreamCommit}
    val root = ensureStreamCommitData(spark, dir)
    val logRoot = s"$root/mvlog"
    VersionChain.rmTree(new java.io.File(logRoot))
    val ev = clogEvents(spark, dir).schema
    def mvAgg(df: DataFrame): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("vc_sum"))
    def deliver(bid: Long): Option[Long] =
      StreamCommit.commitBatch(logRoot, "mv_stream", bid, () => {
        val delta = mvAgg(spark.read.schema(ev).parquet(s"$root/data/b$bid"))
        val merged = CommitLog.resolvePartitions(logRoot).get("mv") match {
          case Some((_, prev)) =>
            spark.read.schema(delta.schema).parquet(prev).unionByName(delta)
              .groupBy("event_type")
              .agg(sum("n").as("n"), sum("vc_sum").as("vc_sum"))
          case None => delta
        }
        val path = s"$root/mv/gen$bid"
        merged.coalesce(1).write.mode("overwrite").parquet(path)
        (path, Seq("mv"))
      })
    def batchRow(step: String, bid: Long, ver: Long): DataFrame =
      spark.read.schema(ev).parquet(s"$root/data/b$bid")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("vc"), lit(0L)).as("vc_sum"))
        .select(lit(step).as("step"), lit("applied").as("outcome"),
          lit(ver).as("version"), col("n_rows"), col("vc_sum"))
    val vs = (0L to 2L).map(b => deliver(b)
      .getOrElse(sys.error(s"fresh batch $b must apply")))
    require(deliver(1L).isEmpty, "the re-delivered batch must skip")
    val headV = CommitLog.latestCommitted(logRoot)
    val (_, mvPath) = CommitLog.resolvePartitions(logRoot)("mv")
    val skipRow = spark.range(1)
      .select(lit("4_redeliver_b1").as("step"),
        lit("skipped").as("outcome"), lit(-1L).as("version"),
        lit(0L).as("n_rows"), lit(0L).as("vc_sum"))
    val mvRows = spark.read.schema(mvAgg(clogEvents(spark, dir)).schema)
      .parquet(mvPath)
      .select(concat(lit("z_mv_"), col("event_type")).as("step"),
        lit("head").as("outcome"), lit(headV).as("version"),
        col("n").as("n_rows"), col("vc_sum"))
    (0 to 2).map(b => batchRow(s"${b + 1}_apply_b$b", b.toLong, vs(b)))
      .reduce(_ unionAll _)
      .unionAll(skipRow)
      .unionAll(mvRows)
      .orderBy("step")
  }

  private val streamMvSql = {
    def bstats(step: String, ver: Long, cond: String) =
      s"""SELECT '$step' AS step, 'applied' AS outcome,
         |  CAST($ver AS BIGINT) AS version,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM(vc), 0) AS BIGINT) AS vc_sum
         |FROM e WHERE $cond""".stripMargin
    s"""WITH e AS (
       |  SELECT event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |rows_ AS (
       |  ${bstats("1_apply_b0", 1L, "dom <= 10")}
       |  UNION ALL
       |  ${bstats("2_apply_b1", 2L, "dom BETWEEN 11 AND 20")}
       |  UNION ALL
       |  ${bstats("3_apply_b2", 3L, "dom >= 21")}
       |  UNION ALL
       |  SELECT '4_redeliver_b1', 'skipped', -1, 0, 0
       |  UNION ALL
       |  SELECT 'z_mv_' || event_type, 'head', 3,
       |    CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(vc), 0) AS BIGINT)
       |  FROM e GROUP BY event_type)
       |SELECT step, outcome, version, n_rows, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  // ------------------------------------------------------ row tracking

  /** `q_row_tracking` — STABLE ROW IDENTITY across rewrites (round 17
    * — Delta row tracking / Iceberg row lineage, distilled): every
    * ingested row gets a `row_id` that SURVIVES every subsequent
    * rewrite — the primitive sample-level lineage needs (a training
    * pipeline attributing model behavior to examples must follow a
    * row through compactions and updates; keys can collide or be
    * re-used, identities cannot). The lifecycle under the hash:
    *
    *   1. INGEST assigns dense ids deterministically (rank by key —
    *      the `q_dp_count` derived-randomness convention, so the
    *      oracle replays the allocation) and records the id
    *      HIGH-WATER MARK.
    *   2. UPDATE (vc+100 on keys ≡0 mod 9) rewrites values; the
    *      logical row keeps its id — an update is the same row.
    *   3. INSERT appends fresh rows; their ids allocate ABOVE the
    *      high-water mark (rank by key, offset N) — never recycled,
    *      even if old rows were deleted.
    *   4. DELETE (keys ≡0 mod 13) retires ids with the row — a
    *      deleted id is never reassigned.
    *   5. COMPACT rewrites the whole table; every surviving
    *      (id, key, value) triple must ride through BIT-FOR-BIT.
    *
    * Each stage row hashes the full (row_id, key, vc) mapping plus
    * the id high-water mark; the oracle derives every stage from raw
    * events with ROW_NUMBER, so an id that drifted through any
    * rewrite, a recycled id, or an insert below the high-water mark
    * hash-fails.
    *
    * Scale shape: id assignment is one rank at ingest (at 100 TB:
    * per-file base ids + in-file offsets, Delta's layout — here the
    * dense rank keeps the oracle exact); carries are free (the id is
    * a column); the audit is one scan per stage. */
  /** Dense id assignment in the SCALABLE layout (Delta's per-file
    * base + in-file offset, here per-PARTITION): rank within each day
    * partition (a partitioned window — never a global sort of the
    * corpus) plus a broadcast day-base offset (|days| rows collected,
    * bounded). The result equals the global dense rank by
    * (day, key), which is what the oracle replays. */
  private def assignRowIds(df: DataFrame, offset: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val wDay = Window.partitionBy("day").orderBy("event_id")
    val counts = df.groupBy(col("day").cast("string").as("d"))
      .agg(count(lit(1)).as("n"))
      .orderBy("d").as[(String, Long)].collect() // bounded: |days|
    // each day's base = offset + cumulative count of PRIOR days
    val basesDf = counts.zip(
      counts.scanLeft(offset) { case (acc, (_, n)) => acc + n })
      .map { case ((d, _), base) => (d, base) }.toSeq
      .toDF("d", "base")
    df.withColumn("rk", row_number().over(wDay).cast("long"))
      .join(broadcast(basesDf),
        col("day").cast("string") === col("d"))
      .withColumn("row_id", col("base") + col("rk"))
      .select("row_id", "event_id", "vc", "day")
  }

  private def rowTracking(spark: SparkSession, dir: String): DataFrame = {
    val e = clogEvents(spark, dir).select("event_id", "vc", "day")
    // stage 1: ingest — dense ids by (day, key) rank, high-water = N
    val g0 = graft.ops.SideCache.persist(assignRowIds(e, 0L))
    val hiWater = g0.agg(max("row_id")).head().getLong(0)
    // stage 2: update in place — ids carried
    val gen1 = g0.withColumn("vc", col("vc") +
      when(col("event_id") % 9 === 0, lit(100L)).otherwise(lit(0L)))
    // stage 3: inserts allocate above the high-water mark
    val fresh = assignRowIds(
      e.filter(col("event_id") % 17 === 0)
        .select((col("event_id") + lit(1000000000L)).as("event_id"),
          (col("vc") + lit(7L)).as("vc"), col("day")),
      hiWater)
    val gen2 = gen1.unionByName(fresh)
    // stage 4: delete retires ids with the rows
    val gen3 = gen2.filter(col("event_id") % 13 =!= 0)
    // stage 5: compaction rewrite — the stored roundtrip must carry
    // every surviving (id, key, value) bit-for-bit
    val root = FixtureStore.root("rowtrack", dir)
    gen3.repartition(4).write.mode("overwrite").parquet(s"$root/compacted")
    val compacted = spark.read.schema(gen3.schema).parquet(s"$root/compacted")
    val h = graft.functions.F.polyHash(concat_ws("|",
      col("row_id"), col("event_id"), col("vc")))
    def stage(df: DataFrame, name: String): DataFrame =
      df.withColumn("h", h)
        .agg(coalesce(max("row_id"), lit(0L)).as("id_hi"),
          Num.digest(col("h"), col("vc"), "n_rows", "xor_map", "vc_sum"): _*)
        .select(lit(name).as("stage"), col("n_rows"), col("id_hi"),
          col("xor_map"), col("vc_sum"))
    stage(g0, "1_ingest")
      .unionAll(stage(gen1, "2_updated"))
      .unionAll(stage(gen2, "3_inserted"))
      .unionAll(stage(gen3, "4_deleted"))
      .unionAll(stage(compacted, "5_compacted"))
      .orderBy("stage")
  }

  private val rowTrackingSql = {
    val h = OracleSqlFrag.poly(
      "CAST(row_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)" +
        " || '|' || CAST(vc AS VARCHAR)")
    def stage(name: String, rel: String) =
      s"""SELECT '$name' AS stage,
         |  CAST(COALESCE(MAX(row_id), 0) AS BIGINT) AS id_hi,
         |  ${NumSql.digest(h, "vc", "n_rows", "xor_map", "vc_sum")}
         |FROM $rel""".stripMargin
    s"""WITH e AS (
       |  SELECT event_id, COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day
       |  FROM events),
       |g0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day, event_id)
       |      AS BIGINT) AS row_id, event_id, vc
       |  FROM e),
       |hw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
       |g1 AS (
       |  SELECT row_id, event_id,
       |    CASE WHEN event_id % 9 = 0 THEN vc + 100 ELSE vc END AS vc
       |  FROM g0),
       |fresh AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day, event_id) + hw.n
       |      AS BIGINT) AS row_id,
       |    event_id + 1000000000 AS event_id, vc + 7 AS vc
       |  FROM (SELECT event_id, vc, day FROM e WHERE event_id % 17 = 0),
       |    hw),
       |g2 AS (SELECT * FROM g1 UNION ALL SELECT * FROM fresh),
       |g3 AS (SELECT * FROM g2 WHERE event_id % 13 <> 0),
       |rows_ AS (
       |  ${stage("1_ingest", "g0")}
       |  UNION ALL
       |  ${stage("2_updated", "g1")}
       |  UNION ALL
       |  ${stage("3_inserted", "g2")}
       |  UNION ALL
       |  ${stage("4_deleted", "g3")}
       |  UNION ALL
       |  ${stage("5_compacted", "g3")})
       |SELECT stage, n_rows, id_hi, xor_map, vc_sum
       |FROM rows_ ORDER BY stage""".stripMargin
  }

  // ------------------------------------------------- commit feed read

  /** `q_commit_feed` — the COMMIT LOG READ AS A SOURCE
    * ([[graft.io.CommitFeedSourceV2]], round 17 — Delta's streaming
    * source distilled to its metadata half, closing the READ seam the
    * exactly-once sink (`q_stream_commit`) closed for writes): the
    * stored three-writer commit scenario (`ensureCommitLog` — the
    * same fixture `q_commit_log` certifies) is read back THROUGH the
    * DSv2 connector (`spark.read.format("commitfeed")`), one row per
    * (committed entry, touched day partition), folded to one row per
    * version (writer, op, partition count, first/last day, the
    * version-derived commit timestamp). The oracle derives every
    * column from raw events + the timestamp scheme, so a feed that
    * missed a commit, leaked an aborted claim, exploded partitions
    * wrong, or mis-stamped a version hash-fails. CommitFeedSpec runs
    * the STREAMING half: micro-batches tail live commits with
    * checkpointed offsets, a kill/restart never re-delivers or skips,
    * and `latestOffset` provably refuses to advance past an
    * unresolved claim (the read-side stable-version guarantee).
    *
    * Scale shape: the feed is metadata — kilobytes per batch at any
    * table size, materialized driver-side at plan time; the fold here
    * is |entries·partitions| rows. */
  private def commitFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureCommitLog(spark, dir)
    spark.read.format("commitfeed").load(root)
      .groupBy("version", "writer", "op", "ts")
      .agg(count(lit(1)).as("n_parts"),
        min("partition").as("d_min"), max("partition").as("d_max"))
      .select("version", "writer", "op", "n_parts", "d_min", "d_max",
        "ts")
      .orderBy("version")
  }

  private val commitFeedSql = {
    def row(v: Long, writer: String, op: String, cond: String) =
      s"""SELECT CAST($v AS BIGINT) AS version, '$writer' AS writer,
         |  '$op' AS op,
         |  CAST(COUNT(DISTINCT day) AS BIGINT) AS n_parts,
         |  CAST(MIN(day) AS VARCHAR) AS d_min,
         |  CAST(MAX(day) AS VARCHAR) AS d_max,
         |  CAST(${graft.ops.CommitLog.CommitEpoch} + $v * 3600
         |    AS BIGINT) AS ts
         |FROM e WHERE $cond""".stripMargin
    s"""WITH e AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |rows_ AS (
       |  ${row(1L, "ingest", "ingest", "1=1")}
       |  UNION ALL
       |  ${row(2L, "sweeper", "purge5", "dom <= 10")}
       |  UNION ALL
       |  ${row(3L, "updater", "bump3", "dom >= 21")})
       |SELECT version, writer, op, n_parts, d_min, d_max, ts
       |FROM rows_ ORDER BY version""".stripMargin
  }

  // ------------------------------------------- feed-driven replica

  /** `q_feed_replica` — INCREMENTAL REPLICA THROUGH THE FEED (round
    * 18, closes r17 verdict #5: the commit feed had no data-plane
    * consumer under the hash): the replication composition a
    * downstream system runs — tail the feed, join `data_path` to the
    * storage tier, maintain a derived copy — folded version by
    * version over the stored three-writer scenario. The feed rows
    * come THROUGH the `commitfeed` connector (batch mode — the same
    * replayable prefix the stream consumes); the ownership map is
    * maintained INCREMENTALLY (each version's rows update only the
    * partitions that version touched — commit-proportional, the
    * 100 TB shape); and after EVERY version the replica's content
    * stats sit under the oracle hash: after v1 the pure ingest view,
    * after v2 ingest+sweep, after v3 the fully resolved table. A feed
    * that missed a commit, applied one twice, or resolved the wrong
    * owner diverges at some prefix and hash-fails. CommitFeedSpec
    * runs the STREAMING twin end-to-end (real foreachBatch, real
    * parquet replica, kill/restart).
    *
    * Scale shape: the feed fold is |entries·partitions| metadata rows
    * driver-side; each prefix's audit is one multi-path pruned scan —
    * production keeps only the newest prefix (the audit ladder is the
    * certificate, not the steady state). */
  private def feedReplica(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureCommitLog(spark, dir)
    // the feed, in version order — one row per (entry, partition)
    val feed = spark.read.format("commitfeed").load(root)
      .select("version", "data_path", "partition")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val versions = feed.map(_._1).distinct.sorted
    // incremental ownership fold: version v's rows replace exactly
    // the partitions v touched
    val replica = scala.collection.mutable.Map.empty[String, String]
    val prefixes = versions.map { v =>
      feed.filter(_._1 == v).foreach { case (_, dp, p) => replica(p) = dp }
      (v, replica.toMap)
    }
    val staged = clogStaged(clogEvents(spark, dir)).schema
    def stats(v: Long, owners: Map[String, String]): DataFrame =
      spark.read.schema(staged).parquet(owners.toSeq.map { case (p, dp) =>
          s"$root/$dp/pday=$p"
        }.sorted: _*)
        .select(clogDigest: _*)
        .select(lit(s"after_v$v").as("step"),
          lit(owners.size.toLong).as("n_parts"), col("n_rows"),
          col("key_xor"), col("vc_sum"))
    prefixes.map { case (v, owners) => stats(v, owners) }
      .reduce(_ unionAll _)
      .orderBy("step")
  }

  private val feedReplicaSql = {
    def stats(step: String, rel: String) =
      s"""SELECT '$step' AS step,
         |  (SELECT COUNT(DISTINCT day) FROM e) AS n_parts, $clogDigestSql
         |FROM $rel""".stripMargin
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |v2view AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom > 10),
       |v3view AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom BETWEEN 11 AND 20
       |  UNION ALL
       |  SELECT event_id,
       |    CASE WHEN event_id % 3 = 0 THEN vc + 7 ELSE vc END
       |  FROM e WHERE dom >= 21),
       |rows_ AS (
       |  ${stats("after_v1", "e")}
       |  UNION ALL
       |  ${stats("after_v2", "v2view")}
       |  UNION ALL
       |  ${stats("after_v3", "v3view")})
       |SELECT step, n_parts, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  // ---------------------------------------- versioned-table connector

  /** `q_lake_read` — THE VERSIONED TABLE THROUGH `spark.read`
    * ([[graft.io.GraftLakeDataSource]]; round 18, closes r17 verdict
    * #1: the lakehouse tier was Scala-API-only): the commit-log table
    * is served by the `graftlake` connector — a commit-log-driven
    * FileIndex under a native parquet relation (Delta's read-path
    * shape), so partition pruning, parquet pushdown, and vectorized
    * scans all apply — and every row of this readout crosses it:
    *
    *   - `1_head`: the connector's DEFAULT read (the stable head)
    *     must equal the resolved table — days 1–10 from the sweeper,
    *     11–20 from ingest, 21–30 from the updater;
    *   - `2_asof1`: `versionAsOf=1` — the pure-ingest snapshot AFTER
    *     v2/v3 landed (snapshot-isolation time travel through the
    *     connector);
    *   - `3_pruned`: a `pday` day-of-month filter on the head read —
    *     partition PRUNING through the connector (the FileIndex drops
    *     the other ~26 day directories before listing them; the spec
    *     asserts the executed-plan numFiles, the hash certifies the
    *     surviving content);
    *   - `4_ts2`: `timestampAsOf` at v2's commit stamp — the
    *     timestamp-keyed twin;
    *   - `5_layered`: a key-domain LAYERED partition (two disjoint
    *     concurrent MERGEs over one partition) read through the
    *     connector with `keyColumn` — merge-on-read materialization,
    *     bit-equal to the oracle's independent MERGE arithmetic.
    *
    * Scale shape: resolution is the log's metadata fold; pruning cuts
    * listStatus to surviving partitions; the layered materialization
    * is paid once per layer stack (content-keyed cache) — every
    * subsequent read at any filter serves cached parquet. */
  /** The single-partition LAYERED log over the mergeConc staged data
    * (v1 base, v2 merge [0,q1], v3 merge [q3+1,max]) — shared by
    * `q_lake_read`'s layered leg and `q_cdc_read`'s layer-derived
    * change legs. Content-keyed: rebuilt only when absent. */
  private def ensureLakeLayerLog(spark: SparkSession, dir: String): String = {
    import graft.ops.CommitLog
    import graft.ops.CommitLog.Entry
    val mcRoot = ensureMergeConc(spark, dir)
    val e = clogEvents(spark, dir).select("event_id", "event_type", "vc")
    val (q1, q3, mx) = mergeConcSplit(e)
    val lakeLog = s"$mcRoot/log_lake"
    // a log nested in the mergeconc root: written under that root's lock
    FixtureStore.locked(mcRoot) {
      if (CommitLog.committedVersions(lakeLog) != Seq(1L, 2L, 3L)) {
        VersionChain.rmTree(new java.io.File(lakeLog))
        CommitLog.tryCommit(lakeLog, Entry("ingest", "ingest",
          s"$mcRoot/data/base", Seq("events"), 0L))
        CommitLog.tryCommit(lakeLog, Entry("m_low", "merge",
          s"$mcRoot/data/low", Seq("events"), 1L,
          keyDomains = Map("events" -> Seq((0L, q1)))))
        CommitLog.tryCommit(lakeLog, Entry("m_high", "merge",
          s"$mcRoot/data/high", Seq("events"), 1L,
          keyDomains = Map("events" -> Seq((q3 + 1, mx)))))
      }
    }
    lakeLog
  }

  private def lakeRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    import graft.ops.CommitLog.Entry
    val root = ensureCommitLog(spark, dir)
    def lk(opts: (String, String)*): DataFrame =
      opts.foldLeft(spark.read.format("graftlake")
          .option("partitionColumn", "pday")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(root)
    // the layered leg: a fresh single-partition log over the
    // mergeConc staged data — two disjoint-range MERGEs layered on
    // the base, read through the connector's merge-on-read path
    val lakeLog = ensureLakeLayerLog(spark, dir)
    val layered = spark.read.format("graftlake")
      .option("keyColumn", "event_id").load(lakeLog)
    clogStats(lk(), "1_head")
      .unionAll(clogStats(lk("versionAsOf" -> "1"), "2_asof1"))
      .unionAll(clogStats(lk().filter(
        dayofmonth(to_date(col("pday"))).between(5, 8)), "3_pruned"))
      .unionAll(clogStats(lk("timestampAsOf" ->
        s"${CommitLog.commitTimestamp(2L)}"), "4_ts2"))
      .unionAll(clogStats(layered, "5_layered"))
      .orderBy("step")
  }

  private val lakeReadSql = {
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |resolved AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom BETWEEN 11 AND 20
       |  UNION ALL
       |  SELECT event_id,
       |    CASE WHEN event_id % 3 = 0 THEN vc + 7 ELSE vc END
       |  FROM e WHERE dom >= 21),
       |asof2 AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom > 10),
       |pruned AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom BETWEEN 5 AND 8 AND event_id % 5 <> 0),
       |qs AS (SELECT CAST(MAX(event_id) // 4 AS BIGINT) AS q1,
       |         CAST(3 * MAX(event_id) // 4 AS BIGINT) AS q3,
       |         CAST(MAX(event_id) AS BIGINT) AS mx
       |       FROM e),
       |merged AS (
       |  SELECT event_id, vc FROM e, qs
       |  WHERE event_id > q1 AND event_id <= q3
       |  UNION ALL
       |  SELECT event_id,
       |    CASE WHEN event_id % 7 = 0 THEN vc + 100 ELSE vc END
       |  FROM e, qs
       |  WHERE event_id BETWEEN 0 AND q1 AND event_id % 13 <> 0
       |  UNION ALL
       |  SELECT event_id,
       |    CASE WHEN event_id % 5 = 0 THEN vc - 50 ELSE vc END
       |  FROM e, qs WHERE event_id BETWEEN q3 + 1 AND mx),
       |rows_ AS (
       |  ${clogStatsSql("1_head", "resolved")}
       |  UNION ALL
       |  ${clogStatsSql("2_asof1", "e")}
       |  UNION ALL
       |  ${clogStatsSql("3_pruned", "pruned")}
       |  UNION ALL
       |  ${clogStatsSql("4_ts2", "asof2")}
       |  UNION ALL
       |  ${clogStatsSql("5_layered", "merged")})
       |SELECT step, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  /** `q_lake_write` — THE CONNECTOR WRITE PATH UNDER THE HASH
    * (round 18, the oracled twin of GraftLakeSpec's write tests):
    * three `df.write.format("graftlake")` commits build a table and
    * every historical state is read back THROUGH the connector:
    *
    *   - v1: full OVERWRITE (30 day partitions, hive `pday` layout);
    *   - v2: dynamic partition overwrite of days 1–10 only (the
    *     sweep: event_id ≡0 mod 5 purged) — days 11–30 ride along by
    *     reference, untouched owners;
    *   - v3: APPEND into days 21–30 (fresh ids +10⁹, vc+7) — the
    *     partition-granular read-modify-write: appended partitions
    *     carry old ∪ new, everything else untouched;
    *   - readout: (n_rows, key_xor, vc_sum) at versionAsOf 1, 2, and
    *     the head — all derived independently by the oracle, so a
    *     write that dropped a carried partition, double-applied an
    *     append, or broke time travel hash-fails.
    *
    * Content-keyed: the log builds once per dataset (a FixtureStore
    * root valid while committedVersions == 1,2,3); every run re-reads through the
    * connector. Scale shape: overwrite stages only the partitions it
    * carries; append re-reads only the touched partitions. */
  /** Build (once, content-keyed) the 3-version connector-write table:
    * v1 full overwrite, v2 dynamic-partition sweep of days 1–10, v3
    * append into days 21–30 — plus the `_lake_table.tsv` sidecar that
    * makes it loadable through [[graft.io.GraftLakeCatalog]]. Shared by
    * `q_lake_write` and `q_lake_sql` (the SQL twin reads the same
    * committed table through the catalog, named by the root's dir). */
  def ensureLakeWrite(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("lakewrite", dir, valid = root =>
      graft.ops.CommitLog.committedVersions(root) == Seq(1L, 2L, 3L)) { root =>
      val e = clogEvents(spark, dir)
        .select(col("event_id"), col("vc"), col("dom"),
          col("day").cast("string").as("pday"))
      def put(df: DataFrame, mode: String, writer: String): Unit =
        df.select("event_id", "vc", "pday")
          .write.format("graftlake").option("partitionColumn", "pday")
          .option("writer", writer).mode(mode).save(root)
      put(e, "overwrite", "ingest")
      put(e.filter(col("dom") <= 10 && col("event_id") % 5 =!= 0),
        "overwrite", "sweeper")
      put(e.filter(col("dom") >= 21)
        .select((col("event_id") + 1000000000L).as("event_id"),
          (col("vc") + 7L).as("vc"), col("pday")),
        "append", "appender")
      require(graft.ops.CommitLog.committedVersions(root) == Seq(1L, 2L, 3L),
        "lake-write scenario landed at unexpected versions")
      java.nio.file.Files.writeString(
        new java.io.File(root, "_lake_table.tsv").toPath,
        "partitionColumn\tpday\n")
    }

  private def lakeWrite(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureLakeWrite(spark, dir)
    def at(v: Long): DataFrame = spark.read.format("graftlake")
      .option("partitionColumn", "pday")
      .option("versionAsOf", v.toString).load(root)
    clogStats(at(1L), "1_overwrite")
      .unionAll(clogStats(at(2L), "2_sweep"))
      .unionAll(clogStats(at(3L), "3_append"))
      .orderBy("step")
  }

  private val lakeWriteSql = {
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |v2 AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom > 10),
       |v3 AS (
       |  SELECT * FROM v2
       |  UNION ALL
       |  SELECT event_id + 1000000000, vc + 7 FROM e WHERE dom >= 21),
       |rows_ AS (
       |  ${clogStatsSql("1_overwrite", "e")}
       |  UNION ALL
       |  ${clogStatsSql("2_sweep", "v2")}
       |  UNION ALL
       |  ${clogStatsSql("3_append", "v3")})
       |SELECT step, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  /** `q_lake_sql` — THE LAKEHOUSE THROUGH PURE SQL
    * ([[graft.io.GraftLakeCatalog]] + the V2→V1 conversion rule;
    * round 19, closes r18 verdict #1: the connector was
    * DataFrame/temp-view only — a SQL user had no `VERSION AS OF`,
    * no `INSERT INTO`): the catalog serves [[graft.ops.CommitLog]]
    * tables as `lake.<name>`, planning over the SAME commit-log
    * FileIndex as the options path (GraftLakeSqlSpec pins identical
    * pruning/stats), and every row of this readout crosses it:
    *
    *   - `1_head_sql`: `SELECT … FROM lake.t` — the stable head,
    *     bit-equal to `q_lake_write`'s `3_append` state;
    *   - `2_asof_sql`: `… VERSION AS OF 1` — SQL time travel to the
    *     pure-ingest snapshot;
    *   - `3_ts_sql`: `… TIMESTAMP AS OF <v2's commit stamp>` — the
    *     timestamp-keyed twin, floored to v2 (the sweep);
    *   - `4_insert_sql`: a fresh per-run table (v1 via the DataFrame
    *     writer, days 1–5) grown by `INSERT INTO … SELECT` (days 6–8,
    *     fresh ids +10⁹, vc+7) through the DSv2 V1Write fallback →
    *     the connector's optimistic-commit append — the readout is
    *     the head AFTER the SQL insert, derived independently by the
    *     oracle;
    *   - `5_delete_sql`: `DELETE FROM … WHERE pday = <day 3>` on the
    *     same table — the PARTITION-GRANULAR metadata-only delete
    *     ([[graft.io.GraftLakeTable]]'s `SupportsDelete`): one empty-
    *     owner commit, and the readout after it must drop exactly day
    *     3's rows while every other partition (original and inserted)
    *     rides along — a delete that leaked rows, dropped a neighbor,
    *     or rewrote data hash-fails.
    *
    * Scale shape: identical to the connector's (the SQL surface adds
    * only analysis-time conversion — no new exchanges, no new scans);
    * the insert is the write path's delta-proportional append; the
    * delete is one metadata commit at any table size. */
  private def lakeSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val root = ensureLakeWrite(spark, dir)
    val catRoot = new java.io.File(root).getParent
    spark.conf.set("spark.sql.catalog.lake", "graft.io.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.lake.root", catRoot)
    val t = s"lake.`${new java.io.File(root).getName}`"
    // v2's logical commit stamp as a UTC SQL timestamp literal
    val ts2 = java.time.Instant
      .ofEpochSecond(CommitLog.commitTimestamp(2L)).toString
      .replace("T", " ").replace("Z", "")
    // the INSERT leg: a per-run table (deterministic versions under
    // the hash), grown through SQL
    val insRoot = FixtureStore.root("lakesql_ins", dir)
    val insName = new java.io.File(insRoot).getName
    VersionChain.rmTree(new java.io.File(insRoot))
    val e = clogEvents(spark, dir)
      .select(col("event_id"), col("vc"), col("dom"),
        col("day").cast("string").as("pday"))
    e.filter(col("dom") <= 5).select("event_id", "vc", "pday")
      .write.format("graftlake").option("partitionColumn", "pday")
      .option("writer", "seed").mode("overwrite").save(insRoot)
    java.nio.file.Files.writeString(
      new java.io.File(insRoot, "_lake_table.tsv").toPath,
      "partitionColumn\tpday\n")
    e.filter(col("dom").between(6, 8))
      .select((col("event_id") + 1000000000L).as("event_id"),
        (col("vc") + 7L).as("vc"), col("pday"))
      .createOrReplaceTempView("lake_sql_ins_src")
    spark.sql(s"INSERT INTO lake.`$insName` " +
      "SELECT event_id, vc, pday FROM lake_sql_ins_src")
    require(CommitLog.committedVersions(insRoot) == Seq(1L, 2L),
      "the SQL insert must land exactly one commit")
    val insertStats = clogStats(spark.sql(s"SELECT * FROM lake.`$insName`"),
      "4_insert_sql").localCheckpoint(true) // BEFORE the delete mutates
    // the partition-granular SQL DELETE: day 3's hive value, looked up
    // from the data (one 1-row driver agg)
    val day3 = e.filter(col("dom") === 3)
      .agg(max("pday")).head().getString(0)
    spark.sql(s"DELETE FROM lake.`$insName` WHERE pday = '$day3'")
    require(CommitLog.committedVersions(insRoot) == Seq(1L, 2L, 3L),
      "the SQL delete must land exactly one commit")
    clogStats(spark.sql(s"SELECT * FROM $t"), "1_head_sql")
      .unionAll(clogStats(spark.sql(s"SELECT * FROM $t VERSION AS OF 1"),
        "2_asof_sql"))
      .unionAll(clogStats(spark.sql(
        s"SELECT * FROM $t TIMESTAMP AS OF '$ts2'"), "3_ts_sql"))
      .unionAll(insertStats)
      .unionAll(clogStats(spark.sql(s"SELECT * FROM lake.`$insName`"),
        "5_delete_sql"))
      .orderBy("step")
  }

  private val lakeSqlSql = {
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |v2 AS (
       |  SELECT event_id, vc FROM e
       |  WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT event_id, vc FROM e WHERE dom > 10),
       |v3 AS (
       |  SELECT * FROM v2
       |  UNION ALL
       |  SELECT event_id + 1000000000, vc + 7 FROM e WHERE dom >= 21),
       |ins AS (
       |  SELECT event_id, vc, dom FROM e WHERE dom <= 5
       |  UNION ALL
       |  SELECT event_id + 1000000000, vc + 7, dom FROM e
       |  WHERE dom BETWEEN 6 AND 8),
       |rows_ AS (
       |  ${clogStatsSql("1_head_sql", "v3")}
       |  UNION ALL
       |  ${clogStatsSql("2_asof_sql", "e")}
       |  UNION ALL
       |  ${clogStatsSql("3_ts_sql", "v2")}
       |  UNION ALL
       |  ${clogStatsSql("4_insert_sql", "ins")}
       |  UNION ALL
       |  ${clogStatsSql("5_delete_sql", "(SELECT * FROM ins WHERE dom <> 3)")})
       |SELECT step, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  /** `q_lake_read_dv` — DELETION VECTORS THROUGH THE CONNECTOR
    * (round 19, closes r18 verdict #2: `q_merge_dv`'s mask-plus-append
    * resolution was a hand-built read — the connector itself could not
    * serve a DV-carrying table): a DV commit is a KEY-DOMAIN LAYER
    * entry whose staged artifact is `keys/` (tombstones: delete keys +
    * update pre-image keys) and `rows/` (post-images + inserts) — the
    * [[graft.ops.LakeRead.isDvLayer]] shape. The connector's layered
    * materialization then resolves it as
    * base ⟕anti broadcast(keys) ∪ rows — `q_merge_dv`'s arithmetic
    * recovered from the log, cached content-keyed like any layer
    * stack, served through the same native parquet scan:
    *
    *   - `1_masked`: the connector HEAD read of the DV-carrying table
    *     (same logical MERGE as `q_merge_dv`: deletes ≡0 mod 13,
    *     updates ≡3 mod 10 +500, fresh-key inserts, hot-tail
    *     localized) — bit-equal to the oracle's independent MERGE
    *     derivation, so a tombstone served, a double-applied update,
    *     or a lost insert hash-fails;
    *   - `2_base`: `versionAsOf=1` — the pre-DV snapshot, proving
    *     time travel composes under DV layers.
    *
    * DvConnectorSpec pins the rest: connector-read ≡ the `q_merge_dv`
    * compaction (gen1) bit-for-bit, deleted keys never served, the
    * masked materialization plans a BROADCAST ANTI-JOIN (tombstones
    * small by law), and the cache is reused across reads.
    *
    * Scale shape: the DV commit is delta-proportional metadata + keys;
    * the masked read adds one broadcast anti-join to the scan, paid
    * once per layer stack (content-keyed cache); compaction stays the
    * steady-state answer and [[graft.ops.Reorganize]] patches DV
    * rivals commutatively. */
  private def lakeReadDv(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    import graft.ops.CommitLog.Entry
    val mcRoot = ensureMergeDv(spark, dir)
    val root = FixtureStore.ensure("dvlake", dir,
        parts = Seq("data/dv1/keys"),
        valid = r => CommitLog.committedVersions(r) == Seq(1L, 2L)) { root =>
      spark.read.parquet(s"$mcRoot/gen0")
        .select("custkey", "nation", "bal")
        .write.mode("overwrite").parquet(s"$root/data/base")
      val keys = spark.read.parquet(s"$mcRoot/dv/v2").select("custkey")
      keys.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/data/dv1/keys")
      val rows = spark.read.parquet(s"$mcRoot/append/v2")
        .select("custkey", "nation", "bal")
      rows.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/data/dv1/rows")
      // the entry's conflict domain: the hull of every touched key
      // (tombstones ∪ appended) — one tiny agg over the delta
      val hull = spark.read.schema(keys.schema).parquet(s"$root/data/dv1/keys")
        .unionByName(spark.read.schema(rows.schema).parquet(s"$root/data/dv1/rows")
          .select("custkey"))
        .agg(min("custkey"), max("custkey")).head()
      CommitLog.tryCommit(root, Entry("ingest", "ingest", "data/base",
        Seq("customers"), 0L))
      CommitLog.tryCommit(root, Entry("dv_merge", "dv", "data/dv1",
        Seq("customers"), 1L,
        keyDomains = Map("customers" ->
          Seq((hull.getLong(0), hull.getLong(1))))))
    }
    def stats(df: DataFrame, step: String): DataFrame =
      df.select(mergeDigest: _*)
        .select(lit(step).as("step"), col("n_rows"), col("key_xor"),
          col("bal_sum"))
    def at(opts: (String, String)*): DataFrame =
      opts.foldLeft(spark.read.format("graftlake")
          .option("keyColumn", "custkey")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(root)
    stats(at(), "1_masked")
      .unionAll(stats(at("versionAsOf" -> "1"), "2_base"))
      .orderBy("step")
  }

  // lazy: mergeCte is declared later in the file (referenced before
  // definition in object-initialization order)
  private lazy val lakeReadDvSql =
    s"""$mergeCte,
       |finalc AS (
       |  SELECT custkey, bal FROM carried
       |  UNION ALL SELECT custkey, bal FROM gen1),
       |rows_ AS (
       |  SELECT '1_masked' AS step, $mergeDigestSql FROM finalc
       |  UNION ALL
       |  SELECT '2_base', $mergeDigestSql FROM base)
       |SELECT step, n_rows, key_xor, bal_sum
       |FROM rows_ ORDER BY step""".stripMargin

  /** `q_cdc_read` — ROW-LEVEL `table_changes(from, to)` OVER THE LAKE
    * ([[graft.io.GraftLakeSource.tableChanges]]; round 19, closes r18
    * verdict #3: `q_commit_feed` served the metadata plane and
    * `q_cdf_read` a hand-built chain — the CONNECTOR's log had no
    * row-level change read): every commit in the window contributes
    * its delta tagged (change_type, _commit_version), composed from
    * the three stored planes and verified against an oracle REPLAY of
    * the same history:
    *
    *   - HIVE leg (`table_changes(0, 3)`, `_cdc` sidecars): v1 full
    *     ingest → SYNTHESIZED inserts (an insert-only commit's feed
    *     is its own data, never double-written); v2 sweep overwrite
    *     written with `changeFeed` → stored retract(old days 1–10) +
    *     assert(kept); v3 append → stored inserts (+10⁹ ids, vc+7);
    *   - LAYER leg (`table_changes(1, 3)` on the shared layered log):
    *     the MERGE commits store only their key-domain layers, so the
    *     feed is DERIVED — pre-image = the layered view at v−1
    *     restricted to the domain, post = the layer: update_pre/
    *     update_post pairs for matched keys, removes for dropped keys
    *     (v2's ≡0 mod 13 deletes), nothing fabricated.
    *
    * CdcSpec covers the rest: the no-sidecar rewrite REFUSES loudly,
    * DV layers derive mask-semantics pairs, and a `readChangeFeed`
    * STREAMING consumer survives kill/restart exactly-once.
    *
    * Scale shape: sidecar legs are change-proportional reads; layer
    * legs are domain-pruned scans + broadcast key joins (delta-
    * proportional); the groupBy collapses map-side. */
  private def cdcRead2(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    def haveCdc(root: String): Boolean =
      CommitLog.committedVersions(root) == Seq(1L, 2L, 3L) && {
        val log = CommitLog.readLog(root).toMap
        Seq(2L, 3L).forall(v => log.get(v).exists(en => new java.io.File(
          s"$root/${en.dataPath}/_cdc/_SUCCESS").exists()))
      }
    val rootA = FixtureStore.ensure("cdclake", dir, valid = haveCdc) { rootA =>
      val e = clogEvents(spark, dir)
        .select(col("event_id"), col("vc"), col("dom"),
          col("day").cast("string").as("pday"))
      def put(df: DataFrame, mode: String, writer: String): Unit =
        df.select("event_id", "vc", "pday")
          .write.format("graftlake").option("partitionColumn", "pday")
          .option("changeFeed", "true")
          .option("writer", writer).mode(mode).save(rootA)
      put(e, "overwrite", "ingest")
      put(e.filter(col("dom") <= 10 && col("event_id") % 5 =!= 0),
        "overwrite", "sweeper")
      put(e.filter(col("dom") >= 21)
        .select((col("event_id") + 1000000000L).as("event_id"),
          (col("vc") + 7L).as("vc"), col("pday")),
        "append", "appender")
    }
    val lakeLog = ensureLakeLayerLog(spark, dir)
    def stats(df: DataFrame, src: String): DataFrame =
      df.groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(clogDigest.head, clogDigest.tail: _*)
        .select(lit(src).as("src"), col("version"), col("change_type"),
          col("n_rows"), col("key_xor"), col("vc_sum"))
    stats(graft.io.GraftLakeSource.tableChanges(spark, rootA, 0L, 3L,
        Map("partitionColumn" -> "pday")), "hive")
      .unionAll(stats(graft.io.GraftLakeSource.tableChanges(spark,
        lakeLog, 1L, 3L, Map("keyColumn" -> "event_id")), "layer"))
      .orderBy("src", "version", "change_type")
  }

  private val cdcRead2Sql = {
    def stats(src: String, v: Long, change: String, rel: String) =
      s"""SELECT '$src' AS src, CAST($v AS BIGINT) AS version,
         |  '$change' AS change_type, $clogDigestSql
         |FROM $rel""".stripMargin
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |qs AS (SELECT CAST(MAX(event_id) // 4 AS BIGINT) AS q1,
       |         CAST(3 * MAX(event_id) // 4 AS BIGINT) AS q3,
       |         CAST(MAX(event_id) AS BIGINT) AS mx
       |       FROM e),
       |low_pre AS (
       |  SELECT event_id, vc FROM e, qs WHERE event_id BETWEEN 0 AND q1),
       |high_pre AS (
       |  SELECT event_id, vc FROM e, qs
       |  WHERE event_id BETWEEN q3 + 1 AND mx),
       |rows_ AS (
       |  ${stats("hive", 1, "insert", "e")}
       |  UNION ALL
       |  ${stats("hive", 2, "remove", "(SELECT * FROM e WHERE dom <= 10)")}
       |  UNION ALL
       |  ${stats("hive", 2, "insert",
      "(SELECT * FROM e WHERE dom <= 10 AND event_id % 5 <> 0)")}
       |  UNION ALL
       |  ${stats("hive", 3, "insert",
      "(SELECT event_id + 1000000000 AS event_id, vc + 7 AS vc " +
        "FROM e WHERE dom >= 21)")}
       |  UNION ALL
       |  ${stats("layer", 2, "remove",
      "(SELECT * FROM low_pre WHERE event_id % 13 = 0)")}
       |  UNION ALL
       |  ${stats("layer", 2, "update_pre",
      "(SELECT * FROM low_pre WHERE event_id % 13 <> 0)")}
       |  UNION ALL
       |  ${stats("layer", 2, "update_post",
      "(SELECT event_id, vc + CASE WHEN event_id % 7 = 0 THEN 100 " +
        "ELSE 0 END AS vc FROM low_pre WHERE event_id % 13 <> 0)")}
       |  UNION ALL
       |  ${stats("layer", 3, "update_pre", "high_pre")}
       |  UNION ALL
       |  ${stats("layer", 3, "update_post",
      "(SELECT event_id, vc + CASE WHEN event_id % 5 = 0 THEN -50 " +
        "ELSE 0 END AS vc FROM high_pre)")})
       |SELECT src, version, change_type, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY src, version, change_type""".stripMargin
  }

  // ------------------------------------- key-granular concurrent MERGE

  /** `q_merge_concurrent` — KEY-GRANULAR CONCURRENT MERGEs
    * ([[graft.ops.CommitLog.Entry.keyDomains]]; round 17, closes r16
    * verdict #5 as a first-class oracled operator): partition-level
    * conflict detection spuriously serializes two MERGEs touching
    * DISJOINT keys of one partition — at 100 TB, where every writer
    * lands in the same hot partition, that is the difference between
    * a concurrent ingest tier and a lock. Two writers from the SAME
    * snapshot each declare an inclusive key range on the shared
    * partition and both land:
    *
    *   - `merge_low` (event_id ∈ [0, q1]): delete ≡0 mod 13, update
    *     ≡0 mod 7 with +100 — the layer carries its range's surviving
    *     rows;
    *   - `merge_high` (event_id ∈ [q3+1, max]): update ≡0 mod 5 with
    *     −50;
    *   - a third writer whose range STRADDLES `merge_low`'s boundary
    *     is REFUSED from the same stale snapshot (one winner per
    *     overlapping range — partition semantics preserved where
    *     ranges genuinely collide);
    *   - the LAYERED READ ([[graft.ops.CommitLog.resolveLayers]])
    *     materializes the partition: base rows outside both ranges,
    *     each range replaced by its layer — MERGE semantics recovered
    *     from the log, derived independently by the oracle from raw
    *     events;
    *   - COMPACTION rewrites the full partition from the layered read
    *     and commits it as the new base (which is also what re-arms
    *     [[graft.ops.CommitLog.checkpoint]] — a fold refuses
    *     uncompacted layers), bit-equal to the layered view.
    *
    * Scale shape: each merge stages only its key range (delta-
    * proportional); validation stays metadata-only (two longs per
    * partition in the entry); the layered read adds |layers| pruned
    * scans; compaction is one partition rewrite, paid when layers
    * accumulate — exactly the DV tier's economics
    * (`q_merge_dv`). */
  /** (q1, q3, max): the quartile key split both engines derive with
    * integer arithmetic. */
  private def mergeConcSplit(e: DataFrame): (Long, Long, Long) = {
    val mx = e.agg(max("event_id")).head().getLong(0)
    (mx / 4, 3L * mx / 4, mx)
  }

  private def mergeConcLow(e: DataFrame, q1: Long): DataFrame =
    e.filter(col("event_id").between(0L, q1) &&
        col("event_id") % 13 =!= 0)
      .withColumn("vc", col("vc") +
        when(col("event_id") % 7 === 0, lit(100L)).otherwise(lit(0L)))
      .select("event_id", "event_type", "vc")

  private def mergeConcHigh(e: DataFrame, q3: Long, mx: Long): DataFrame =
    e.filter(col("event_id").between(q3 + 1, mx))
      .withColumn("vc", col("vc") +
        when(col("event_id") % 5 === 0, lit(-50L)).otherwise(lit(0L)))
      .select("event_id", "event_type", "vc")

  private def ensureMergeConc(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("mergeconc", dir,
        parts = Seq("base", "low", "high").map(p => s"data/$p")) { root =>
      val e = clogEvents(spark, dir)
        .select("event_id", "event_type", "vc")
      val (q1, q3, mx) = mergeConcSplit(e)
      e.write.mode("overwrite").parquet(s"$root/data/base")
      mergeConcLow(e, q1).write.mode("overwrite")
        .parquet(s"$root/data/low")
      mergeConcHigh(e, q3, mx).write.mode("overwrite")
        .parquet(s"$root/data/high")
    }

  private def mergeConcurrent(spark: SparkSession,
                              dir: String): DataFrame = {
    import graft.ops.CommitLog
    import graft.ops.CommitLog.Entry
    val root = ensureMergeConc(spark, dir)
    val e = clogEvents(spark, dir).select("event_id", "event_type", "vc")
    val (q1, q3, mx) = mergeConcSplit(e)
    // the log is rebuilt per run — deterministic versions under the hash
    val logRoot = s"$root/log"
    VersionChain.rmTree(new java.io.File(logRoot))
    CommitLog.tryCommit(logRoot, Entry("ingest", "ingest",
      s"$root/data/base", Seq("events"), 0L))
    // BOTH concurrent merges from the same snapshot v1 land
    val vLow = CommitLog.tryCommit(logRoot, Entry("m_low", "merge",
      s"$root/data/low", Seq("events"), 1L,
      keyDomains = Map("events" -> Seq((0L, q1)))))
    val vHigh = CommitLog.tryCommit(logRoot, Entry("m_high", "merge",
      s"$root/data/high", Seq("events"), 1L,
      keyDomains = Map("events" -> Seq((q3 + 1, mx)))))
    // a straddling range from the same stale snapshot is REFUSED
    val refused = scala.util.Try(CommitLog.tryCommit(logRoot,
      Entry("m_bad", "merge", s"$root/data/low", Seq("events"), 1L,
        keyDomains = Map("events" -> Seq((q1, q1 + 1)))))) match {
      case scala.util.Failure(_: CommitLog.CommitConflict) => "refused"
      case scala.util.Failure(ex) => throw ex
      case scala.util.Success(_) => "landed" // hash-fails
    }
    // the layered read: base outside both ranges + each layer's range
    // (the shared LakeRead fold — the same code path the graftlake
    // connector serves layered partitions through)
    val layers = CommitLog.resolveLayers(logRoot, "events")
    val layered = graft.ops.LakeRead.layeredFrame(
      spark, layers, "event_id")
    // compaction: the layered view rewritten as the new full base
    layered.write.mode("overwrite").parquet(s"$root/data/compacted")
    val vComp = CommitLog.tryCommit(logRoot, Entry("compactor",
      "compact", s"$root/data/compacted", Seq("events"),
      CommitLog.stableVersion(logRoot)))
    require(CommitLog.resolveLayers(logRoot, "events").size == 1,
      "compaction must shadow every layer")
    val refusedRow = spark.range(1)
      .select(lit("4_overlap").as("step"), lit(refused).as("outcome"),
        lit(-1L).as("version"), lit(0L).as("n_rows"),
        lit(0L).as("xor_hash"), lit(0L).as("vc_sum"))
    def stored(p: String) = spark.read.schema(e.schema).parquet(s"$root/data/$p")
    stepStats(stored("base"), "1_base", "commit", 1L)
      .unionAll(stepStats(stored("low"),
        "2_merge_low", "commit", vLow))
      .unionAll(stepStats(stored("high"),
        "3_merge_high", "commit", vHigh))
      .unionAll(refusedRow)
      .unionAll(stepStats(layered, "5_layered", "read", vHigh))
      .unionAll(stepStats(spark.read.schema(layered.schema)
        .parquet(s"$root/data/compacted"), "6_compacted", "commit", vComp))
      .orderBy("step")
  }

  private val mergeConcurrentSql = {
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc
       |  FROM events),
       |qs AS (SELECT CAST(MAX(event_id) // 4 AS BIGINT) AS q1,
       |         CAST(3 * MAX(event_id) // 4 AS BIGINT) AS q3,
       |         CAST(MAX(event_id) AS BIGINT) AS mx
       |       FROM e),
       |low AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 7 = 0 THEN vc + 100 ELSE vc END AS vc
       |  FROM e, qs
       |  WHERE event_id BETWEEN 0 AND q1 AND event_id % 13 <> 0),
       |high AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 5 = 0 THEN vc - 50 ELSE vc END AS vc
       |  FROM e, qs WHERE event_id BETWEEN q3 + 1 AND mx),
       |merged AS (
       |  SELECT event_id, event_type, vc FROM e, qs
       |  WHERE event_id > q1 AND event_id <= q3
       |  UNION ALL SELECT * FROM low
       |  UNION ALL SELECT * FROM high),
       |rows_ AS (
       |  ${stepStatsSql("1_base", "commit", 1L, "e")}
       |  UNION ALL
       |  ${stepStatsSql("2_merge_low", "commit", 2L, "low")}
       |  UNION ALL
       |  ${stepStatsSql("3_merge_high", "commit", 3L, "high")}
       |  UNION ALL
       |  SELECT '4_overlap', 'refused', -1, 0, 0, 0
       |  UNION ALL
       |  ${stepStatsSql("5_layered", "read", 3L, "merged")}
       |  UNION ALL
       |  ${stepStatsSql("6_compacted", "commit", 5L, "merged")})
       |SELECT step, outcome, version, n_rows, xor_hash, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  // ---------------------------------------- exactly-once stream sink

  /** `q_stream_commit` — EXACTLY-ONCE STREAMING WRITES through the
    * commit log ([[graft.ops.StreamCommit]] — Delta's txnAppId/
    * txnVersion dedup; round 17, closes r16 verdict #1: the streaming
    * and lakehouse tiers met everywhere except at the write seam).
    * Three micro-batches of the events projection (day-of-month
    * tranches) are delivered through the transactional sink, each
    * committing its data and its (streamId, batchId) identity in ONE
    * atomic entry; then batch 1 is RE-DELIVERED — the standard
    * at-least-once crash window (sink wrote, the engine's checkpoint
    * never advanced). The sink detects the identity in the log and
    * SKIPS, and the readout pins it three ways: the redeliver row's
    * outcome, the head VERSION (a double-apply would land a 4th
    * commit), and the resolved live table bit-equal to single
    * delivery. StreamingSpec's twin runs the SAME sink under a real
    * MemoryStream with a crash injected between sink write and
    * checkpoint advance (the engine genuinely re-delivers);
    * StreamCommitSpec pins watermark survival across
    * checkpoint + history expiry and the duplicate-race path.
    *
    * Scale shape: per batch one pruned exchange (staged once,
    * content-keyed) + one metadata-only commit; the skip path never
    * touches data — a re-delivered 100 TB batch costs |slots| small
    * file reads, not a write. */
  private def streamBatchCond(bid: Long): Column = bid match {
    case 0L => col("dom") <= 10
    case 1L => col("dom").between(11, 20)
    case _  => col("dom") >= 21
  }

  private def ensureStreamCommitData(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("strcommit", dir,
        parts = (0 to 2).map(b => s"data/b$b")) { root =>
      val e = clogEvents(spark, dir)
      (0L to 2L).foreach(b => e.filter(streamBatchCond(b))
        .write.mode("overwrite").parquet(s"$root/data/b$b"))
    }

  private def streamCommit(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.StreamCommit
    val root = ensureStreamCommitData(spark, dir)
    // the LOG is rebuilt per run (the forgetlog recommit discipline):
    // the versions under the hash stay deterministic
    val logRoot = s"$root/log"
    VersionChain.rmTree(new java.io.File(logRoot))
    val e = clogEvents(spark, dir)
    def deliver(bid: Long): Option[Long] =
      StreamCommit.commitBatch(logRoot, "ev_stream", bid,
        () => (s"$root/data/b$bid", daysIn(e, streamBatchCond(bid))))
    val vs = (0L to 2L).map(b => deliver(b)
      .getOrElse(sys.error(s"fresh batch $b must apply")))
    val re = deliver(1L) // the crash-window re-delivery
    require(re.isEmpty, "a re-delivered batch must be skipped")
    // the resolved LIVE table: the owners' distinct data paths —
    // batches own disjoint day partitions by construction
    val livePaths = graft.ops.CommitLog.resolvePartitions(logRoot)
      .values.map(_._2).toSeq.distinct.sorted
    val live = livePaths.map(spark.read.schema(e.schema).parquet(_))
      .reduce(_ unionAll _)
    val headV = graft.ops.CommitLog.latestCommitted(logRoot)
    val skipRow = spark.range(1)
      .select(lit("4_redeliver_b1").as("step"),
        lit("skipped").as("outcome"), lit(-1L).as("version"),
        lit(0L).as("n_rows"), lit(0L).as("xor_hash"),
        lit(0L).as("vc_sum"))
    (0 to 2).map(b => stepStats(spark.read.schema(e.schema).parquet(s"$root/data/b$b"),
        s"${b + 1}_apply_b$b", "applied", vs(b)))
      .reduce(_ unionAll _)
      .unionAll(skipRow)
      .unionAll(stepStats(live, "5_head", "head", headV))
      .orderBy("step")
  }

  private val streamCommitSql = {
    def bstats(step: String, ver: Long, cond: String) =
      stepStatsSql(step, "applied", ver, s"e WHERE $cond")
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |rows_ AS (
       |  ${bstats("1_apply_b0", 1L, "dom <= 10")}
       |  UNION ALL
       |  ${bstats("2_apply_b1", 2L, "dom BETWEEN 11 AND 20")}
       |  UNION ALL
       |  ${bstats("3_apply_b2", 3L, "dom >= 21")}
       |  UNION ALL
       |  SELECT '4_redeliver_b1', 'skipped', -1, 0, 0, 0
       |  UNION ALL
       |  ${stepStatsSql("5_head", "head", 3L, "e")})
       |SELECT step, outcome, version, n_rows, xor_hash, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin
  }

  /** `q_isolation_levels` — the two WRITE-TRANSACTION isolation
    * levels (Delta's `writeSerializable` default vs `serializable`,
    * [[graft.ops.CommitLog.Serializable]]): the anomaly that
    * separates them, run deterministically and hash-certified. A
    * `mutator` commits a point update to day-5 AFTER two reporters
    * snapshotted it; each reporter derives a day-5 report FROM THAT
    * STALE READ and writes it to a DISJOINT partition (`r1`/`r2` —
    * zero write-write overlap, so the difference is purely the read
    * set):
    *
    *   - `reporter_ws` (write-serializable) COMMITS the stale report
    *     (v3) — blind writes are admitted; its stored numbers are the
    *     PRE-mutation sums, visible forever in the log (the anomaly),
    *   - `reporter_sr_stale` (serializable, re-attempted EVERY run)
    *     is REJECTED with CommitConflict — the rival's write into its
    *     declared read set lands between snapshot and commit,
    *   - `reporter_sr` retries from a fresh snapshot and commits the
    *     POST-mutation report (v4) — the serial-order-consistent
    *     history serializable guarantees.
    *
    * The oracle derives both report sums from the raw events (stale =
    * day-5 cents sum; fresh = stale + 100·|event_id ≡ 0 mod 3 in
    * day 5|), so a protocol that admitted the stale serializable
    * attempt — or rejected the write-serializable one — hash-fails.
    * IsolationSpec pins the asymmetry (a HIGHER rival writing this
    * entry's reads is serial-order-consistent and must NOT conflict),
    * read-set persistence across the entry roundtrip, and that
    * default entries stay write-serializable.
    *
    * Scale shape: validation stays metadata-only — the read set is
    * |partitions read| strings in the entry, never data; the fixture
    * is three small one-exchange writes paid once. */
  def ensureIsolation(spark: SparkSession, dir: String): String = {
    import graft.ops.CommitLog
    FixtureStore.ensure("isolation", dir,
        parts = Seq("base", "mut", "report_stale", "report_fresh")
          .map(p => s"data/$p"),
        valid = r => CommitLog.committedVersions(r).take(4) ==
          Seq(1L, 2L, 3L, 4L)) { root =>
      val e = clogEvents(spark, dir).filter(col("dom") <= 10)
      val days = daysIn(e, lit(true))
      val day5 = daysIn(e, col("dom") === 5)
      e.write.mode("overwrite").parquet(s"$root/data/base")
      CommitLog.tryCommit(root, CommitLog.Entry("ingest", "ingest",
        s"$root/data/base", days, 0L))
      // the rival: a point mutation of day 5 (vc += 100 on ⅓ of keys)
      val mut = e.filter(col("dom") === 5)
        .withColumn("vc", col("vc") +
          when(col("event_id") % 3 === 0, lit(100L)).otherwise(lit(0L)))
      mut.write.mode("overwrite").parquet(s"$root/data/mut")
      CommitLog.tryCommit(root, CommitLog.Entry("mutator", "update",
        s"$root/data/mut", day5, 1L))
      // both report payloads, staged from the two snapshots
      e.filter(col("dom") === 5)
        .write.mode("overwrite").parquet(s"$root/data/report_stale")
      spark.read.schema(mut.schema).parquet(s"$root/data/mut")
        .write.mode("overwrite").parquet(s"$root/data/report_fresh")
      // write-serializable: the stale report COMMITS (the anomaly)
      CommitLog.tryCommit(root, CommitLog.Entry("reporter_ws", "report",
        s"$root/data/report_stale", Seq("r1"), 1L,
        readSet = day5, isolation = CommitLog.WriteSerializable))
      // serializable, fresh snapshot: commits the corrected report
      CommitLog.tryCommit(root, CommitLog.Entry("reporter_sr", "report",
        s"$root/data/report_fresh", Seq("r1"), 3L,
        readSet = day5, isolation = CommitLog.Serializable))
    }
  }

  def isolationLevels(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val root = ensureIsolation(spark, dir)
    val day5 = daysIn(clogEvents(spark, dir).filter(col("dom") <= 10),
      col("dom") === 5)
    // the serializable STALE attempt — re-proven under the hash every
    // run (the q_commit_log conflicter convention): disjoint write
    // partition r2, so the ONLY conflict source is the read set
    val rejected = scala.util.Try(CommitLog.tryCommit(root,
      CommitLog.Entry("reporter_sr_stale", "report",
        s"$root/data/report_stale", Seq("r2"), 1L,
        readSet = day5, isolation = CommitLog.Serializable))) match {
      case scala.util.Failure(_: CommitLog.CommitConflict) => "conflict"
      case scala.util.Failure(ex) => throw ex
      case scala.util.Success(v) => s"committed_v$v" // hash-fails
    }
    val log = CommitLog.readLog(root).toMap
    val stored = clogEvents(spark, dir).schema
    def acct(step: String, writer: String, iso: String, outcome: String,
             ver: Long, path: String): DataFrame =
      spark.read.schema(stored).parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("vc"), lit(0L)).as("vc_sum"))
        .select(lit(step).as("step"), lit(writer).as("writer"),
          lit(iso).as("isolation"), lit(outcome).as("outcome"),
          lit(ver).as("version"), col("n_rows"), col("vc_sum"))
    // the resolved head: r1's newest committed owner must be the
    // FRESH report (the stale one is superseded, not erased)
    val r1 = CommitLog.resolveAsOf(root, CommitLog.latestCommitted(root))("r1")
    acct("1_base", "ingest", "-", "commit", 1L, log(1L).dataPath)
      .unionAll(acct("2_mutate", "mutator", "-", "commit", 2L,
        log(2L).dataPath))
      .unionAll(acct("3_stale_ws", "reporter_ws",
        CommitLog.WriteSerializable, "commit", 3L, log(3L).dataPath))
      .unionAll(acct("4_fresh_sr", "reporter_sr",
        CommitLog.Serializable, "commit", 4L, log(4L).dataPath))
      .unionAll(acct("5_stale_sr", "reporter_sr_stale",
        CommitLog.Serializable, rejected, -1L,
        s"$root/data/report_stale"))
      .unionAll(acct("6_resolved", "-", "-", "head", r1._1, r1._2))
      .orderBy("step")
  }

  private val isolationLevelsSql =
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 10),
       |d5 AS (SELECT * FROM e WHERE dom = 5),
       |rows_ AS (
       |  SELECT '1_base' AS step, 'ingest' AS writer, '-' AS isolation,
       |    'commit' AS outcome, CAST(1 AS BIGINT) AS version,
       |    COUNT(*) AS n_rows, CAST(SUM(vc) AS BIGINT) AS vc_sum
       |  FROM e
       |  UNION ALL
       |  SELECT '2_mutate', 'mutator', '-', 'commit', 2, COUNT(*),
       |    CAST(SUM(vc + CASE WHEN event_id % 3 = 0 THEN 100 ELSE 0 END)
       |      AS BIGINT)
       |  FROM d5
       |  UNION ALL
       |  SELECT '3_stale_ws', 'reporter_ws', 'write_serializable',
       |    'commit', 3, COUNT(*), CAST(SUM(vc) AS BIGINT)
       |  FROM d5
       |  UNION ALL
       |  SELECT '4_fresh_sr', 'reporter_sr', 'serializable', 'commit', 4,
       |    COUNT(*),
       |    CAST(SUM(vc + CASE WHEN event_id % 3 = 0 THEN 100 ELSE 0 END)
       |      AS BIGINT)
       |  FROM d5
       |  UNION ALL
       |  SELECT '5_stale_sr', 'reporter_sr_stale', 'serializable',
       |    'conflict', -1, COUNT(*), CAST(SUM(vc) AS BIGINT)
       |  FROM d5
       |  UNION ALL
       |  SELECT '6_resolved', '-', '-', 'head', 4, COUNT(*),
       |    CAST(SUM(vc + CASE WHEN event_id % 3 = 0 THEN 100 ELSE 0 END)
       |      AS BIGINT)
       |  FROM d5)
       |SELECT step, writer, isolation, outcome, version, n_rows, vc_sum
       |FROM rows_ ORDER BY step""".stripMargin

  // ----------------------------------------------------------- restore

  /** `q_restore` — ROLLBACK AS A NEW COMMIT (Delta's `RESTORE TABLE
    * ... TO VERSION`, Iceberg's `rollback_to_snapshot`): undo the
    * retention sweep (v2) and the point update (v3) by committing a
    * NEW head version v4 whose manifest row points at the RESTORED
    * generation's existing files — zero data files move or rewrite;
    * history stays intact (time travel to v3 still serves the
    * pre-restore content, because a restore is a forward commit, not
    * an erase). The operator works on a METADATA-ONLY
    * [[VersionChain.shallowClone]] (the `q_vacuum` isolation
    * convention), and its own CDF delta lands CLONE-LOCAL via the
    * file-granularity copy-on-write in [[VersionChain.resolvePath]] —
    * the shared base is untouchable by construction.
    *
    * The restore's change-data-feed is REVERSE-COMPOSED from the
    * STORED deltas of the commits it undoes — never from a snapshot
    * join: v2's `remove` rows (which carry the removed rows' full
    * content) come back as `insert`s, and v3's update pairs swap
    * roles (`update_post` → the value being replaced, `update_pre` →
    * the restored-to original). At 100 TB that makes RESTORE
    * change-proportional end to end: metadata commit + |changed rows|
    * of CDF, with not one data byte copied.
    *
    * Output rows (all inside the driver hash): the pre-restore head
    * triple read AFTER the restore (history intact), the post-restore
    * head triple (must equal v1's content exactly — the oracle
    * derives it from the raw events, so a restore that resurrected
    * the wrong generation hash-fails), and the three stored-CDF
    * accounting triples (re-inserts, update posts, update pres).
    * RestoreSpec additionally pins: zero generation directories under
    * the clone, the shared root's manifest/log byte-identical across
    * a restore, the restored read's plan scanning the ORIGINAL gen1
    * path, and idempotent re-run. */
  def restoreRoot(dir: String): String = FixtureStore.root("restore", dir)

  def restore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shared = VersionChain.ensure(spark, dir)
    val root = restoreRoot(dir)
    VersionChain.shallowClone(shared, root) // zero data files move
    val log = VersionChain.manifest(spark, root)
    val toVersion = 1L // restore target: the compacted pre-sweep state
    val target = log.find(_.version == toVersion).get

    // reverse-compose the restore CDF from the STORED deltas of the
    // undone commits (change-proportional; CDF rows carry full content)
    def cdfOf(v: Long) = spark.read.parquet(VersionChain.resolvePath(
      root, log.find(_.version == v).get.cdf_path))
    val restoreCdf = cdfOf(2L)
      .withColumn("change_type", lit("insert")) // swept rows re-added
      .unionAll(cdfOf(3L).withColumn("change_type",
        when(col("change_type") === "update_pre", lit("update_post"))
          .otherwise(lit("update_pre")))) // update pairs reversed
    restoreCdf.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/cdf/v4") // clone-local COW: never the base

    // the metadata-only restore commit: a NEW manifest row re-adding
    // the target generation's files, gated on the clone's own log
    val restored = VersionChain.Commit(4L, "restore", target.path,
      target.n_rows, "delta", "cdf/v4")
    (log :+ restored).toDS.coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest")
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "restore", "restore", s"$root/cdf/v4", Seq(target.path),
      graft.ops.CommitLog.latestCommitted(root)))

    val newLog = VersionChain.manifest(spark, root)
    def triple(label: Long, v: Long): DataFrame =
      versionTriple(spark, root, newLog, label, v, "bin")
    // CDF accounting reads the STORED restore delta (the certificate
    // is over what was committed, not what was computed)
    val storedCdf = spark.read.schema(restoreCdf.schema).parquet(
      VersionChain.resolvePath(root, "cdf/v4")).withColumn("h", rowHash)
    def cdfRow(label: Long, change: String): DataFrame =
      storedCdf.filter(col("change_type") === change)
        .select(chainDigest: _*)
        .select(lit(label).as("version"), lit(s"cdf_$change").as("op"),
          lit(0L).as("n_files"), col("n_rows"), col("xor_hash"),
          col("content_sum"))
    // TIMESTAMP-keyed restore target (Delta's RESTORE TO TIMESTAMP):
    // the wall-clock instant between the compact and retain commits
    // must resolve the SAME restore target the version key named —
    // chain version v lives at log slot v+1, so slot 2's stamp + 30min
    // floors to slot 2 = chain v1 (the between-commits rule)
    val logRoot = VersionChain.commitLogRootOf(root)
    val tsV = graft.ops.CommitLog.asOfTimestamp(logRoot,
      graft.ops.CommitLog.commitTimestamp(2L) + 1800L).getOrElse(
      throw new IllegalStateException("no commit at the restore instant"))
    triple(3L, 3L) // history intact: read AFTER the restore commit
      .unionAll(triple(4L, 4L)) // new head == v1 content, v1 files
      .unionAll(triple(60L, tsV - 1)) // ts-keyed target == v1 content
      .unionAll(cdfRow(70L, "insert"))
      .unionAll(cdfRow(71L, "update_post"))
      .unionAll(cdfRow(72L, "update_pre"))
      .orderBy("version")
  }

  private val restoreSql =
    s"""$chainCte,
       |rows_ AS (
       |  SELECT 3 AS version, 'update' AS op,
       |    CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_files, $chainDigestSql
       |  FROM binned3
       |  UNION ALL
       |  SELECT 4, 'restore', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT 60, 'compact', CAST(COUNT(DISTINCT bin) AS BIGINT), $chainDigestSql
       |  FROM binned
       |  UNION ALL
       |  SELECT 70, 'cdf_insert', 0, $chainDigestSql
       |  FROM binned WHERE EXTRACT(day FROM day) > 20
       |  UNION ALL
       |  SELECT 71, 'cdf_update_post', 0, $chainDigestSql
       |  FROM binned WHERE EXTRACT(day FROM day) <= 20 AND event_id % 7 = 0
       |  UNION ALL
       |  SELECT 72, 'cdf_update_pre', 0, $chainDigestSql
       |  FROM binned3 WHERE event_id % 7 = 0)
       |SELECT CAST(version AS BIGINT) AS version, op, n_files, n_rows,
       |  xor_hash, content_sum
       |FROM rows_ ORDER BY version""".stripMargin

  // ------------------------------------------------------ change feed

  /** `q_cdf_read` — the CHANGE-DATA-FEED read (`table_changes`): per
    * commit, the stored delta's accounting grouped by change type.
    * The v0 insert-only commit's feed is its data files read directly
    * with a synthesized `insert` change type (Delta's CDF convention —
    * an insert commit is never double-written); every later commit
    * reads its stored change-proportional delta: v1's is EMPTY (a
    * compaction rewrite changes no logical rows — so it contributes
    * no output), v2 carries the sweep's `remove` rows, v3 the
    * update's pre/post pairs. The oracle re-derives every delta from
    * the raw events, so a writer that recorded the wrong change set
    * hash-fails.
    *
    * Scale shape: one scan per stored delta, each change-proportional
    * (plus the v0 generation scan that IS that commit's delta);
    * map-side-collapsing aggregates; nothing joins. */
  def cdfRead(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    val log = VersionChain.manifest(spark, root)
    log.map { c =>
      val feed =
        if (c.cdf_mode == "full_insert")
          spark.read.parquet(s"$root/${c.path}")
            .select(lit("insert").as("change_type"), col("event_id"),
              col("vc"))
        else
          spark.read.parquet(s"$root/${c.cdf_path}")
            .select(col("change_type"), col("event_id"), col("vc"))
      feed.groupBy("change_type")
        .agg(clogDigest.head, clogDigest.tail: _*)
        .select(lit(c.version).as("version"), col("change_type"),
          col("n_rows"), col("key_xor"), col("vc_sum"))
    }.reduce(_ unionAll _).orderBy("version", "change_type")
  }

  private val cdfReadSql =
    s"""$chainCte
       |SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
       |  $clogDigestSql
       |FROM base
       |UNION ALL
       |SELECT 2, 'remove', $clogDigestSql
       |FROM base WHERE EXTRACT(day FROM day) > 20
       |UNION ALL
       |SELECT 3, 'update_pre', $clogDigestSql
       |FROM base WHERE EXTRACT(day FROM day) <= 20 AND event_id % 7 = 0
       |UNION ALL
       |SELECT 3, 'update_post',
       |  ${NumSql.digest("event_id", "vc + 100", "n_rows", "key_xor", "vc_sum")}
       |FROM base WHERE EXTRACT(day FROM day) <= 20 AND event_id % 7 = 0
       |ORDER BY version, change_type""".stripMargin

  // ------------------------------------------------- partition evolution

  /** `q_partition_evolution` — PARTITION-SPEC evolution (Iceberg's
    * headline trick, distilled): the same fact re-committed under a
    * COARSER partition spec (day → 10-day period; the fixture's
    * events span one month at every SF, so "month" would be a
    * degenerate single partition) as a new immutable generation, with
    * the spec recorded per commit in the manifest. The day layout was
    * right for hourly ingest (small daily rewrites); at query time
    * period-grain scans pay \|days\| dirs of
    * listing overhead — the period generation fixes that WITHOUT
    * rewriting history or breaking old readers (they resolve their
    * pinned version's spec through the manifest). The output emits
    * each generation's checksum triple under its own spec's partition
    * count — identical xor/content across versions IS the proof the
    * re-spec preserved every row. PartitionEvolutionSpec pins the
    * pruning semantics both ways: a day filter prunes gen0 to one
    * directory, a period filter prunes gen1 to one directory, and a
    * day filter on gen1 honestly CANNOT prune (it scans the whole
    * period — the cost a spec change trades away).
    *
    * Scale shape: one repartition exchange per re-spec commit, paid
    * ONCE per dataset as a [[FixtureStore]] root; reads are generation scans
    * with file-listing-level pruning under each generation's own
    * spec. */
  /** Commit the two-spec fixture for `dir` unless a validated one is
    * stored. */
  def ensurePartEvo(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("part_evo", dir, parts = Seq("gen0", "gen1", "manifest"),
      rows = Some("gen0")) { root =>
      val base = partEvoBase(spark, dir)
      base.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$root/gen0")
      base.repartition(col("period"))
        .write.mode("overwrite").partitionBy("period").parquet(s"$root/gen1")
      partEvoLog(spark).coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
    }

  /** The content both partition specs hold. */
  private def partEvoBase(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        coalesce(Num.cents(col("value")), lit(-1L)).as("vc"),
        to_date(col("ts")).as("day"))
      .withColumn("period",
        concat(lit("p"), expr("(dayofmonth(day) - 1) div 10")))

  private def partEvoLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, "day", "gen0"), (1L, "period", "gen1")).toDF("version", "spec", "path")
  }

  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensurePartEvo(spark, dir)
    val log = spark.read.schema(partEvoLog(spark).schema).parquet(s"$root/manifest")
      .select(col("version"), col("spec"), col("path"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val stored = partEvoBase(spark, dir).schema
    log.map { case (v, spec, p) =>
      spark.read.schema(stored).parquet(s"$root/$p").withColumn("h", rowHash)
        .agg(countDistinct(col(spec)).as("n_parts"), chainDigest: _*)
        .select(lit(v).as("version"), lit(spec).as("spec"),
          col("n_parts"), col("n_rows"), col("xor_hash"),
          col("content_sum"))
    }.reduce(_ unionAll _).orderBy("version")
  }

  private val partitionEvolutionSql =
    s"""WITH base AS (
       |  SELECT event_id, event_type,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day
       |  FROM events),
       |hashed AS (
       |  SELECT *, 'p' || CAST((EXTRACT(day FROM day) - 1) // 10 AS VARCHAR)
       |    AS period, $rowHashSql AS h FROM base)
       |SELECT CAST(0 AS BIGINT) AS version, 'day' AS spec,
       |  COUNT(DISTINCT day) AS n_parts, $chainDigestSql
       |FROM hashed
       |UNION ALL
       |SELECT 1, 'period', COUNT(DISTINCT period), $chainDigestSql
       |FROM hashed
       |ORDER BY version""".stripMargin

  // -------------------------------------------------------- version diff

  /** `q_time_travel_diff` — ROW-LEVEL diff between STORED versions,
    * answered FROM THE CHANGE-DATA-FEED: for each adjacent version
    * pair the diff reads the to-version's stored delta (added /
    * removed / changed counts + the removed-key xor tombstone
    * manifest) and derives the common-key count from the manifest's
    * recorded row counts — NO snapshot is ever scanned (TimeTravelSpec
    * pins the executed plan to the cdf paths). This closes round-12's
    * named weak: the previous version diffed two full generation
    * scans with keyed anti/content joins, the honest price WITHOUT a
    * change log; with per-commit deltas stored, a snapshot diff is
    * delta-proportional, exactly Delta's `table_changes` read.
    *
    * Three diffs under one hash:
    *  - v0 → v1 (compaction): the stored EMPTY delta proves
    *    added = removed = changed = 0 at row level.
    *  - v1 → v2 (sweep): removals only; the removed-key xor is the
    *    sweep's tombstone manifest.
    *  - v2 → v3 (update): changes only — a pair of compensating row
    *    mutations could fool `q_time_travel`'s xor triple; it cannot
    *    hide from the recorded update_pre/update_post pairs. */
  def timeTravelDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    val log = VersionChain.manifest(spark, root)
    def diff(fromV: Long, toV: Long): DataFrame = {
      val to = log.find(_.version == toV).get
      val delta = spark.read.parquet(s"$root/${to.cdf_path}")
      delta.agg(
          coalesce(sum(when(col("change_type") === "insert", 1L)
            .otherwise(0L)), lit(0L)).as("n_added"),
          coalesce(sum(when(col("change_type") === "remove", 1L)
            .otherwise(0L)), lit(0L)).as("n_removed"),
          coalesce(sum(when(col("change_type") === "update_post", 1L)
            .otherwise(0L)), lit(0L)).as("n_changed"),
          coalesce(expr(
            "bit_xor(CASE WHEN change_type = 'remove' THEN event_id END)"),
            lit(0L)).as("removed_xor"))
        .select(lit(fromV).as("from_v"), lit(toV).as("to_v"),
          col("n_added"), col("n_removed"), col("n_changed"),
          // common keys = the to-version's keys minus this commit's
          // inserts (manifest row counts — |versions|-bounded scalars)
          (lit(to.n_rows) - col("n_added")).as("n_common"),
          col("removed_xor"))
    }
    diff(0L, 1L).unionAll(diff(1L, 2L)).unionAll(diff(2L, 3L))
      .orderBy("from_v")
  }

  private val timeTravelDiffSql =
    s"""$chainCte
       |SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
       |  CAST(0 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
       |  CAST(0 AS BIGINT) AS n_changed,
       |  (SELECT COUNT(*) FROM base) AS n_common,
       |  CAST(0 AS BIGINT) AS removed_xor
       |UNION ALL
       |SELECT 1, 2,
       |  0,
       |  (SELECT COUNT(*) FROM base WHERE EXTRACT(day FROM day) > 20),
       |  0,
       |  (SELECT COUNT(*) FROM base WHERE EXTRACT(day FROM day) <= 20),
       |  (SELECT CAST(COALESCE(bit_xor(event_id), 0) AS BIGINT) FROM base
       |   WHERE EXTRACT(day FROM day) > 20)
       |UNION ALL
       |SELECT 2, 3,
       |  0, 0,
       |  (SELECT COUNT(*) FROM base
       |   WHERE EXTRACT(day FROM day) <= 20 AND event_id % 7 = 0),
       |  (SELECT COUNT(*) FROM base WHERE EXTRACT(day FROM day) <= 20),
       |  0
       |ORDER BY from_v""".stripMargin

  // ------------------------------------------------------ merge upsert

  /** `q_merge_upsert` — FILE-GRANULARITY MERGE INTO (copy-on-write),
    * the write-side API the change-data-feed tier implies
    * (Delta/Iceberg MERGE): one delta batch carrying inserts, updates,
    * and deletes applies to a keyed stored table in a SINGLE commit
    * that (a) rewrites ONLY the files containing matched keys,
    * (b) carries every untouched file into the new version's FILE
    * MANIFEST by reference — verbatim path, zero bytes moved — and
    * (c) records the commit's CDF delta. This is the delta-
    * proportional shape: the base is range-bucketed into ~16 files
    * (`bucket = (custkey−1) div width`, width = ⌈maxkey/16⌉); the
    * MERGE delta is LOCALIZED to the hot tail (bucket ≥ 12 — the
    * CDC-realistic "recent partitions churn, old ones are cold"):
    * deletes custkey ≡ 0 (mod 13), updates ≡ 3 (mod 10) with
    * DELETE-wins precedence on overlap (standard WHEN MATCHED
    * ordering), and inserts under CONTIGUOUS fresh keys
    * maxkey + 1 + rank (new data appends into the last/new bucket,
    * never fanning out over cold files). The commit rewrites 4–5
    * bucket files and carries 12 by reference at every SF — the
    * round-13 version rewrote 100% of rows for a 0.1%-of-keys delta.
    *
    * Output: per-change-type feed accounting, plus `carry` / `commit`
    * / `zz_final` rows whose n_files column puts the FILE accounting
    * itself under the oracle hash — carried files + rewritten files
    * and their row/xor/sum triples are all predicted from the raw
    * customer table, so a MERGE that rewrote a cold file (or dropped
    * one from the manifest) hash-fails, not just spec-fails.
    * MergeUpsertSpec additionally pins: strictly fewer data files
    * written than the base holds, carried file NAMES survive into the
    * new manifest verbatim, the rewrite's base scan partition-prunes
    * to the touched buckets, and CDF replay onto the base reproduces
    * the manifest-resolved v1 read bit-for-bit.
    *
    * The whole fixture (base + commit + manifests + feed) is
    * deterministic in the dataset, so it commits ONCE per dataset
    * as a [[FixtureStore]] root and the query reads stored state.
    *
    * Scale shape: touched-file identification is a broadcast-delta
    * distinct over |buckets|; the rewrite scans ONLY the touched
    * bucket directories (partition-pruned read); the manifest is
    * |files| rows; CDF is change-proportional. */
  /** One file-manifest row: a data file of the table at some version,
    * with its DATA-SKIPPING stats (min/max key + row count — the
    * Delta/Iceberg per-file column stats that let a point lookup
    * prune the manifest before touching any data file; `q_merge_prune`
    * is the consumer, `q_zorder_prune` proved the pattern). */
  final case class MergeFile(bucket: Long, file: String,
                             rewritten: Boolean, min_key: Long,
                             max_key: Long, n_rows: Long)

  /** Commit the merge fixture for `dir` unless a validated one is
    * stored; returns the root. Layout: `gen0/pbucket=b/` base files,
    * `gen1/pbucket=b/` ONLY rewritten/new buckets, `filemanifest/v1`
    * (bucket, file, rewritten) listing every data file of v1 —
    * carried entries point into gen0 verbatim — and `cdf/v1`. */
  def ensureMerge(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("merge", dir,
      parts = Seq("gen0", "gen1", "filemanifest/v1", "cdf/v1", "bloom/v1"),
      // both commits must be resolved in the optimistic log
      valid = r => graft.ops.CommitLog.committedVersions(r) == Seq(1L, 2L),
      rows = Some("gen0")) {
      root => buildMerge(spark, dir, root)
    }

  private def mergeRaw(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"),
        col("c_nationkey").cast("long").as("nation"),
        coalesce(Num.cents(col("c_acctbal")), lit(-1L)).as("bal"))

  private def buildMerge(spark: SparkSession, dir: String,
                         root: String): Unit = {
    import spark.implicits._
    val raw = mergeRaw(spark, dir)
    // range bucketing: width = ⌈maxkey/16⌉ (bounded driver scalar)
    val maxKey = raw.agg(max("custkey")).head().getLong(0)
    val width = 1 + (maxKey - 1) / 16
    val base = raw
      .withColumn("bucket", expr(s"(custkey - 1) div $width"))
      .withColumn("pbucket", col("bucket")) // partition col duplicated
    base.repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$root/gen0")
    val g0 = graft.ops.SideCache.persist(spark.read.schema(base.schema)
      .parquet(s"$root/gen0"))
    g0.count() // materialize once, before the jobs below that scan it twice
    // the MERGE delta, localized to the hot tail; delete wins on overlap
    val hot = col("bucket") >= 12
    val delKeys = g0.filter(col("custkey") % 13 === 0 && hot)
      .select("custkey", "bucket")
    val updates = g0.filter(col("custkey") % 10 === 3 &&
        col("custkey") % 13 =!= 0 && hot)
      .select(col("custkey"), col("nation"), (col("bal") + 500L).as("bal"),
        col("bucket"))
    val inserts = g0.filter(col("custkey") % 50 === 1)
      .select((lit(maxKey + 1) + expr("(custkey - 1) div 50")).as("custkey"),
        col("nation"), lit(1111L).as("bal"))
      .withColumn("bucket", expr(s"(custkey - 1) div $width"))
    // touched buckets: distinct over the delta only (≤ |buckets| rows)
    val touched = delKeys.select("bucket")
      .unionAll(updates.select("bucket")).unionAll(inserts.select("bucket"))
      .distinct().as[Long].collect().toSet
    val baseBuckets = g0.select(col("pbucket").cast("long"))
      .distinct().as[Long].collect().toSet
    // base ingest = log v1: claims every bucket
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "ingest", "ingest", "gen0",
      baseBuckets.toSeq.sorted.map(_.toString), 0L))
    // rewrite ONLY the touched base buckets (partition-pruned scan of
    // gen0 — MergeUpsertSpec asserts the pruning), then the new
    // generation holds rewritten buckets ∪ insert buckets ONLY
    val touchedBase = spark.read.schema(base.schema).parquet(s"$root/gen0")
      .filter(col("pbucket").isin(touched.toSeq: _*))
    val survivors = touchedBase
      .join(broadcast(delKeys.select("custkey")), Seq("custkey"), "left_anti")
    val rewritten = survivors
      .join(broadcast(updates.select(col("custkey"),
        col("bal").as("new_bal"))), Seq("custkey"), "left")
      .select(col("custkey"), col("nation"),
        coalesce(col("new_bal"), col("bal")).as("bal"), col("bucket"))
      .unionAll(inserts)
      .withColumn("pbucket", col("bucket"))
    rewritten.repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$root/gen1")
    // v1 FILE MANIFEST: carried base files by VERBATIM reference +
    // the rewritten/new files (driver FS listing — |files| bounded)
    def listFiles(gen: String, b: Long): Seq[String] =
      VersionChain.children(new java.io.File(s"$root/$gen/pbucket=$b"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"$gen/pbucket=$b/${f.getName}").sorted
    // per-file data-skipping stats: one per-file aggregate at commit
    // time (|files| bounded, paid once behind the content key). NOT a
    // whole-directory read keyed by input_file_name: the generation
    // dirs are SideCache'd under the same logical plan, and Spark's
    // cache substitution hands input_file_name an InMemoryRelation
    // where it returns "" for every row.
    def withStats(b: Long, f: String, rw: Boolean): MergeFile = {
      val r = spark.read.schema(raw.schema).parquet(s"$root/$f")
        .agg(min("custkey"), max("custkey"), count(lit(1))).head()
      MergeFile(b, f, rw, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val carried = (baseBuckets -- touched).toSeq.sorted
      .flatMap(b => listFiles("gen0", b).map(f => withStats(b, f, false)))
    val writtenBuckets = rewritten.select(col("bucket"))
      .distinct().as[Long].collect().toSet
    val written = writtenBuckets.toSeq.sorted
      .flatMap(b => listFiles("gen1", b).map(f => withStats(b, f, true)))
    // q_merge_prune/q_merge_bloom key their outputs (and the bloom
    // sidecar) by (bucket, rewritten) — the repartition(pbucket)
    // writers above guarantee one file per key; if a future layout
    // change breaks that, fail the BUILD loudly here rather than
    // hash-fail nondeterministically downstream
    val manifestRows = carried ++ written
    require(manifestRows.map(f => (f.bucket, f.rewritten)).distinct.size ==
      manifestRows.size,
      "merge manifest holds multiple files for one (bucket, rewritten) " +
        "key — q_merge_prune/q_merge_bloom assume one file per key")
    manifestRows.toDF()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/filemanifest/v1")
    // per-file BLOOM sidecar (the Parquet bloom-filter shape): one
    // filter per manifest file, keyed (bucket, rewritten), built in a
    // single distributed pass — min/max stats prune RANGES, the bloom
    // prunes point probes the residual range still covers
    // (q_merge_prune's deleted-key false positive; q_merge_bloom is
    // the consumer)
    val bloomSrc = spark.read.schema(base.schema).parquet(s"$root/gen0")
      .filter(!col("pbucket").isin(touched.toSeq: _*))
      .select(col("custkey"), col("bucket"), lit(false).as("rewritten"))
      .unionAll(spark.read.schema(rewritten.schema).parquet(s"$root/gen1")
        .select(col("custkey"), col("bucket"), lit(true).as("rewritten")))
    graft.ops.Bloom.cellsBy(bloomSrc, "custkey", Seq("bucket", "rewritten"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/bloom/v1")
    // the commit's CDF delta (the writer KNOWS its change set)
    def asCdf(change: String, df: DataFrame): DataFrame =
      df.select(lit(change).as("change_type"), col("custkey"),
        col("nation"), col("bal"))
    asCdf("remove", g0.join(broadcast(delKeys.select("custkey")),
        Seq("custkey"), "left_semi"))
      .unionAll(asCdf("update_pre",
        g0.join(broadcast(updates.select("custkey")), Seq("custkey"),
          "left_semi")))
      .unionAll(asCdf("update_post", updates))
      .unionAll(asCdf("insert", inserts))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/cdf/v1")
    // the MERGE commit = log v2: claims ONLY the touched buckets and
    // names the v1 FILE MANIFEST as its data (the Delta log→files
    // indirection) — a concurrent writer overlapping a touched bucket
    // would be conflict-rejected (MaintenanceCommitSpec races one)
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "merge", "merge_upsert", "filemanifest/v1",
      touched.toSeq.sorted.map(_.toString), 1L))
  }

  /** The v1 file manifest, collected (|files| rows — bounded) —
    * resolved THROUGH the optimistic log: the newest committed
    * merge entry names the manifest (Delta's log→files indirection),
    * so an uncommitted or conflict-aborted merge is invisible here. */
  def mergeManifest(spark: SparkSession, root: String): Seq[MergeFile] = {
    import spark.implicits._
    val (_, entry) = graft.ops.CommitLog.readLog(root)
      .filter(_._2.op == "merge_upsert").last
    spark.read.parquet(s"$root/${entry.dataPath}").as[MergeFile]
      .collect().sortBy(f => (f.bucket, f.file)).toSeq
  }

  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureMerge(spark, dir)
    val feed = mergeFeedRows(spark.read.parquet(s"$root/cdf/v1"))
    val man = mergeManifest(spark, root)
    val (carry, commit) = man.partition(!_.rewritten)
    def triple(kind: String, files: Seq[MergeFile]): DataFrame =
      mergeRow(kind, spark.read.parquet(files.map(f => s"$root/${f.file}"): _*),
        files.size.toLong)
    feed.unionAll(triple("carry", carry))
      .unionAll(triple("commit", commit))
      // zz_final IS the manifest-resolved v1 read: carried ∪ rewritten
      .unionAll(triple("zz_final", man))
      .orderBy("row_kind")
  }

  /** Shared oracle CTE prefix of the MERGE tier (`q_merge_upsert`
    * copy-on-write and `q_merge_dv` merge-on-read resolve to the SAME
    * logical table, so both oracles derive from one prefix): raw →
    * range-bucketed base, the delta (dels/upds/ins), touched buckets,
    * the post-merge content split as gen1 (touched, rewritten) +
    * carried (cold). */
  private val mergeCte =
    s"""WITH raw AS (
       |  SELECT c_custkey AS custkey, CAST(c_nationkey AS BIGINT) AS nation,
       |    COALESCE(${NumSql.cents("c_acctbal")}, -1) AS bal
       |  FROM customer),
       |mx AS (SELECT MAX(custkey) AS mk,
       |         CAST(1 + (MAX(custkey) - 1) // 16 AS BIGINT) AS width
       |       FROM raw),
       |base AS (
       |  SELECT r.*, CAST((custkey - 1) // width AS BIGINT) AS bucket
       |  FROM raw r CROSS JOIN mx),
       |dels AS (
       |  SELECT custkey, bucket FROM base
       |  WHERE custkey % 13 = 0 AND bucket >= 12),
       |upds AS (
       |  SELECT custkey, nation, bal + 500 AS bal, bucket FROM base
       |  WHERE custkey % 10 = 3 AND custkey % 13 <> 0 AND bucket >= 12),
       |ins AS (
       |  SELECT mk + 1 + (custkey - 1) // 50 AS custkey, nation,
       |    CAST(1111 AS BIGINT) AS bal,
       |    CAST((mk + (custkey - 1) // 50) // width AS BIGINT) AS bucket
       |  FROM base CROSS JOIN mx WHERE custkey % 50 = 1),
       |touched AS (
       |  SELECT bucket FROM dels UNION SELECT bucket FROM upds
       |  UNION SELECT bucket FROM ins),
       |gen1 AS (
       |  SELECT b.custkey, b.nation, COALESCE(u.bal, b.bal) AS bal, b.bucket
       |  FROM base b LEFT JOIN (SELECT custkey, bal FROM upds) u
       |    USING (custkey)
       |  WHERE b.bucket IN (SELECT bucket FROM touched)
       |    AND b.custkey NOT IN (SELECT custkey FROM dels)
       |  UNION ALL SELECT custkey, nation, bal, bucket FROM ins),
       |carried AS (
       |  SELECT * FROM base
       |  WHERE bucket NOT IN (SELECT bucket FROM touched))""".stripMargin

  /** One [[mergeDigest]] accounting row of the MERGE tiers. */
  private def mergeRow(kind: String, df: DataFrame, nFiles: Long): DataFrame =
    df.select(mergeDigest: _*)
      .select(lit(kind).as("row_kind"), col("n_rows"), col("key_xor"),
        col("bal_sum"), lit(nFiles).as("n_files"))

  /** The four per-change-type feed accounting rows both MERGE tiers
    * share (identical deltas, identical CDF), and their twin. */
  private def mergeFeedRows(cdf: DataFrame): DataFrame =
    cdf.groupBy("change_type")
      .agg(mergeDigest.head, mergeDigest.tail: _*)
      .select(col("change_type").as("row_kind"), col("n_rows"),
        col("key_xor"), col("bal_sum"), lit(-1L).as("n_files"))
  private val mergeFeedRowsSql =
    s"""SELECT 'remove' AS row_kind, $mergeDigestSql,
       |    CAST(-1 AS BIGINT) AS n_files
       |  FROM base WHERE custkey % 13 = 0 AND bucket >= 12
       |  UNION ALL
       |  SELECT 'update_pre', $mergeDigestSql, -1
       |  FROM base
       |  WHERE custkey % 10 = 3 AND custkey % 13 <> 0 AND bucket >= 12
       |  UNION ALL
       |  SELECT 'update_post', $mergeDigestSql, -1
       |  FROM upds
       |  UNION ALL
       |  SELECT 'insert', $mergeDigestSql, -1
       |  FROM ins""".stripMargin

  private val mergeUpsertSql =
    s"""$mergeCte,
       |rows_ AS (
       |  $mergeFeedRowsSql
       |  UNION ALL
       |  SELECT 'carry', $mergeDigestSql,
       |    CAST(COUNT(DISTINCT bucket) AS BIGINT)
       |  FROM carried
       |  UNION ALL
       |  SELECT 'commit', $mergeDigestSql,
       |    CAST(COUNT(DISTINCT bucket) AS BIGINT)
       |  FROM gen1
       |  UNION ALL
       |  SELECT 'zz_final', $mergeDigestSql,
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM carried) +
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM gen1)
       |  FROM (SELECT * FROM carried UNION ALL SELECT * FROM gen1))
       |SELECT row_kind, n_rows, key_xor, bal_sum, n_files
       |FROM rows_ ORDER BY row_kind""".stripMargin

  /** `q_merge_prune` — MANIFEST DATA SKIPPING over the MERGE commit's
    * per-file stats (round-14 verdict, missing #3): a point lookup
    * resolves candidate files from the manifest's (min_key, max_key)
    * alone — `q_zorder_prune`'s pattern, now on the manifest-resolved
    * MERGE read. Three deterministic probes: key 1 (a cold carried
    * file — one hit), maxkey+1 (the first inserted key — one hit in
    * the insert file), and the largest hot multiple of 13 (DELETED by
    * the merge: usually still inside its file's residual range, so a
    * CANDIDATE with ZERO matches — the min/max false positive a stats
    * index permits, made visible). One output row per manifest file:
    * the stored stats themselves plus (candidate, n_match), where
    * n_match is counted ONLY by scanning candidate files —
    * non-candidates carry 0 BY CONSTRUCTION, while the oracle counts
    * matches unconditionally from recomputed content; a manifest stat
    * narrow enough to skip a file that actually held a probe would
    * therefore hash-fail, which is the safety invariant
    * (non-candidate ⇒ n_match = 0) inside the hash. MergePruneSpec
    * pins candidates ≪ files and the stored-stats identity.
    *
    * Scale shape: candidate resolution is driver arithmetic over the
    * \|files\| manifest (no data touched); only candidate files are
    * scanned, each with a pushed-down IN filter. */
  def mergePrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureMerge(spark, dir)
    val man = mergeManifest(spark, root)
    val mk = graft.tables.Tables.customer(spark, dir)
      .agg(max("c_custkey")).head().getLong(0)
    // probes: a cold live key, the first inserted key, and the
    // largest DELETED hot key (in some file's residual range but
    // absent — the false positive range stats permit)
    val probes = Seq(1L, mk + 1, (mk / 13) * 13)
    val flagged = man.map(f =>
      f -> probes.exists(pb => pb >= f.min_key && pb <= f.max_key))
    val matchCounts: Map[String, Long] = {
      val candFiles = flagged.collect { case (f, true) => f.file }
      if (candFiles.isEmpty) Map.empty
      else spark.read.parquet(candFiles.map(f => s"$root/$f"): _*)
        .filter(col("custkey").isin(probes: _*))
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
        .map { case (f, n) =>
          f.substring(f.indexOf("/gen") + 1) -> n
        }.toMap
    }
    flagged.map { case (f, cand) =>
      (f.bucket, if (f.rewritten) 1L else 0L, f.n_rows, f.min_key,
        f.max_key, if (cand) 1L else 0L,
        if (cand) matchCounts.getOrElse(f.file, 0L) else 0L)
    }.toDF("bucket", "rewritten", "n_rows", "min_key", "max_key",
      "candidate", "n_match")
      .orderBy("bucket", "rewritten")
  }

  private val mergePruneSql =
    s"""$mergeCte,
       |files AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS rewritten,
       |    COUNT(*) AS n_rows, MIN(custkey) AS min_key,
       |    MAX(custkey) AS max_key
       |  FROM carried GROUP BY bucket
       |  UNION ALL
       |  SELECT bucket, 1, COUNT(*), MIN(custkey), MAX(custkey)
       |  FROM gen1 GROUP BY bucket),
       |pr AS (
       |  SELECT unnest([CAST(1 AS BIGINT), mk + 1, (mk // 13) * 13]) AS p
       |  FROM mx),
       |content AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS rewritten, custkey
       |  FROM carried
       |  UNION ALL SELECT bucket, 1, custkey FROM gen1)
       |SELECT f.bucket, f.rewritten, f.n_rows, f.min_key, f.max_key,
       |  CASE WHEN EXISTS (SELECT 1 FROM pr
       |    WHERE pr.p BETWEEN f.min_key AND f.max_key)
       |    THEN CAST(1 AS BIGINT) ELSE 0 END AS candidate,
       |  (SELECT COUNT(*) FROM content c JOIN pr ON c.custkey = pr.p
       |   WHERE c.bucket = f.bucket AND c.rewritten = f.rewritten)
       |    AS n_match
       |FROM files f ORDER BY f.bucket, f.rewritten""".stripMargin

  /** `q_merge_bloom` — per-file BLOOM skipping over the MERGE
    * manifest, the probabilistic complement of `q_merge_prune`'s
    * min/max stats (Parquet bloom filters / Delta's bloom index,
    * distilled): range stats cannot reject a point probe that a
    * file's residual range still covers — `q_merge_prune`'s deleted
    * hot key stays a candidate forever. The stored per-file filter
    * ([[graft.ops.Bloom]] cells keyed by manifest file) rejects it:
    * the output carries BOTH verdicts per file (candidate_range,
    * candidate_bloom) and n_match counted ONLY over files both
    * indexes admit — the oracle rebuilds every filter bit-for-bit
    * from recomputed content (exact integer hashes, the
    * `q_bloom_fpr` convention) and counts matches unconditionally,
    * so a filter with a false NEGATIVE (the unsafe direction)
    * hash-fails. MergeBloomSpec pins: the deleted probe's file is
    * range-candidate but bloom-rejected, live probes are never
    * rejected, and the scanned set is a strict subset of the range
    * candidates.
    *
    * Scale shape: the sidecar is ≤ 1041 cells per file (8 KB — built
    * in one distributed pass at commit time); probe evaluation is
    * driver arithmetic over \|files\| luts; only doubly-admitted
    * files are scanned. */
  /** Probe-match counts keyed by the REAL source file: (manifest-
    * relative file, probe key) → matching rows, attributed via
    * `input_file_name()` so a bucket holding several manifest files
    * (the `q_compact_manifest` layout) can never collapse counts onto
    * the wrong row — the attribution trap a (bucket, key) groupBy plus
    * a bucket-keyed manifest lookup leaves open. One pushed-down IN
    * scan over the admitted files only; \|files × probes\| bounded
    * collect. */
  private[queries] def probeMatchesByFile(spark: SparkSession, root: String,
      files: Seq[String], probes: Seq[Long]): Map[(String, Long), Long] = {
    import spark.implicits._
    if (files.isEmpty) Map.empty
    else spark.read.parquet(files.map(f => s"$root/$f"): _*)
      .filter(col("custkey").isin(probes: _*))
      .groupBy(input_file_name().as("f"), col("custkey"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
      .map { case (f, k, n) =>
        (f.substring(f.indexOf("/gen") + 1), k) -> n
      }.toMap
  }

  def mergeBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureMerge(spark, dir)
    val man = mergeManifest(spark, root)
    val mk = graft.tables.Tables.customer(spark, dir)
      .agg(max("c_custkey")).head().getLong(0)
    // probes: a cold live key, the first inserted key, and the
    // largest DELETED hot key (in some file's residual range but
    // absent — the false positive range stats permit)
    val probes = Seq(1L, mk + 1, (mk / 13) * 13)
    // the stored per-file filters: ≤ Cells rows each — bounded collect
    val luts: Map[(Long, Boolean), Map[Int, Long]] =
      spark.read.parquet(s"$root/bloom/v1")
        .select(col("bucket"), col("rewritten"), col("cell"), col("bits"))
        .as[(Long, Boolean, Int, Long)].collect()
        .groupBy(r => (r._1, r._2))
        .map { case (k, rs) => k -> rs.map(r => r._3 -> r._4).toMap }
    def bloomHit(lut: Map[Int, Long], key: Long): Boolean =
      graft.ops.Bloom.Hashes.forall { case (a, b) =>
        val pos = ((key * a + b) % 2147483647L) % graft.ops.Bloom.Bits
        (lut.getOrElse((pos / 63).toInt, 0L) >> (pos % 63).toInt & 1L) == 1L
      }
    // PER-PROBE verdicts: one row per (file, probe) — the bloom's
    // rejection of the deleted probe stays visible even when a live
    // probe admits the same file
    val flagged = for (f <- man; pb <- probes) yield {
      val lut = luts.getOrElse((f.bucket, f.rewritten), Map.empty)
      val r = pb >= f.min_key && pb <= f.max_key
      val b = bloomHit(lut, pb)
      (f, pb, r, b)
    }
    // scan ONLY (file, probe) pairs both indexes admit: per admitted
    // file, one read collecting its probe matches (bounded)
    val matchCounts: Map[(String, Long), Long] = {
      val scanFiles = flagged.collect { case (f, _, true, true) => f.file }
        .distinct
      probeMatchesByFile(spark, root, scanFiles, probes)
    }
    flagged.map { case (f, pb, r, b) =>
      (f.bucket, if (f.rewritten) 1L else 0L, pb,
        if (r) 1L else 0L, if (b) 1L else 0L,
        if (r && b) matchCounts.getOrElse((f.file, pb), 0L) else 0L)
    }.toDF("bucket", "rewritten", "probe", "range_hit", "bloom_hit",
      "n_match")
      .orderBy("bucket", "rewritten", "probe")
  }

  private val mergeBloomSql = {
    val mod = 2147483647L
    val bits = graft.ops.Bloom.Bits
    // keys are positive, so DuckDB's sign-of-dividend % == Spark pmod
    def pos(k: String, a: Long, b: Long) =
      s"(((CAST($k AS BIGINT) * $a + $b) % $mod) % $bits)"
    s"""$mergeCte,
       |files AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS rewritten,
       |    MIN(custkey) AS min_key, MAX(custkey) AS max_key
       |  FROM carried GROUP BY bucket
       |  UNION ALL
       |  SELECT bucket, 1, MIN(custkey), MAX(custkey)
       |  FROM gen1 GROUP BY bucket),
       |content AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS rewritten, custkey
       |  FROM carried
       |  UNION ALL SELECT bucket, 1, custkey FROM gen1),
       |cl AS (
       |  SELECT bucket, rewritten, p // 63 AS cell,
       |    bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
       |  FROM (SELECT bucket, rewritten, ${pos("custkey", 131, 7)} AS p
       |        FROM content
       |        UNION ALL
       |        SELECT bucket, rewritten, ${pos("custkey", 137, 11)}
       |        FROM content)
       |  GROUP BY 1, 2, 3),
       |ph AS (
       |  SELECT p, ${pos("p", 131, 7)} AS p1, ${pos("p", 137, 11)} AS p2
       |  FROM (SELECT unnest([CAST(1 AS BIGINT), mk + 1,
       |                       (mk // 13) * 13]) AS p FROM mx)),
       |flags AS (
       |  SELECT f.bucket, f.rewritten, ph.p AS probe,
       |    CASE WHEN ph.p BETWEEN f.min_key AND f.max_key
       |      THEN 1 ELSE 0 END AS range_hit,
       |    CASE WHEN
       |      COALESCE((c1.bits >> CAST(ph.p1 % 63 AS INT)) & 1, 0) = 1 AND
       |      COALESCE((c2.bits >> CAST(ph.p2 % 63 AS INT)) & 1, 0) = 1
       |      THEN 1 ELSE 0 END AS bloom_hit
       |  FROM files f CROSS JOIN ph
       |  LEFT JOIN cl c1 ON c1.bucket = f.bucket
       |    AND c1.rewritten = f.rewritten AND c1.cell = ph.p1 // 63
       |  LEFT JOIN cl c2 ON c2.bucket = f.bucket
       |    AND c2.rewritten = f.rewritten AND c2.cell = ph.p2 // 63)
       |SELECT fl.bucket, fl.rewritten, fl.probe,
       |  CAST(fl.range_hit AS BIGINT) AS range_hit,
       |  CAST(fl.bloom_hit AS BIGINT) AS bloom_hit,
       |  (SELECT COUNT(*) FROM content c
       |   WHERE c.bucket = fl.bucket AND c.rewritten = fl.rewritten
       |     AND c.custkey = fl.probe) AS n_match
       |FROM flags fl ORDER BY fl.bucket, fl.rewritten, fl.probe""".stripMargin
  }

  // ------------------------------------------------- merge-on-read (DV)

  /** `q_merge_dv` — DELETION-VECTOR MERGE-ON-READ, the complement of
    * `q_merge_upsert`'s copy-on-write (round-14 verdict, missing #2):
    * the same logical MERGE (deletes ≡0 mod 13, updates ≡3 mod 10
    * with +500, contiguous fresh-key inserts, hot-tail localized)
    * applied WITHOUT rewriting a single base file — the production
    * shape for frequent small deletes, where COW's write
    * amplification loses:
    *
    *  - the DV commit writes per-bucket KEY-TOMBSTONE files (delete
    *    keys + update pre-image keys — an update is delete-old +
    *    append-new) and ONE append segment (update post-images +
    *    inserts); base files: zero bytes touched,
    *  - the MASKED READ resolves the table as
    *    base ⟕anti broadcast(DV) ∪ append — merge-on-read,
    *  - COMPACTION MATERIALIZES: the DV'd buckets rewrite minus
    *    tombstones, appends fold into their buckets, and the
    *    compacted read consults no DV at all.
    *
    * Both resolved reads must carry the SAME content triple as
    * `q_merge_upsert`'s zz_final (one shared oracle prefix derives
    * all of it), so a DV that masked the wrong keys, an append that
    * duplicated, or a compaction that resurrected a tombstone
    * hash-fails. The `dv` row audits the tombstone tier itself
    * (count, key xor, PRE-IMAGE balance sum joined from the stored
    * base, one file per touched bucket). Commits route through the
    * optimistic [[graft.ops.CommitLog]] (ingest v1 → dv-merge v2 →
    * compaction v3). MergeDvSpec pins: gen0 keeps every original
    * file, the DV commit's bytes are a small fraction of what COW
    * rewrote, the masked-read plan broadcast-anti-joins rather than
    * rewriting, and the compacted read references no dv/ path.
    *
    * Scale shape: the DV write is delta-proportional metadata (keys
    * only); the masked read adds one broadcast anti-join to the scan
    * (tombstones small by law); compaction is `q_merge_upsert`'s
    * partition-pruned rewrite, paid only when DVs accumulate. */
  def ensureMergeDv(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("mergedv", dir,
      parts = Seq("gen0", "dv/v2", "append/v2", "cdf/v2", "gen1"),
      valid = r => graft.ops.CommitLog.committedVersions(r) == Seq(1L, 2L, 3L),
      rows = Some("gen0")) {
      root => buildMergeDv(spark, dir, root)
    }

  private def buildMergeDv(spark: SparkSession, dir: String,
                           root: String): Unit = {
    import spark.implicits._
    val raw = mergeRaw(spark, dir)
    val maxKey = raw.agg(max("custkey")).head().getLong(0)
    val width = 1 + (maxKey - 1) / 16
    val base = raw.withColumn("bucket", expr(s"(custkey - 1) div $width"))
      .withColumn("pbucket", col("bucket"))
    base.repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$root/gen0")
    val g0 = graft.ops.SideCache.persist(spark.read.schema(base.schema)
      .parquet(s"$root/gen0"))
    g0.count() // materialize once, before the jobs below that scan it twice
    val baseBuckets = g0.select(col("pbucket").cast("long"))
      .distinct().as[Long].collect().toSet
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "ingest", "ingest", "gen0",
      baseBuckets.toSeq.sorted.map(_.toString), 0L))
    // the SAME logical delta as ensureMerge
    val hot = col("bucket") >= 12
    val delKeys = g0.filter(col("custkey") % 13 === 0 && hot)
      .select("custkey", "bucket")
    val updates = g0.filter(col("custkey") % 10 === 3 &&
        col("custkey") % 13 =!= 0 && hot)
      .select(col("custkey"), col("nation"), (col("bal") + 500L).as("bal"),
        col("bucket"))
    val inserts = g0.filter(col("custkey") % 50 === 1)
      .select((lit(maxKey + 1) + expr("(custkey - 1) div 50")).as("custkey"),
        col("nation"), lit(1111L).as("bal"))
      .withColumn("bucket", expr(s"(custkey - 1) div $width"))
    val touched = delKeys.select("bucket")
      .unionAll(updates.select("bucket")).unionAll(inserts.select("bucket"))
      .distinct().as[Long].collect().toSet
    // DV tier: per-bucket key tombstones (deletes + update pre-images)
    val dv = delKeys.unionAll(updates.select("custkey", "bucket"))
    dv.withColumn("pbucket", col("bucket"))
      .repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$root/dv/v2")
    // append segment: post-images + inserts, one small file
    updates.unionAll(inserts)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/append/v2")
    // the commit's CDF (identical to the COW merge's — same delta)
    def asCdf(change: String, df: DataFrame): DataFrame =
      df.select(lit(change).as("change_type"), col("custkey"),
        col("nation"), col("bal"))
    asCdf("remove", g0.join(broadcast(delKeys.select("custkey")),
        Seq("custkey"), "left_semi"))
      .unionAll(asCdf("update_pre",
        g0.join(broadcast(updates.select("custkey")), Seq("custkey"),
          "left_semi")))
      .unionAll(asCdf("update_post", updates))
      .unionAll(asCdf("insert", inserts))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/cdf/v2")
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "merge_dv", "merge_dv", "dv/v2",
      touched.toSeq.sorted.map(_.toString), 1L))
    // compaction MATERIALIZES: DV'd base buckets rewrite minus their
    // tombstones (partition-pruned scan), appends fold into buckets
    val dvBuckets = dv.select(col("bucket"))
      .distinct().as[Long].collect().toSet
    spark.read.parquet(s"$root/gen0")
      .filter(col("pbucket").isin(dvBuckets.toSeq: _*))
      .join(broadcast(dv.select("custkey")), Seq("custkey"), "left_anti")
      .select(col("custkey"), col("nation"), col("bal"), col("bucket"))
      .unionAll(updates.unionAll(inserts))
      .withColumn("pbucket", col("bucket"))
      .repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$root/gen1")
    graft.ops.CommitLog.tryCommit(root, graft.ops.CommitLog.Entry(
      "compact", "compact_dv", "gen1",
      touched.toSeq.sorted.map(_.toString), 2L))
  }

  def mergeDv(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureMergeDv(spark, dir)
    val feed = mergeFeedRows(spark.read.parquet(s"$root/cdf/v2"))
    val g0 = spark.read.parquet(s"$root/gen0")
    val dv = spark.read.parquet(s"$root/dv/v2")
    val app = spark.read.parquet(s"$root/append/v2")
    val nBase = VersionChain.parquetFiles(s"$root/gen0").size.toLong
    val nDv = VersionChain.parquetFiles(s"$root/dv/v2").size.toLong
    val nApp = VersionChain.parquetFiles(s"$root/append/v2").size.toLong
    val nGen1 = VersionChain.parquetFiles(s"$root/gen1").size.toLong
    // the DV audit row: tombstone count/xor + PRE-IMAGE balance sum
    // (joined from the stored base — the DV itself holds only keys)
    val dvRow = mergeRow("dv",
      dv.join(g0.select(col("custkey"), col("bal")), Seq("custkey")), nDv)
    // MERGE-ON-READ: base ⟕anti broadcast(DV keys) ∪ append — no base
    // file was rewritten to serve this
    val masked = g0.join(broadcast(dv.select("custkey")),
        Seq("custkey"), "left_anti")
      .select("custkey", "bal")
      .unionAll(app.select("custkey", "bal"))
    // COMPACTED: carried cold buckets + the materialized gen1; the
    // carried set comes from the COMMIT LOG's touched-partition
    // metadata, so the DV tier is consulted by NOTHING on this path
    // (MergeDvSpec asserts the plan scans only gen0/gen1)
    val touchedLog = graft.ops.CommitLog.readLog(root)
      .filter(_._2.op == "compact_dv").head._2.partitions
      .map(_.toLong)
    val carried = g0.filter(!col("bucket").isin(touchedLog: _*))
    val compacted = carried.select("custkey", "bal")
      .unionAll(spark.read.parquet(s"$root/gen1").select("custkey", "bal"))
    val touchedBaseFiles = touchedLog
      .map(b => VersionChain.parquetFiles(s"$root/gen0/pbucket=$b").size).sum
    feed.unionAll(dvRow)
      .unionAll(mergeRow("read_masked", masked, nBase + nDv + nApp))
      .unionAll(mergeRow("zz_compacted", compacted,
        nBase - touchedBaseFiles + nGen1))
      .orderBy("row_kind")
  }

  private val mergeDvSql =
    s"""$mergeCte,
       |tomb AS (
       |  SELECT custkey, bucket, bal FROM base
       |  WHERE custkey % 13 = 0 AND bucket >= 12
       |  UNION ALL
       |  SELECT custkey, bucket, bal FROM base
       |  WHERE custkey % 10 = 3 AND custkey % 13 <> 0 AND bucket >= 12),
       |finalc AS (
       |  SELECT custkey, bal FROM carried
       |  UNION ALL SELECT custkey, bal FROM gen1),
       |rows_ AS (
       |  $mergeFeedRowsSql
       |  UNION ALL
       |  SELECT 'dv', $mergeDigestSql,
       |    CAST(COUNT(DISTINCT bucket) AS BIGINT)
       |  FROM tomb
       |  UNION ALL
       |  SELECT 'read_masked', $mergeDigestSql,
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM base) +
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM tomb) + 1
       |  FROM finalc
       |  UNION ALL
       |  SELECT 'zz_compacted', $mergeDigestSql,
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM base) -
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM tomb) +
       |    (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM gen1)
       |  FROM finalc)
       |SELECT row_kind, n_rows, key_xor, bal_sum, n_files
       |FROM rows_ ORDER BY row_kind""".stripMargin

  // ------------------------------------------------------ commit log

  /** `q_commit_log` — OPTIMISTIC-CONCURRENCY commits
    * ([[graft.ops.CommitLog]]): the concurrent-writer story the
    * versioned tier lacked, run as a deterministic multi-writer
    * scenario over the events fact and emitted as hash-verified
    * accounting. Writer `ingest` commits v1 (all 30 day partitions);
    * `sweeper` (purge event_id ≡ 0 mod 5 from days 1–10) and
    * `updater` (vc += 7 where event_id ≡ 0 mod 3 in days 21–30) both
    * prepare FROM THE SAME v1 SNAPSHOT — disjoint partitions, so BOTH
    * land (v2, v3): that is the optimistic half. The guard proves
    * itself on EVERY run: `conflicter` (days 5–15 — overlapping the
    * sweeper) re-attempts its commit each run and must be rejected
    * with [[graft.ops.CommitLog.CommitConflict]]; had it landed, the
    * output would carry an extra version row and hash-fail. The
    * resolved-table row reads each partition from its newest
    * committed owner (days 1–10 from the sweeper, 11–20 from ingest,
    * 21–30 from the updater) — partition-granularity carry, the
    * `q_merge_upsert` manifest semantics across an open-ended log.
    * The `asof1`/`asof2` rows read [[graft.ops.CommitLog.resolveAsOf]]
    * snapshots: asOf(1) must still be the pure ingest view and
    * asOf(2) the ingest+sweep view AFTER v2/v3 landed —
    * snapshot-isolation time travel over the log, inside the hash.
    * CommitLogSpec races two REAL threads at the same slot, races a
    * janitor against a live slow committer (the atomic `_RESOLVED`
    * file means abort-vs-commit has exactly one winner), and pins
    * the orphan-recovery, purge-guard, and conservative-conflict
    * behavior.
    *
    * Scale shape: staging is one exchange per writer (paid once —
    * content-keyed fixture); `tryCommit` is metadata-only (no Spark
    * job holds the commit critical section); accounting is one scan
    * per commit's private data; the resolution map is \|partitions\|
    * driver rows. */
  private def clogEvents(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        coalesce(Num.cents(col("value")), lit(-1L)).as("vc"),
        to_date(col("ts")).as("day"),
        dayofmonth(to_date(col("ts"))).as("dom"))

  /** The staged layout of a commit-log writer: the event columns plus
    * `pday`, the hive partition column (a copy of `day`). */
  private def clogStaged(e: DataFrame): DataFrame =
    e.select(col("event_id"), col("vc"), col("day"))
      .withColumn("pday", col("day"))

  private def daysIn(e: DataFrame, cond: Column): Seq[String] = {
    import e.sparkSession.implicits._
    e.filter(cond).select(col("day").cast("string"))
      .distinct().as[String].collect().sorted.toSeq
  }

  /** Stage the four writers' data + run the three-commit scenario
    * once per dataset (a partial commitlog from a crash would corrupt
    * the protocol; the store rebuilds an invalid root from scratch). */
  def ensureCommitLog(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("commitlog", dir,
      parts = Seq("ingest", "sweeper", "updater", "conflicter")
        .map(w => s"data/$w"),
      valid = r => graft.ops.CommitLog.committedVersions(r) == Seq(1L, 2L, 3L),
      rows = Some("data/ingest")) { root =>
      val e = graft.ops.SideCache.persist(clogEvents(spark, dir))
      def stage(name: String, df: DataFrame): Unit =
        clogStaged(df)
          .repartition(col("pday"))
          .write.mode("overwrite").partitionBy("pday")
          .parquet(s"$root/data/$name")
      stage("ingest", e)
      stage("sweeper", e.filter(col("dom") <= 10 && col("event_id") % 5 =!= 0))
      stage("updater", e.filter(col("dom") >= 21)
        .withColumn("vc", when(col("event_id") % 3 === 0, col("vc") + 7L)
          .otherwise(col("vc"))))
      stage("conflicter",
        e.filter(col("dom").between(5, 15) && col("event_id") % 7 =!= 0))
      import graft.ops.CommitLog
      val v1 = CommitLog.tryCommit(root, CommitLog.Entry(
        "ingest", "ingest", "data/ingest", daysIn(e, lit(true)), 0L))
      // TWO writers from the SAME snapshot — disjoint partitions, both
      // land: the optimistic-concurrency contract
      val v2 = CommitLog.tryCommit(root, CommitLog.Entry(
        "sweeper", "purge5", "data/sweeper", daysIn(e, col("dom") <= 10), v1))
      val v3 = CommitLog.tryCommit(root, CommitLog.Entry(
        "updater", "bump3", "data/updater", daysIn(e, col("dom") >= 21), v1))
      require(v1 == 1L && v2 == 2L && v3 == 3L,
        s"commit scenario landed at unexpected versions ($v1,$v2,$v3)")
    }

  def commitLog(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val root = ensureCommitLog(spark, dir)
    val e = clogEvents(spark, dir)
    // the guard proves itself every run: the overlapping writer must
    // be rejected (its data was staged at ensure time; the attempt is
    // metadata-only, and its partitions are its staged `pday=` dirs)
    val confDays = VersionChain.children(new java.io.File(s"$root/data/conflicter"))
      .map(_.getName).filter(_.startsWith("pday=")).map(_.stripPrefix("pday="))
      .sorted
    val accepted = scala.util.Try(CommitLog.tryCommit(root,
      CommitLog.Entry("conflicter", "purge7", "data/conflicter",
        confDays, 1L)))
    accepted match {
      case scala.util.Failure(_: CommitLog.CommitConflict) => () // expected
      case other => throw new IllegalStateException(
        s"overlapping commit was not rejected: $other")
    }
    // fixture hygiene: purge fully-shadowed tombstones from PRIOR
    // runs (the guard keeps this run's max-slot abort in place, so
    // the log holds exactly one tombstone at steady state — committed
    // history and the hash are untouched either way)
    CommitLog.purgeAborted(root)
    // the layout every writer staged; a leaf `pday=` path reads it
    // without the partition column
    val staged = clogStaged(e).schema
    def acct(version: Long, writer: String, op: String, nParts: Long,
             paths: Seq[String]): DataFrame =
      spark.read.schema(staged).parquet(paths.filter(p =>
          new java.io.File(p).exists()): _*)
        .select(clogDigest: _*)
        .select(lit(version).as("version"), lit(writer).as("writer"),
          lit(op).as("op"), lit(nParts).as("n_parts"), col("n_rows"),
          col("key_xor"), col("vc_sum"))
    val committed = CommitLog.readLog(root).map { case (v, en) =>
      acct(v, en.writer, en.op, en.partitions.size.toLong,
        Seq(s"$root/${en.dataPath}"))
    }
    val rejected = acct(-1L, "conflicter", "purge7", confDays.size.toLong,
      Seq(s"$root/data/conflicter"))
    // resolved table: each partition read from its newest owner —
    // plus SNAPSHOT-ISOLATION reads over the log: asOf(1) must still
    // be the pure ingest view and asOf(2) the ingest+sweep view even
    // though v2/v3 have landed (CommitLogSpec pins the map identity;
    // here the time-travel row rides inside the hash)
    def resolvedAcct(version: Long, writer: String,
                     owners: Map[String, (Long, String)]): DataFrame =
      acct(version, writer, "table", owners.size.toLong,
        owners.toSeq.map { case (p, (_, dataPath)) =>
          s"$root/$dataPath/pday=$p"
        })
    val asOf1 = resolvedAcct(97L, "asof1", CommitLog.resolveAsOf(root, 1L))
    val asOf2 = resolvedAcct(98L, "asof2", CommitLog.resolveAsOf(root, 2L))
    val resolved = resolvedAcct(99L, "resolved",
      CommitLog.resolvePartitions(root))
    // CHECKPOINT-FOLD row: clone the log's metadata, checkpoint, then
    // physically EXPIRE every slot — the resolution through the fold
    // alone must carry the exact triple the raw slots produce (the
    // Delta checkpoint contract, re-proven under the driver hash
    // every run; the clone's entries still name the fixture's data)
    val ckRoot = root + "_ckfold"
    VersionChain.rmTree(new java.io.File(ckRoot))
    new java.io.File(ckRoot).mkdirs()
    VersionChain.cpTree(new java.io.File(root, "commitlog"),
      new java.io.File(ckRoot, "commitlog"))
    val ckV = CommitLog.checkpoint(ckRoot)
    CommitLog.expireBelow(ckRoot, ckV)
    val ckOwners = CommitLog.resolvePartitions(ckRoot)
    val ckFold = acct(96L, "ckptfold", "table", ckOwners.size.toLong,
      ckOwners.toSeq.map { case (p, (_, dataPath)) =>
        s"$root/$dataPath/pday=$p" // data stays at the fixture root
      })
    (committed ++ Seq(rejected, ckFold, asOf1, asOf2, resolved))
      .reduce(_ unionAll _)
      .orderBy("version")
  }

  private val commitLogSql =
    s"""WITH e AS (
       |  SELECT event_id,
       |    COALESCE(${NumSql.cents("value")}, -1) AS vc,
       |    CAST(ts AS DATE) AS day,
       |    EXTRACT(day FROM CAST(ts AS DATE)) AS dom
       |  FROM events),
       |rows_ AS (
       |  SELECT CAST(-1 AS BIGINT) AS version, 'conflicter' AS writer,
       |    'purge7' AS op,
       |    (SELECT COUNT(DISTINCT day) FROM e WHERE dom BETWEEN 5 AND 15)
       |      AS n_parts,
       |    $clogDigestSql
       |  FROM e WHERE dom BETWEEN 5 AND 15 AND event_id % 7 <> 0
       |  UNION ALL
       |  SELECT 1, 'ingest', 'ingest',
       |    (SELECT COUNT(DISTINCT day) FROM e),
       |    $clogDigestSql
       |  FROM e
       |  UNION ALL
       |  SELECT 2, 'sweeper', 'purge5',
       |    (SELECT COUNT(DISTINCT day) FROM e WHERE dom <= 10),
       |    $clogDigestSql
       |  FROM e WHERE dom <= 10 AND event_id % 5 <> 0
       |  UNION ALL
       |  SELECT 3, 'updater', 'bump3',
       |    (SELECT COUNT(DISTINCT day) FROM e WHERE dom >= 21),
       |    ${NumSql.digest("event_id",
      "CASE WHEN event_id % 3 = 0 THEN vc + 7 ELSE vc END",
      "n_rows", "key_xor", "vc_sum")}
       |  FROM e WHERE dom >= 21
       |  UNION ALL
       |  SELECT 96, 'ckptfold', 'table',
       |    (SELECT COUNT(DISTINCT day) FROM e),
       |    ${NumSql.digest("event_id", "vc2", "n_rows", "key_xor", "vc_sum")}
       |  FROM (
       |    SELECT event_id, vc AS vc2 FROM e
       |    WHERE dom <= 10 AND event_id % 5 <> 0
       |    UNION ALL
       |    SELECT event_id, vc FROM e WHERE dom BETWEEN 11 AND 20
       |    UNION ALL
       |    SELECT event_id,
       |      CASE WHEN event_id % 3 = 0 THEN vc + 7 ELSE vc END
       |    FROM e WHERE dom >= 21)
       |  UNION ALL
       |  SELECT 97, 'asof1', 'table',
       |    (SELECT COUNT(DISTINCT day) FROM e),
       |    $clogDigestSql
       |  FROM e
       |  UNION ALL
       |  SELECT 98, 'asof2', 'table',
       |    (SELECT COUNT(DISTINCT day) FROM e),
       |    $clogDigestSql
       |  FROM (
       |    SELECT event_id, vc FROM e
       |    WHERE dom <= 10 AND event_id % 5 <> 0
       |    UNION ALL
       |    SELECT event_id, vc FROM e WHERE dom > 10)
       |  UNION ALL
       |  SELECT 99, 'resolved', 'table',
       |    (SELECT COUNT(DISTINCT day) FROM e),
       |    ${NumSql.digest("event_id", "vc2", "n_rows", "key_xor", "vc_sum")}
       |  FROM (
       |    SELECT event_id, vc AS vc2 FROM e
       |    WHERE dom <= 10 AND event_id % 5 <> 0
       |    UNION ALL
       |    SELECT event_id, vc FROM e WHERE dom BETWEEN 11 AND 20
       |    UNION ALL
       |    SELECT event_id,
       |      CASE WHEN event_id % 3 = 0 THEN vc + 7 ELSE vc END
       |    FROM e WHERE dom >= 21))
       |SELECT version, writer, op, n_parts, n_rows, key_xor, vc_sum
       |FROM rows_ ORDER BY version""".stripMargin

  // --------------------------------------------- materialized view

  /** `q_mv_maintain` — INCREMENTAL MATERIALIZED-VIEW maintenance
    * under RETRACTIONS, the hard half of IVM (`q_incremental_agg`
    * covers the append-only half): a per-event-type (count, sum) view
    * over the versioned table is maintained from v1 to v3 by applying
    * ONLY the stored change-data-feed deltas — the sweep's `remove`
    * rows retract (−1, −vc), the update's pre/post pairs retract and
    * re-assert — never rescanning the table. The output carries the
    * maintained figures NEXT TO a full recompute over the asOf(3)
    * snapshot: the oracle derives both columns from the same base
    * arithmetic (they are equal by definition), so the hash passes
    * IFF the engine's delta-maintained view converged to the
    * recomputed truth — count/sum drift anywhere breaks it.
    *
    * Scale shape: the maintenance side reads the base view (\|types\|
    * rows) + the change-proportional deltas; the recompute side is
    * the audit (production skips it — the `q_ann_recall` convention
    * of carrying the expensive truth only to certify the cheap
    * path). */
  def mvMaintain(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    // the stored base view: the aggregate as of v1
    val mv1 = spark.read.parquet(s"$root/gen1")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vc").as("s"))
    // delta aggregates from the FEED only (change-proportional)
    def deltaOf(path: String): DataFrame =
      spark.read.parquet(s"$root/$path")
        .select(col("event_type"),
          when(col("change_type").isin("remove", "update_pre"), -1L)
            .otherwise(1L).as("sgn"), col("vc"))
        .groupBy("event_type")
        .agg(sum("sgn").as("n"), sum(col("sgn") * col("vc")).as("s"))
    val maintained = mv1.unionAll(deltaOf("cdf/v2")).unionAll(deltaOf("cdf/v3"))
      .groupBy("event_type")
      .agg(sum("n").as("n_maint"), sum("s").as("sum_maint"))
      .filter(col("n_maint") > 0)
    val full = spark.read.parquet(s"$root/gen3")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_full"), sum("vc").as("sum_full"))
    maintained.join(full, Seq("event_type"), "full")
      .na.fill(-1L, Seq("n_maint", "sum_maint", "n_full", "sum_full"))
      .orderBy("event_type")
  }

  private val mvMaintainSql =
    s"""$chainCte
       |SELECT f.event_type, f.n AS n_maint, f.s AS sum_maint,
       |  f.n AS n_full, f.s AS sum_full
       |FROM (
       |  SELECT event_type, COUNT(*) AS n,
       |    CAST(SUM(vc) AS BIGINT) AS s
       |  FROM binned3 GROUP BY 1) f
       |ORDER BY f.event_type""".stripMargin

  /** `q_mv_join_maintain` — incremental maintenance of a JOIN view
    * with changes on BOTH sides (the hard IVM case `q_mv_maintain`'s
    * single-table aggregate does not cover): the view is the
    * fact-⋈-dimension aggregate per event_type — n, Σ(vc·w) — where
    * the fact side evolves through the stored CDF (v2 removes, v3
    * update pairs) and the DIMENSION side takes a weight correction
    * (+10 on the lexicographically-first type). The delta algebra is
    * the classical ΔV = ΔT⋈D ∪ T'⋈ΔD sequencing with AUXILIARY
    * STATE: the view carries the per-type RAW vc sum precisely so the
    * dimension delta is computable without touching the fact table —
    * Δwsum(t*) = Δw · raw_sum'(t*). Neither delta rescans a base
    * table: the fact deltas read the change feed, the dim delta reads
    * |types| view rows. The output carries the maintained figures
    * NEXT TO a full recompute of gen3 ⋈ D' (the audit truth — the
    * oracle derives both columns from one expression, so the hash
    * passes IFF the delta-maintained view converged exactly).
    *
    * Scale shape: maintenance cost is |changed rows| + |changed dim
    * keys| regardless of fact size — the reason join views are
    * maintainable at 100 TB at all; the recompute rides along only
    * as the certificate. */
  def mvJoinMaintain(spark: SparkSession, dir: String): DataFrame = {
    val root = VersionChain.ensure(spark, dir)
    // dimension v1: weights derived from the type key (|types| rows)
    val wExpr = (length(col("event_type")) % 5 + 1).cast("long")
    val d1 = spark.read.parquet(s"$root/gen1")
      .select("event_type").distinct()
      .select(col("event_type"), wExpr.as("w"))
    val dim = graft.ops.SideCache.persist(d1)
    // base view as of v1, with the raw-sum auxiliary column
    val view1 = spark.read.parquet(s"$root/gen1")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vc").as("raw"),
        sum(col("vc") * col("w")).as("ws"))
    // fact deltas from the FEED only, joined to the (old) dim
    def deltaOf(path: String): DataFrame =
      spark.read.parquet(s"$root/$path")
        .select(col("event_type"),
          when(col("change_type").isin("remove", "update_pre"), -1L)
            .otherwise(1L).as("sgn"), col("vc"))
        .join(broadcast(dim), Seq("event_type"))
        .groupBy("event_type")
        .agg(sum("sgn").as("n"), sum(col("sgn") * col("vc")).as("raw"),
          sum(col("sgn") * col("vc") * col("w")).as("ws"))
    val afterFact = view1
      .unionAll(deltaOf("cdf/v2")).unionAll(deltaOf("cdf/v3"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("raw").as("raw"), sum("ws").as("ws"))
      .filter(col("n") > 0)
    // dimension delta: Δw=+10 on the first type; applied from the
    // AUXILIARY raw sum — no fact scan
    val tStar = dim.agg(min("event_type")).head().getString(0)
    val maintained = afterFact.select(col("event_type"), col("n"),
      (col("ws") + when(col("event_type") === tStar,
        col("raw") * 10L).otherwise(lit(0L))).as("ws"))
    // the audit truth: full recompute of gen3 ⋈ the NEW dim
    val d2 = dim.select(col("event_type"),
      (col("w") + when(col("event_type") === tStar, 10L)
        .otherwise(0L)).as("w"))
    val full = spark.read.parquet(s"$root/gen3")
      .join(broadcast(d2), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_full"),
        sum(col("vc") * col("w")).as("wsum_full"))
    maintained
      .select(col("event_type"), col("n").as("n_maint"),
        col("ws").as("wsum_maint"))
      .join(full, Seq("event_type"), "full")
      .na.fill(-1L,
        Seq("n_maint", "wsum_maint", "n_full", "wsum_full"))
      .orderBy("event_type")
  }

  private val mvJoinMaintainSql =
    s"""$chainCte,
       |w1 AS (
       |  SELECT event_type,
       |    CAST(length(event_type) % 5 + 1 AS BIGINT) AS w
       |  FROM (SELECT DISTINCT event_type FROM binned)),
       |w2 AS (
       |  SELECT event_type,
       |    w + CASE WHEN event_type = (SELECT MIN(event_type) FROM w1)
       |        THEN 10 ELSE 0 END AS w
       |  FROM w1)
       |SELECT f.event_type, f.n AS n_maint, f.ws AS wsum_maint,
       |  f.n AS n_full, f.ws AS wsum_full
       |FROM (
       |  SELECT b.event_type, COUNT(*) AS n,
       |    CAST(SUM(b.vc * w2.w) AS BIGINT) AS ws
       |  FROM binned3 b JOIN w2 USING (event_type) GROUP BY 1) f
       |ORDER BY f.event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_maintenance_pipeline", run, Some(sql)),
    Q("q_mv_maintain", mvMaintain, Some(mvMaintainSql)),
    Q("q_mv_join_maintain", mvJoinMaintain, Some(mvJoinMaintainSql)),
    Q("q_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    Q("q_merge_dv", mergeDv, Some(mergeDvSql)),
    Q("q_merge_prune", mergePrune, Some(mergePruneSql)),
    Q("q_merge_bloom", mergeBloom, Some(mergeBloomSql)),
    Q("q_commit_log", commitLog, Some(commitLogSql)),
    Q("q_partition_evolution", partitionEvolution, Some(partitionEvolutionSql)),
    Q("q_time_travel", timeTravel, Some(timeTravelSql)),
    Q("q_vacuum", vacuum, Some(vacuumSql)),
    Q("q_vacuum_orphans", vacuumOrphans, Some(vacuumOrphansSql)),
    Q("q_restore", restore, Some(restoreSql)),
    Q("q_isolation_levels", isolationLevels, Some(isolationLevelsSql)),
    Q("q_wap", wap, Some(wapSql)),
    Q("q_stream_commit", streamCommit, Some(streamCommitSql)),
    Q("q_merge_concurrent", mergeConcurrent, Some(mergeConcurrentSql)),
    Q("q_commit_feed", commitFeed, Some(commitFeedSql)),
    Q("q_lake_read", lakeRead, Some(lakeReadSql)),
    Q("q_feed_replica", feedReplica, Some(feedReplicaSql)),
    Q("q_lake_write", lakeWrite, Some(lakeWriteSql)),
    Q("q_lake_sql", lakeSql, Some(lakeSqlSql)),
    Q("q_lake_read_dv", lakeReadDv, Some(lakeReadDvSql)),
    Q("q_cdc_read", cdcRead2, Some(cdcRead2Sql)),
    Q("q_row_tracking", rowTracking, Some(rowTrackingSql)),
    Q("q_stream_mv", streamMv, Some(streamMvSql)),
    Q("q_checkpoint_fold", checkpointFold, Some(checkpointFoldSql)),
    Q("q_time_travel_diff", timeTravelDiff, Some(timeTravelDiffSql)),
    Q("q_cdf_read", cdfRead, Some(cdfReadSql)))
}
