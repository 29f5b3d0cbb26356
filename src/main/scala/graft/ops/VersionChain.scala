package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SHARED versioned-table fixture of the lakehouse maintenance
  * tier: one immutable generation chain over the events fact plus its
  * CHANGE-DATA-FEED, committed ONCE per dataset and then resolved by
  * every consumer (`q_maintenance_pipeline`, `q_time_travel`,
  * `q_vacuum`, `q_time_travel_diff`, `q_cdf_read`) instead of each
  * query re-writing an identical private chain per run (round-12
  * bench: ~12 s of redundant generation writes).
  *
  * Chain (each commit = a full immutable generation + one manifest
  * row + a per-commit CDF delta, the Delta-Lake/Iceberg log
  * primitive distilled):
  *
  *   v0 `gen0` ingest  — day-partitioned, one file per day.
  *             CDF mode `full_insert`: an insert-only commit's feed
  *             IS its data files (Delta's CDF reads them directly
  *             rather than double-writing every ingested row).
  *   v1 `gen1` compact — cumulative-split bin packing, content
  *             byte-identical. CDF delta: EMPTY (a rewrite changes
  *             no logical rows — and the stored empty delta is what
  *             lets a diff reader prove that without scanning both
  *             snapshots).
  *   v2 `gen2` retain  — retention sweep keeps day-of-month ≤ 20.
  *             CDF delta: one `remove` row per swept key.
  *   v3 `gen3` update  — point mutation: vc += 100 where
  *             event_id % 7 = 0 (the GDPR-adjacent "correct a
  *             recorded value" commit). CDF delta: `update_pre` +
  *             `update_post` row pairs.
  *
  * CONTENT-KEYED COMMIT: the chain is a [[FixtureStore]] root, keyed
  * by dataset dir and engine code. `ensure` re-validates the stored
  * chain (every generation's `_SUCCESS`, the commit log, footer-counted
  * v0 rows) and skips the rewrite when it holds; any mismatch or a
  * crash mid-commit triggers a full re-commit into a cleared root.
  * Per-query independence is preserved: every consumer calls
  * `ensure` and trusts nothing beyond the validated store.
  *
  * Scale shape: the chain writes are the same one-exchange rewrites
  * `q_maintenance_pipeline` prices, paid ONCE; the manifest is
  * |versions| rows; CDF deltas are change-proportional (the whole
  * point — a snapshot diff reads them instead of two full scans).
  * Destructive consumers (`q_vacuum` expires generations) take a
  * metadata-only [[shallowClone]] of the chain — zero data files
  * move — and generation files are physically reclaimed only via
  * refcounted [[retireUnreferenced]], so the shared root other
  * queries resolve is untouchable by construction. */
object VersionChain {

  /** One manifest row: a commit of the versioned table. */
  final case class Commit(version: Long, op: String, path: String,
                          n_rows: Long, cdf_mode: String, cdf_path: String)

  /** Canonical per-row content hash (the `q_table_checksum`
    * convention; NULL vc entered as −1 upstream). */
  def rowHash: Column =
    graft.functions.F.polyHash(concat_ws("|",
      col("event_id"), col("event_type"), col("vc")))

  private val gens = Seq("gen0", "gen1", "gen2", "gen3")

  /** Commit the chain for `dir` unless a validated one is stored;
    * returns the chain root. Beyond the store's key, a hit needs every
    * generation COMMIT-resolved in the log (a chain whose log is torn
    * or missing recommits wholesale) and the stored v0 still holding
    * the committed row count (a footer count — no data read). */
  def ensure(spark: SparkSession, dir: String): String =
    FixtureStore.ensure("verchain", dir, parts = gens :+ "manifest",
      valid = root => CommitLog.committedVersions(root) == Seq(1L, 2L, 3L, 4L),
      rows = Some("gen0")) {
      root => commit(spark, dir, root)
    }

  /** v0's content: the events projection the chain ingests. */
  private def ingest(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        coalesce(Num.cents(col("value")), lit(-1L)).as("vc"),
        to_date(col("ts")).as("day"))

  /** The root holding the chain's optimistic commit log: the chain's
    * own if present (owner, file copy, or shallow clone — clones get
    * an independent log so their future commits never write into the
    * shared owner's), else the data root's. */
  def commitLogRootOf(root: String): String =
    if (new java.io.File(root, "commitlog").exists()) root
    else dataRoot(root)

  /** The stored version log, collected (|versions| rows — bounded)
    * and GATED ON THE COMMIT LOG: a manifest row whose slot in the
    * optimistic [[CommitLog]] is not commit-resolved (torn chain
    * build, conflicted writer) is invisible to every reader — the
    * parquet manifest carries the stats, the log is the commit-point
    * authority. Chain version v lives at log slot v+1. */
  def manifest(spark: SparkSession, root: String): Seq[Commit] = {
    import spark.implicits._
    val committed = CommitLog
      .committedVersions(commitLogRootOf(root)).map(_ - 1).toSet
    spark.read.parquet(s"$root/manifest").as[Commit]
      .collect().filter(c => committed(c.version)).sortBy(_.version).toSeq
  }

  /** Manifest-resolved versioned read: newest generation ≤ v. */
  def asOf(spark: SparkSession, root: String, log: Seq[Commit],
           v: Long): (Commit, DataFrame) = {
    val c = log.filter(_.version <= v).maxBy(_.version)
    (c, spark.read.parquet(resolvePath(root, c.path)))
  }

  // ------------------------------------------------------ shallow clone

  /** `_BASE` names the DATA root a shallow clone resolves against;
    * absent on an owning chain root. */
  private def baseFile(root: String) = new java.io.File(root, "_BASE")

  /** The root whose generation directories hold `root`'s data: the
    * clone's recorded base, or `root` itself for an owning chain. */
  def dataRoot(root: String): String = {
    val b = baseFile(root)
    if (b.exists())
      java.nio.file.Files.readString(b.toPath).trim
    else root
  }

  /** Resolve a manifest path: a CLONE-LOCAL file wins over the data
    * root (file-granularity copy-on-write — a clone's own commits,
    * e.g. `q_restore`'s reverse CDF delta, land under the clone and
    * never touch the shared base; everything it didn't write resolves
    * through `_BASE`). For an owning chain both branches coincide. */
  def resolvePath(root: String, path: String): String =
    if (new java.io.File(root, path).exists()) s"$root/$path"
    else s"${dataRoot(root)}/$path"

  /** METADATA-ONLY clone (Delta SHALLOW CLONE / Iceberg snapshot
    * reference, distilled): copy the \|versions\|-row manifest and a
    * `_BASE` pointer; ZERO data files move — cloning a 100 TB chain
    * is kilobytes of metadata, where the old file-level [[copyTo]]
    * was data-proportional. The clone registers itself in the data
    * root's clone REGISTRY so generation retirement is REFCOUNTED:
    * a generation's files are physically deleted only when neither
    * the owning manifest nor any live registered clone references it
    * ([[retireUnreferenced]]) — which is exactly why a destructive
    * consumer on a clone can never damage the shared data. */
  def shallowClone(root: String, dest: String): Unit =
    FixtureStore.locked(dataRoot(root)) {
    val destF = new java.io.File(dest)
    rmTree(destF); destF.mkdirs()
    copyTo(s"$root/manifest", s"$dest/manifest") // |versions| rows
    // the commit log rides along (kilobytes of metadata): the clone
    // is an independent table whose future commits — vacuum's expiry,
    // a re-compaction — land in ITS OWN log, never the shared owner's
    cpTree(new java.io.File(commitLogRootOf(root), "commitlog"),
      new java.io.File(dest, "commitlog"))
    val base = dataRoot(root)
    java.nio.file.Files.writeString(baseFile(dest).toPath, base)
    val reg = new java.io.File(s"$base/clones")
    reg.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(reg, s"${FixtureStore.dirKey(dest)}.ref").toPath, dest)
  }

  /** Generation paths a chain (owner or clone) still references: its
    * manifest rows, minus any a vacuum marked swept (`status` column
    * present only on post-vacuum manifests). */
  /** Live generation paths across ALL given roots in ONE fused job —
    * a per-root read costs one scheduler barrier each (the vacuum
    * drift of rounds 16–18 was mostly |clones|+1 sequential tiny-read
    * jobs here). `mergeSchema` reconciles manifests with and without
    * the `status` column; a missing status reads NULL = live. */
  private def liveRefs(spark: SparkSession, roots: Seq[String]): Set[String] = {
    val present = roots.filter(r =>
      new java.io.File(s"$r/manifest/_SUCCESS").exists())
    if (present.isEmpty) Set.empty
    else {
      val df = spark.read.option("mergeSchema", "true")
        .parquet(present.map(r => s"$r/manifest"): _*)
      val live = if (df.columns.contains("status"))
        df.filter(col("status").isNull || col("status") === "live")
      else df
      live.select("path").collect().map(_.getString(0)).toSet
    }
  }

  /** REFCOUNTED generation retirement: physically delete generation
    * directories under the DATA root that no live manifest — the
    * owner's or any registered clone's — still references. Stale
    * registry entries for vanished clones are pruned. Returns the
    * retired generation names. File-listing + delete only; at 100 TB
    * this never reads data. */
  def retireUnreferenced(spark: SparkSession,
                         anyRoot: String): Seq[String] =
    FixtureStore.locked(dataRoot(anyRoot)) {
    val base = dataRoot(anyRoot)
    val reg = new java.io.File(s"$base/clones")
    val cloneRoots: Seq[String] =
      children(reg).filter(_.getName.endsWith(".ref"))
        .flatMap { f =>
          val dest = java.nio.file.Files.readString(f.toPath).trim
          if (new java.io.File(dest).exists()) Some(dest)
          else { f.delete(); None } // the clone is gone: prune its ref
        }
    val refs = liveRefs(spark, base +: cloneRoots)
    gens.filterNot(refs).filter { g =>
      val d = new java.io.File(s"$base/$g")
      if (d.exists()) { rmTree(d); true } else false
    }
  }

  /** File-level copy of the whole chain — retained as the OWNED-chain
    * test fixture primitive (a copy is its own data root, so zero-ref
    * retirement can be exercised destructively); production isolation
    * is [[shallowClone]], which moves no data. */
  /** Recursive metadata copy shared by clones and the commit-log
    * checkpoint-fold fixture. */
  private[graft] def cpTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      children(src).foreach(f => cpTree(f, new java.io.File(dst, f.getName)))
    } else if (src.exists())
      java.nio.file.Files.copy(src.toPath, dst.toPath)
    ()
  }

  def copyTo(root: String, dest: String): Unit = FixtureStore.locked(root) {
    val destF = new java.io.File(dest)
    rmTree(destF)
    cpTree(new java.io.File(root), destF)
    // a copy is its OWN standalone data root: the source's clone
    // registry and base pointer must not ride along
    rmTree(new java.io.File(destF, "clones"))
    new java.io.File(destF, "_BASE").delete()
    ()
  }

  /** The entries of directory `f`; none when `f` does not exist, is
    * not a directory, vanishes or cannot be listed. */
  def children(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)

  /** Recursive delete; a directory that vanishes or cannot be listed
    * midway is skipped, never thrown on. */
  def rmTree(f: java.io.File): Unit = {
    children(f).foreach(rmTree)
    f.delete(); ()
  }

  /** Every `.parquet` file under `p`, recursively (none if `p` does
    * not exist); like [[rmTree]], a directory that vanishes or cannot
    * be listed midway contributes nothing. */
  def parquetFiles(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) children(f).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(p))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** `q_compact_manifest`'s cumulative-split bin plan (day → bin):
    * deterministic in the table content only, so a streaming twin
    * that ingested the same rows derives the same plan — the shared
    * kernel StreamingSpec's maintenance twin compacts with. */
  def binPlan(v0: DataFrame): DataFrame = {
    val man = v0.groupBy("day")
      .agg(sum(lit(24) + length(col("event_type"))).as("bytes"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    man.withColumn("total", man.agg(sum("bytes")).scalar())
      .withColumn("cum_before", coalesce(sum("bytes").over(wCum), lit(0L)))
      .withColumn("bin", expr("cum_before div (total div 8 + 1)"))
      .select(col("day"), col("bin"))
  }

  private def commit(spark: SparkSession, dir: String,
                     root: String): Unit = {
    import spark.implicits._
    // every chain commit goes through the OPTIMISTIC log: partitions
    // = the generation directory the commit writes, so a concurrent
    // maintenance writer targeting the same generation (re-compaction
    // vs vacuum expiry) is conflict-detected instead of silently
    // last-writer-wins. Sequential here, but the protocol is live:
    // MaintenanceCommitSpec races real overlapping writers through it.
    def logCommit(op: String, gen: String, base: Long): Long =
      CommitLog.tryCommit(root,
        CommitLog.Entry("chain", op, gen, Seq(gen), base))
    // ---- v0: ingest, one file per day
    val in = ingest(spark, dir)
    in.repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$root/gen0")
    val v0 = SideCache.persist(spark.read.schema(in.schema).parquet(s"$root/gen0"))
    val n0 = v0.count()
    logCommit("ingest", "gen0", 0L)
    // ---- v1: compact (q_compact_manifest's cumulative split)
    val packed = v0.join(broadcast(binPlan(v0)), Seq("day"))
    packed.repartition(col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(s"$root/gen1")
    val v1 = SideCache.persist(spark.read.schema(packed.schema).parquet(s"$root/gen1"))
    val n1 = v1.count()
    logCommit("compact", "gen1", 1L)
    // ---- v2: retention sweep on the compacted generation
    v1.filter(dayofmonth(col("day")) <= 20)
      .repartition(col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(s"$root/gen2")
    val v2 = SideCache.persist(spark.read.schema(v1.schema).parquet(s"$root/gen2"))
    val n2 = v2.count()
    logCommit("retain", "gen2", 2L)
    // ---- v3: point update (vc += 100 where event_id % 7 = 0)
    val updCond = col("event_id") % 7 === 0
    val updated = v2.withColumn("vc",
        when(updCond, col("vc") + 100L).otherwise(col("vc")))
      .select(col("event_id"), col("event_type"), col("vc"), col("bin"),
        col("day"))
    updated.repartition(col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(s"$root/gen3")
    val n3 = spark.read.schema(updated.schema).parquet(s"$root/gen3").count()
    logCommit("update", "gen3", 3L)
    // ---- per-commit CDF deltas (change-proportional; the writer
    // KNOWS its change set — no diff join is ever needed to record it)
    val cdfCols = Seq("change_type", "event_id", "event_type", "vc")
    def asCdf(change: String, df: DataFrame): DataFrame =
      df.select(lit(change).as("change_type"), col("event_id"),
        col("event_type"), col("vc"))
    // v1 rewrite: zero logical changes — the stored EMPTY delta
    asCdf("remove", v1).limit(0)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/cdf/v1")
    // v2 sweep: the removed rows
    asCdf("remove", v1.filter(dayofmonth(col("day")) > 20))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/cdf/v2")
    // v3 update: pre/post pairs for the touched keys
    asCdf("update_pre", v2.filter(updCond))
      .unionAll(asCdf("update_post", v2.filter(updCond)
        .withColumn("vc", col("vc") + 100L)))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/cdf/v3")
    // ---- version manifest (the log a reader resolves against)
    Seq(
      Commit(0L, "ingest", "gen0", n0, "full_insert", "gen0"),
      Commit(1L, "compact", "gen1", n1, "delta", "cdf/v1"),
      Commit(2L, "retain", "gen2", n2, "delta", "cdf/v2"),
      Commit(3L, "update", "gen3", n3, "delta", "cdf/v3"))
      .toDF().coalesce(1).write.mode("overwrite").parquet(s"$root/manifest")
  }
}
