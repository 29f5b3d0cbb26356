package graft.ops

import org.apache.spark.sql.types.{DataType, StructType}

/** OPTIMISTIC-CONCURRENCY commit log — the concurrent-writer story
  * the versioned tier ([[VersionChain]]) lacked: immutable
  * generations and a manifest say nothing about TWO writers preparing
  * the next version at once. This is the Delta/Iceberg commit
  * protocol distilled to its filesystem core:
  *
  *   1. A writer snapshots the latest committed version, stages its
  *      data files privately (never visible to readers), and builds
  *      an [[Entry]] naming the PARTITIONS it touches.
  *   2. `tryCommit` CLAIMS the next version slot with an atomic
  *      directory create (POSIX mkdir — exactly one of two racing
  *      writers wins a slot; the loser re-claims the next one), then
  *      writes its entry INTO the claim.
  *   3. Before finalizing, the writer VALIDATES against every claim
  *      that landed after its snapshot: touched-partition overlap ⇒
  *      abort own claim + throw [[CommitConflict]] (the retry-with-
  *      rebase is the caller's policy decision, because a rebase must
  *      re-derive data against the new base); disjoint ⇒ proceed —
  *      two writers from the SAME snapshot both land, at distinct
  *      versions, which is the whole point of optimistic concurrency.
  *   4. A slot's fate is decided by ONE atomically-created
  *      `_RESOLVED` file (`CREATE_NEW` = O_EXCL — exactly one
  *      resolver wins) whose first token is `commit` or `abort`.
  *      Readers see only commit-resolved slots, so a crash at any
  *      step leaves an invisible orphan claim, recoverable via
  *      [[abortOrphan]]. Because commit and abort contend for the
  *      SAME file, a janitor aborting a live-but-slow writer and that
  *      writer's own commit cannot both win: whichever creates
  *      `_RESOLVED` first decides, the loser observes the decision
  *      (the committer throws instead of returning a version readers
  *      will never serve), and no interleaving can yield a slot that
  *      is committed to readers yet invisible to rival validation.
  *
  * Readers resolve the live table PER PARTITION: the newest committed
  * entry touching a partition owns it (untouched partitions ride
  * along by reference — the file-granularity carry semantics of
  * `q_merge_upsert`'s manifest, here across an open-ended log).
  * [[resolveAsOf]] gives the same view at any historical version —
  * snapshot-isolation time travel over the log.
  *
  * Scale shape: claims, entries, and validation are metadata-only —
  * no Spark job runs inside `tryCommit` — so the commit critical
  * section is O(|concurrent writers|) small-file reads regardless of
  * table size; data staging happens before, outside any lock. */
object CommitLog {

  /** One committed (or staged) change: the writer, the operation, the
    * private data path, and the partitions it claims.
    *
    * `baseVersion` CONTRACT: it must be a STABLE snapshot — a version
    * at which every slot ≤ it was already resolved when the writer
    * read it (what [[stableVersion]] returns; sequential callers that
    * base on a version they themselves just committed satisfy this
    * trivially). Under that contract `tryCommit`'s rival filter
    * `v > base || !isCommitted` is exhaustive: resolutions are
    * immutable, so any slot ≤ base that is committed now was already
    * committed — and therefore visible — at snapshot time. A base
    * taken from [[latestCommitted]] over an unresolved lower claim
    * VIOLATES the contract and reopens the lost-update window.
    *
    * `keyDomains` (optional): partition → inclusive key ranges
    * [lo, hi]* this entry touches WITHIN that partition — the
    * key-granular conflict descriptor (Delta's file-level conflict
    * sets distilled to range lists). Two writers overlapping on a
    * partition where BOTH declare provably-disjoint domains do NOT
    * conflict: a MERGE into keys 1–100 and a MERGE into keys 200–300
    * of one partition both land — and a SCATTERED MERGE (the
    * realistic mod-k shape) declares the bounded list of ranges it
    * actually touches instead of a full-span range that conflicts
    * with everything. A domain entry is a LAYER, not an owner —
    * readers materialize the partition via [[resolveLayers]] (newest
    * FULL entry as base, later domain entries replacing their key
    * ranges in version order); the plain newest-wins [[resolveAsOf]]
    * REFUSES a partition whose winner is a layer (use
    * [[resolveLayers]]). Absent domains keep the exact
    * partition-granular behavior.
    *
    * `partBytes` (optional): partition → total staged data bytes for
    * that partition — COMMIT-TIME FILE STATISTICS (Delta's add-file
    * stats distilled to a per-partition total). The writer already
    * walked its staged files to emit the manifest, so the stats are
    * free at write time; the connector's planner then serves
    * `sizeInBytes` (the broadcast-join decision) from the entries
    * alone and never lists a directory at plan time — the difference
    * between O(1) metadata and |partitions| listing RPCs per query at
    * 100k partitions. Absent stats fall back to sampled listing.
    *
    * `dataSchema` (optional): the schema of the data files the entry
    * staged (partition column excluded), as the writer's frame had it.
    * A reader takes it instead of inferring the schema from a footer,
    * which costs a Spark job per versioned read. Absent schemas fall
    * back to the footer probe. */
  final case class Entry(writer: String, op: String, dataPath: String,
                         partitions: Seq[String], baseVersion: Long,
                         ts: Long = -1L,
                         readSet: Seq[String] = Nil,
                         isolation: String = WriteSerializable,
                         keyDomains: Map[String, Seq[(Long, Long)]] =
                           Map.empty,
                         partBytes: Map[String, Long] = Map.empty,
                         dataSchema: Option[StructType] = None)

  /** Isolation levels (Delta's two write-transaction modes):
    *
    *   - [[WriteSerializable]] (default): a transaction conflicts only
    *     on WRITE-WRITE overlap — a rival that committed after the
    *     snapshot touching the same partitions. Blind writes derived
    *     from since-mutated reads are admitted (the anomaly: a report
    *     built from a stale read can land after the mutation).
    *   - [[Serializable]]: additionally conflicts on READ-WRITE
    *     overlap — a rival that committed after the snapshot touching
    *     partitions in this entry's `readSet`. The admitted history is
    *     then equivalent to the serial order of commit slots: a
    *     transaction's reads always reflect every lower committed
    *     slot. The check is ASYMMETRIC on purpose — a HIGHER rival
    *     writing this entry's reads is serial-order-consistent
    *     (this transaction precedes it), so only rivals landing
    *     between snapshot and own slot, or in-flight at lower slots,
    *     conflict. */
  val WriteSerializable = "write_serializable"
  val Serializable = "serializable"

  /** Logical commit-timestamp scheme: version-derived (one hour per
    * slot from a fixed epoch), so every oracle can REPLAY it — the
    * `q_dp_count` derived-randomness convention applied to wall-clock
    * metadata. A real deployment would stamp the filesystem clock and
    * clamp it monotone (Delta's in-commit timestamps); the resolution
    * semantics ([[asOfTimestamp]] = newest commit at or before ts) are
    * identical either way, and monotonicity holds by construction
    * here. `tryCommit` stamps the winning slot's timestamp into the
    * entry it persists (an explicit `Entry.ts >= 0` is preserved,
    * for callers replaying foreign history). */
  val CommitEpoch = 1767225600L // 2026-01-01T00:00:00Z, seconds
  def commitTimestamp(v: Long): Long = CommitEpoch + v * 3600L

  /** Thrown when a commit's touched partitions overlap a commit that
    * landed after the writer's snapshot — or when a janitor aborted
    * the writer's own claim first — the caller decides whether to
    * re-derive and retry or to surface the failure. */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  private def logDir(root: String) = new java.io.File(root, "commitlog")

  private def slotDir(root: String, v: Long) =
    new java.io.File(logDir(root), s"v$v")

  private def slots(root: String): Seq[(Long, java.io.File)] =
    VersionChain.children(logDir(root))
      .filter(d => d.isDirectory && d.getName.matches("v\\d+"))
      .map(d => d.getName.drop(1).toLong -> d)
      .sortBy(_._1)

  private def resolvedFile(d: java.io.File) = new java.io.File(d, "_RESOLVED")

  /** A slot's fate: Some("commit") | Some("abort") | None while still
    * in flight. The creator writes content right after the atomic
    * create, so poll briefly on an empty file; a file still empty
    * after the poll means the resolver crashed mid-write — safe to
    * read as abort, because a committer that never finished writing
    * its resolution never returned success to its caller. */
  private def resolution(d: java.io.File): Option[String] = {
    val f = resolvedFile(d)
    if (!f.exists()) return None
    var tries = 0
    def read() = scala.util.Try(
      java.nio.file.Files.readString(f.toPath)).getOrElse("").trim
    var txt = read()
    while (txt.isEmpty && tries < 200) {
      Thread.sleep(2); tries += 1; txt = read()
    }
    Some(if (txt.isEmpty) "abort" else txt.split("\\s+")(0))
  }

  /** Atomically resolve a slot — first resolver wins. The content is
    * written to a private temp file and HARD-LINKED into place
    * (link(2) fails with EEXIST if a rival won), so `_RESOLVED` never
    * exists empty: a reader can never misclassify a live committer
    * paused between create and write, and the winner's content is
    * visible the instant the name is. Returns the WINNING kind, which
    * may differ from the requested one. */
  private def resolve(d: java.io.File, kind: String, why: String): String = {
    val tmp = new java.io.File(d,
      s"_resolve_tmp_${java.util.UUID.randomUUID()}")
    try {
      java.nio.file.Files.writeString(tmp.toPath, s"$kind $why\n")
      java.nio.file.Files.createLink(resolvedFile(d).toPath, tmp.toPath)
      kind
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        resolution(d).getOrElse("abort")
      case _: java.io.IOException if !d.exists() =>
        // the slot dir VANISHED mid-resolve: a concurrent expiry or
        // aborted-slot purge deleted it — both only touch slots whose
        // fate was already sealed (expiry refuses unresolved claims),
        // so the caller may treat it as a closed rival and skip it
        // (found by LakeSoakPropertySpec: a validator aborting an
        // entry-less claim raced expireBelow's rmTree)
        resolution(d).getOrElse("abort")
    } finally { tmp.delete(); () }
  }

  private def isCommitted(d: java.io.File) = resolution(d).contains("commit")
  private def isAborted(d: java.io.File) = resolution(d).contains("abort")

  /** Commit-resolved versions, ascending. History may have gaps: an
    * aborted or orphaned slot number is never reused once a later
    * version commits, and readers skip it. */
  def committedVersions(root: String): Seq[Long] =
    slots(root).filter(s => isCommitted(s._2)).map(_._1)

  def latestCommitted(root: String): Long =
    (committedVersions(root) ++ checkpoints(root).map(_._1))
      .maxOption.getOrElse(0L)

  /** The STABLE version: the largest committed version `v` such that
    * every slot ≤ v is resolved RIGHT NOW — the only safe snapshot
    * base for a writer. A scalar base cannot describe a snapshot once
    * commits land out of slot order: with base = [[latestCommitted]],
    * an unresolved LOWER claim that commits during the writer's
    * staging window satisfies neither `v > base` nor `!isCommitted`
    * in `tryCommit`'s rival filter — a lost update. Pinning the base
    * BELOW the first unresolved slot closes the hole: the stalled
    * claim's eventual commit always lands at `v > base` and is
    * validated like any other rival. Resolutions are immutable, so
    * stability is permanent — every slot ≤ stableVersion keeps its
    * fate forever, which is also what makes [[checkpoint]] safe to
    * fold at this version. */
  def stableVersion(root: String): Long = {
    val ss = slots(root)
    // `resolution = None` means IN-FLIGHT only while the slot dir
    // still exists: a slot retired by a concurrent expiry (renamed
    // away atomically, with its _RESOLVED inside) reads None on the
    // second step of the list-then-read sequence — without the
    // existence recheck it would masquerade as an unresolved claim
    // and drag the cap below already-stable history (found by
    // LakeSoakPropertySpec: stableVersion 2 → 1 during expiry).
    val cap = ss.collectFirst {
      case (v, d) if resolution(d).isEmpty && d.exists() => v - 1
    }.getOrElse(Long.MaxValue)
    (ss.filter { case (v, d) => v <= cap && isCommitted(d) }.map(_._1) ++
      checkpoints(root).map(_._1).filter(_ <= cap))
      .maxOption.getOrElse(0L)
  }

  // ------------------------------------------------------- checkpoints

  private val CkptName = "ckpt_v(\\d+)\\.tsv".r

  private def checkpoints(root: String): Seq[(Long, java.io.File)] =
    VersionChain.children(logDir(root))
      .flatMap(f => f.getName match {
        case CkptName(v) => Some(v.toLong -> f)
        case _ => None
      }).sortBy(_._1)

  private def expiredBelowFile(root: String) =
    new java.io.File(logDir(root), "_EXPIRED_BELOW")

  /** The version below which slot history has been physically expired
    * (0 = never expired). */
  def expiredBelow(root: String): Long = {
    val f = expiredBelowFile(root)
    if (!f.exists()) 0L
    else scala.util.Try(
      java.nio.file.Files.readString(f.toPath).trim.toLong).getOrElse(
      // an existing-but-unreadable horizon must fail LOUDLY: falling
      // back to 0 would let resolveAsOf silently fold a partial log
      // below the real horizon — the exact read the horizon guards
      throw new IllegalStateException(
        s"horizon file ${f.getPath} exists but is unreadable — " +
          "refusing to resolve from a possibly-expired log"))
  }

  /** Newest VALID checkpoint with version in [`atLeast`, `atMost`]:
    * (version, per-partition owners). A torn file (missing its `#end`
    * trailer — crash mid-write) is skipped, falling back to the next
    * older checkpoint or the raw log. `#txn` watermark lines (stream-
    * transaction identities, see [[txnWatermarks]]) live inside the
    * `#end` guard and are skipped by the owners parse. */
  private def readCheckpoint(root: String,
      atMost: Long = Long.MaxValue, atLeast: Long = 0L)
      : Option[(Long, Map[String, (Long, String)])] =
    checkpoints(root).reverse.view
      .filter { case (v, _) => v <= atMost && v >= atLeast }
      .flatMap { case (v, f) =>
      scala.util.Try {
        val lines = java.nio.file.Files.readString(f.toPath)
          .split("\n", -1).toSeq
        require(lines.head.toLong == v && lines.contains("#end"))
        val owners = lines.tail.takeWhile(_ != "#end").filter(_.nonEmpty)
          .filterNot(_.startsWith("#txn\t"))
          .map { l =>
            val p = l.split("\t", -1)
            p(0) -> (p(1).toLong, p(2))
          }.toMap
        (v, owners)
      }.toOption
    }.headOption

  /** The op-field encoding of a stream transaction: `stream:<batchId>`
    * with `writer = streamId` — [[StreamCommit]]'s identity scheme
    * (Delta's txnAppId/txnVersion distilled into the entry itself). */
  private[ops] val StreamOpPrefix = "stream:"

  // ----------------------------------------------------- schema commits

  /** The op-field encoding of a SCHEMA change: `schema:<change>`. A
    * schema entry is a METADATA ACTION (Delta's metadata-changed
    * conflict, distilled): it conflicts with EVERY rival in its
    * validation window — data or schema, in both directions —
    * regardless of partition overlap, because a data writer whose
    * base predates a rename/drop staged its files against the OLD
    * logical schema (admitting it would silently bind stale column
    * semantics), and a schema change racing an in-flight data write
    * cannot prove the write didn't depend on the old mapping. */
  val SchemaOpPrefix = "schema:"

  /** The reserved partition every schema entry claims: gives the
    * schema history an owner under [[resolveAsOf]] (the newest schema
    * entry at or below any version owns it — sequential schema
    * commits replay through plain resolution), keeps schema-vs-schema
    * races write-write even without the metadata clash, and rides
    * checkpoint folds like any partition so the ACTIVE mapping
    * survives history expiry. Double-colon-prefixed so no hive-style
    * data partition collides with it. */
  val SchemaPartition = "::schema"

  /** Commit a schema change whose resolved mapping is staged at
    * `mappingPath` (the same stage-then-commit discipline as data:
    * the mapping artifact is immutable, the entry flips it live).
    * Returns the committed version; throws [[CommitConflict]] when
    * ANY rival landed after `base` (metadata actions conflict with
    * everything). */
  def commitSchema(root: String, writer: String, change: String,
                   mappingPath: String, base: Long): Long =
    tryCommit(root, Entry(writer, s"$SchemaOpPrefix$change", mappingPath,
      Seq(SchemaPartition), base))

  /** The committed schema history at or below `asOf`, ascending:
    * (version, change, mappingPath). The ACTIVE mapping as of any
    * version is the last element — equivalently
    * `resolveAsOf(root, asOf)(SchemaPartition)`.
    *
    * Survives HISTORY EXPIRY: a schema commit whose slot was
    * checkpoint-folded and physically expired is no longer in the
    * live log, but the fold still owns [[SchemaPartition]] — without
    * consulting it, the active column mapping would silently vanish
    * after maintenance (found by LakeSoakPropertySpec: checkpoint +
    * expiry racing a schema commit). The folded element reads back
    * with the change label `"(folded)"` (the fold stores owners, not
    * ops); consumers bind to the mappingPath, which is intact. */
  def schemaHistory(root: String, asOf: Long = Long.MaxValue)
      : Seq[(Long, String, String)] = {
    val live = readLog(root).collect {
      case (v, e) if v <= asOf && e.op.startsWith(SchemaOpPrefix) =>
        (v, e.op.drop(SchemaOpPrefix.length), e.dataPath)
    }
    val folded = scala.util.Try(resolveFlagged(root, asOf)).toOption
      .flatMap(_.get(SchemaPartition))
      .collect { case (v, dp, _) if !live.exists(_._1 >= v) =>
        (v, "(folded)", dp) }
    folded.toSeq ++ live
  }

  private def streamBatchOf(e: Entry): Option[(String, Long)] =
    if (e.op.startsWith(StreamOpPrefix))
      scala.util.Try(e.op.drop(StreamOpPrefix.length).toLong).toOption
        .map(e.writer -> _)
    else None

  /** `#txn` watermark lines of the newest VALID checkpoint: streamId →
    * highest batch id folded at or below that checkpoint. */
  private def checkpointTxns(root: String): Map[String, Long] =
    checkpoints(root).reverse.view.flatMap { case (v, f) =>
      scala.util.Try {
        val lines = java.nio.file.Files.readString(f.toPath)
          .split("\n", -1).toSeq
        require(lines.head.toLong == v && lines.contains("#end"))
        lines.tail.takeWhile(_ != "#end").filter(_.startsWith("#txn\t"))
          .map { l => val p = l.split("\t", -1); p(1) -> p(2).toLong }
          .toMap
      }.toOption
    }.headOption.getOrElse(Map.empty)

  /** Stream-transaction high-water marks: streamId → highest COMMITTED
    * batch id, surviving history expiry — live `stream:` entries are
    * merged with the newest checkpoint's `#txn` fold, so a re-
    * delivered batch is detectable even after its slot was physically
    * expired (the reason Delta retains txn actions in checkpoints). */
  def txnWatermarks(root: String): Map[String, Long] = {
    val live = readLog(root).flatMap { case (_, e) => streamBatchOf(e) }
    (checkpointTxns(root).toSeq ++ live)
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** CHECKPOINT the log (Delta's checkpoint.parquet, distilled):
    * materialize the per-partition resolution at the current latest
    * committed version into one `ckpt_v<N>.tsv`, so readers fold
    * |partitions| checkpoint rows + the slots AFTER it instead of the
    * whole history — and so [[expireBelow]] can physically reclaim
    * old slots. Metadata-only; the `#end` trailer is the torn-write
    * guard (an invalid checkpoint is ignored, never trusted).
    *
    * Folds at [[stableVersion]], NOT [[latestCommitted]]: slots
    * resolve out of order, so an unresolved claim BELOW the latest
    * commit may still commit later — folding past it would bake its
    * absence into the checkpoint permanently ([[resolveAsOf]] through
    * a checkpoint never revisits slots ≤ its version, and
    * [[expireBelow]] then deletes the slot, making the late commit
    * irrecoverable even though its writer returned success). Below
    * the stable version every resolution is immutable, so the fold
    * can never be contradicted. */
  def checkpoint(root: String): Long = {
    val v = stableVersion(root)
    // idempotent: never reopen (and risk tearing) a live checkpoint —
    // after expiry it may be the only copy of the folded state
    if (readCheckpoint(root, atMost = v, atLeast = v).isDefined) return v
    // a checkpoint stores ONE owner per partition; a partition whose
    // newest owner is a KEY-DOMAIN LAYER has no single owner — folding
    // it would bake the layer in as a full owner and corrupt layered
    // reads after expiry. Compaction (a full-partition entry, which
    // shadows every layer) makes the partition fold-safe again.
    // fold AS OF the pinned version: a commit landing concurrently
    // must not leak into a checkpoint labeled with the older version
    // (resolveFlagged(v) would otherwise time-travel forward)
    val flagged = resolveFlagged(root, v)
    flagged.collectFirst { case (p, (ov, _, true)) =>
      throw new IllegalStateException(
        s"partition '$p' resolves to a key-domain layer at v$ov — " +
          "compact it to a full-partition entry before checkpointing")
    }
    val owners = flagged.view.mapValues { case (ov, dp, _) => (ov, dp) }
      .toMap
    // fold stream-transaction watermarks INTO the checkpoint (inside
    // the #end guard): expiry deletes the slots that carried the
    // stream: entries, and idempotence state must outlive them
    val txns = (checkpointTxns(root).toSeq ++
      readLog(root).filter(_._1 <= v)
        .flatMap { case (_, e) => streamBatchOf(e) })
      .groupMapReduce(_._1)(_._2)(math.max)
    val body = (s"$v" +:
      (owners.toSeq.sortBy(_._1).map { case (p, (ov, dp)) =>
        s"$p\t$ov\t$dp"
      } ++ txns.toSeq.sorted.map { case (w, b) => s"#txn\t$w\t$b" })
      :+ "#end").mkString("", "\n", "\n")
    // ATTEMPT-UNIQUE tmp name: two sessions checkpointing the same
    // stable version concurrently each move their OWN tmp — with a
    // shared name the loser's move throws NoSuchFileException after
    // the winner consumed it (found by LakeSoakPropertySpec seed 7).
    // Both folds are deterministic at v, so last-move-wins is benign.
    val tmp = new java.io.File(logDir(root),
      s"ckpt_v$v.tsv.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp.toPath, body)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(logDir(root), s"ckpt_v$v.tsv").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Physically expire slot history at or below `v` (Delta's log
    * retention): refuses without a valid checkpoint covering `v`, and
    * refuses while any slot ≤ v is still unresolved (an in-flight
    * writer's claim is never swept). Records the horizon so
    * [[resolveAsOf]] below it fails LOUDLY instead of silently
    * resolving from a partial log. Slot numbering stays monotone:
    * `tryCommit` seeds `max+1` from the checkpoint version too. */
  def expireBelow(root: String, v: Long): Seq[Long] = {
    val ckpt = readCheckpoint(root)
    require(ckpt.exists(_._1 >= v),
      s"expireBelow(v$v) needs a valid checkpoint at or above v$v — " +
        "checkpoint first")
    val (gone, kept) = slots(root).partition(_._1 <= v)
    // a slot already retired by a CONCURRENT expiry reads None on the
    // resolution but no longer exists — that is "resolved and gone",
    // not in-flight
    require(gone.forall { case (_, d) =>
      resolution(d).isDefined || !d.exists() },
      s"an unresolved claim at or below v$v is still in flight")
    val _ = kept
    // horizon write is temp + ATOMIC_MOVE (as checkpoint()): a torn
    // in-place rewrite during a second expiry would otherwise leave a
    // partial file that a weaker reader could misparse as horizon 0.
    // The temp name is attempt-unique — concurrent expiries with a
    // shared name race each other's move (the checkpoint() bug twin).
    val hTmp = new java.io.File(logDir(root),
      s"_EXPIRED_BELOW.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    // monotone: a stalled lower expiry landing after a higher one must
    // never move the horizon backwards (slots above its own v are
    // already gone — an understated horizon would let resolveAsOf
    // trust a partial window)
    java.nio.file.Files.writeString(hTmp.toPath,
      s"${math.max(v, expiredBelow(root))}\n")
    java.nio.file.Files.move(hTmp.toPath, expiredBelowFile(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    gone.map { case (sv, d) => retireSlot(d); sv }
  }

  /** Delete a slot directory WITHOUT a torn-read window: rmTree
    * deletes `_RESOLVED` before the directory itself, so a concurrent
    * reader listing slots mid-deletion would see an "unresolved
    * claim" and drag [[stableVersion]] (and every rival filter) below
    * it — LakeSoakPropertySpec caught stableVersion 8 → 0 this way.
    * Renaming the dir OUT of the `v<N>` namespace first is atomic:
    * readers either see the intact slot or no slot at all. */
  private def retireSlot(d: java.io.File): Unit = {
    val tomb = new java.io.File(d.getParentFile,
      s"_retired_${d.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    if (d.renameTo(tomb)) VersionChain.rmTree(tomb)
    else VersionChain.rmTree(d) // rename refused (alien FS) — fall back, best effort
  }

  private def entryFile(d: java.io.File) = new java.io.File(d, "entry.tsv")

  /** Serialization-safety of an entry, enforced BEFORE any slot is
    * claimed (a failure mid-claim would strand an entry-less orphan
    * rivals must poll-and-abort): ordinary partition (and read-set)
    * names must round-trip the comma-joined entry line AND stay
    * unambiguous against checkpoint sentinel lines — a partition
    * literally named '#txn' would be silently dropped from every
    * checkpoint fold (irrecoverable after expiry), and an embedded
    * comma/tab would split into phantom partitions on read-back. */
  private def validateEntry(e: Entry): Unit = {
    // the entry line is tab-separated: an embedded tab/newline in ANY
    // field silently shifts every later field on read-back
    Seq("writer" -> e.writer, "op" -> e.op, "dataPath" -> e.dataPath)
      .foreach { case (f, v) => require(
        !v.exists(c => c == '\t' || c == '\n'),
        s"$f not entry-safe (contains tab/newline): '$v'") }
    (e.partitions ++ e.readSet).foreach(p => require(
      p.nonEmpty && !p.startsWith("#") &&
        !p.exists(c => c == ',' || c == '\t' || c == '\n'),
      s"partition name not entry-safe (empty, '#'-prefixed, or " +
        s"contains ,/tab/newline): '$p'"))
    e.keyDomains.foreach { case (p, ranges) =>
      require(
        !p.exists(c => c == '^' || c == ';' || c == '\t' || c == '\n'),
        s"key-domain partition name not entry-safe: '$p'")
      require(ranges.nonEmpty && ranges.forall { case (lo, hi) => lo <= hi },
        s"key domain for '$p' must be non-empty ranges with lo <= hi")
      // the commit entry is METADATA read by every rival's validation:
      // an unbounded range list would grow entry lines (and conflict
      // checks) with the merge's key count — past the cap, declare
      // coarser ranges (or the full-span hull); a production variant
      // would spill to a key-hash-set sidecar (the DV-tier shape)
      require(ranges.size <= MaxDomainRanges,
        s"key domain for '$p' declares ${ranges.size} ranges " +
          s"(cap $MaxDomainRanges) — coalesce to coarser ranges or " +
          "declare the hull; entries must stay small metadata")
    }
    e.partBytes.foreach { case (p, b) =>
      require(
        !p.exists(c => c == '^' || c == ';' || c == '\t' || c == '\n'),
        s"partBytes partition name not entry-safe: '$p'")
      require(b >= 0L, s"partBytes for '$p' must be non-negative: $b")
    }
  }

  /** Cap on declared key ranges per partition — keeps every entry
    * bounded metadata (validation cost is |a|·|b| range compares per
    * shared partition). */
  val MaxDomainRanges = 256

  private def writeEntry(d: java.io.File, v: Long, e: Entry): Unit = {
    val ts = if (e.ts >= 0L) e.ts else commitTimestamp(v)
    val kd = e.keyDomains.toSeq.sortBy(_._1)
      .map { case (p, ranges) =>
        (p +: ranges.sorted.flatMap { case (lo, hi) => Seq(s"$lo", s"$hi") })
          .mkString("^")
      }.mkString(";")
    val pb = e.partBytes.toSeq.sortBy(_._1)
      .map { case (p, b) => s"$p^$b" }.mkString(";")
    java.nio.file.Files.writeString(entryFile(d).toPath,
      s"$v\t${e.writer}\t${e.op}\t${e.dataPath}\t${e.baseVersion}\t" +
        e.partitions.mkString(",") + s"\t$ts\t" +
        e.readSet.mkString(",") + s"\t${e.isolation}\t$kd\t$pb\t" +
        e.dataSchema.fold("")(_.json) + "\n")
  }

  /** Read a slot's entry; None while the racing writer is between
    * mkdir and its entry write (microseconds), or on a torn file.
    * Entries written before the timestamp field existed (6 columns)
    * read back with the version-derived timestamp — the same value
    * `tryCommit` would have stamped. */
  private def readEntry(d: java.io.File): Option[(Long, Entry)] =
    scala.util.Try {
      val f = entryFile(d)
      if (!f.exists()) None
      else {
        // split BEFORE any trimming: .trim would eat the trailing
        // tab a partitions=Nil entry ends with and shift the fields
        val p = java.nio.file.Files.readString(f.toPath)
          .stripLineEnd.split("\t", -1)
        val v = p(0).toLong
        val ts = if (p.length > 6) p(6).toLong else commitTimestamp(v)
        // entries from before read-set tracking (≤7 columns) read
        // back as write-serializable with an empty read set
        val rs = if (p.length > 7 && p(7).nonEmpty) p(7).split(",").toSeq
          else Nil
        val iso = if (p.length > 8) p(8) else WriteSerializable
        // entries from before key-domain tracking (≤9 columns) read
        // back domain-free — exact partition-granular semantics; a
        // single-range r17 entry (p^lo^hi) parses as a 1-range list
        val kd = if (p.length > 9 && p(9).nonEmpty)
          p(9).split(";").map { s =>
            val q = s.split("\\^", -1)
            q(0) -> q.tail.grouped(2)
              .map(r => (r(0).toLong, r(1).toLong)).toSeq
          }.toMap
        else Map.empty[String, Seq[(Long, Long)]]
        // entries from before commit-time file stats (≤10 columns)
        // read back stats-free — readers fall back to sampled listing
        val pb = if (p.length > 10 && p(10).nonEmpty)
          p(10).split(";").map { s =>
            val q = s.split("\\^", -1); q(0) -> q(1).toLong
          }.toMap
        else Map.empty[String, Long]
        // entries from before schema recording (≤11 columns) read back
        // schema-free — readers fall back to the footer probe
        val ds = if (p.length > 11 && p(11).nonEmpty)
          Some(DataType.fromJson(p(11)).asInstanceOf[StructType])
        else None
        Some((v, Entry(p(1), p(2), p(3),
          if (p(5).isEmpty) Nil else p(5).split(",").toSeq, p(4).toLong,
          ts, rs, iso, kd, pb, ds)))
      }
    }.toOption.flatten

  /** The committed log, ascending by version. */
  def readLog(root: String): Seq[(Long, Entry)] =
    slots(root).filter(s => isCommitted(s._2))
      .flatMap(s => readEntry(s._2))

  /** The committed log keyed by version — what a connector pairs with
    * [[resolveForRead]] to look up the OWNING entry's metadata (file
    * statistics, op, writer) per partition. One |slots| metadata
    * read; checkpoint-folded owners have no live entry and are simply
    * absent (callers fall back). */
  def entriesByVersion(root: String): Map[Long, Entry] =
    readLog(root).toMap

  /** The conflict predicate between our entry `e` (claiming slot
    * `next`) and a rival entry `other` at slot `v`, given the rival's
    * live resolution state. Package-visible so the spec can pin
    * interleavings (a rival COMMITTING at a higher slot during our
    * validation window) that are timing-dependent through `tryCommit`
    * itself.
    *
    *   - WRITE-WRITE overlap always conflicts.
    *   - READ-WRITE overlap conflicts only under [[Serializable]] and
    *     only for rivals BELOW our slot: a rival at `v > next` is
    *     serial-order AFTER us — its write into our read set is
    *     exactly the admissible history "we read, then it wrote" —
    *     whether it is still in flight or already committed (the
    *     asymmetry the isolation contract documents, applied
    *     uniformly; a committed higher rival used to abort us
    *     spuriously).
    *   - Deterministic winner rule (earlier slot wins): a COMMITTED
    *     rival in the window always conflicts; an in-flight rival
    *     conflicts only from a LOWER slot — the higher in-flight rival
    *     will see OUR lower unresolved claim and abort itself, so two
    *     simultaneous overlapping writers yield exactly one winner
    *     instead of both aborting. */
  private[ops] def rivalConflicts(e: Entry, next: Long, v: Long,
      other: Entry, committed: Boolean, aborted: Boolean): Boolean = {
    // key-granular excuse (Entry.keyDomains): a shared partition does
    // NOT conflict when BOTH writers declare provably-disjoint key
    // range LISTS for it — no range of one overlaps any range of the
    // other, so the write sets cannot intersect (two interleaved
    // scattered MERGEs both land). One-sided or absent domains stay
    // partition-granular (conservative). Cost: |a|·|b| long compares
    // per shared partition — bounded by the entry line itself.
    def disjointDomains(p: String): Boolean =
      (e.keyDomains.get(p), other.keyDomains.get(p)) match {
        case (Some(as), Some(bs)) =>
          !as.exists { case (alo, ahi) =>
            bs.exists { case (blo, bhi) => alo <= bhi && blo <= ahi } }
        case _ => false
      }
    val writeOverlap = e.partitions.toSet
      .intersect(other.partitions.toSet)
      .exists(p => !disjointDomains(p))
    // read conflicts stay partition-granular: a read set names what
    // was READ, and reads are rarely range-bounded the way a MERGE's
    // write set is
    val readOverlap = e.isolation == Serializable && v < next &&
      other.partitions.toSet.intersect(e.readSet.toSet).nonEmpty
    // METADATA clash (Delta's metadata-changed conflict): a schema
    // change in the window conflicts with EVERYTHING, both directions
    // — see [[SchemaOpPrefix]]
    val metadataClash = e.op.startsWith(SchemaOpPrefix) ||
      other.op.startsWith(SchemaOpPrefix)
    (writeOverlap || readOverlap || metadataClash) &&
      (committed || (!aborted && v < next))
  }

  /** Attempt to commit `e` (data already staged at `e.dataPath`).
    * Returns the committed version, or throws [[CommitConflict]] when
    * a commit after `e.baseVersion` touches an overlapping partition
    * — or when a janitor [[abortOrphan]]'d this writer's own claim
    * before it reached its commit point (the atomic `_RESOLVED` race:
    * abort won, so the writer must NOT report success).
    * A claim race never throws — the loser claims the next slot.
    * Validation is conservative with a deterministic winner rule: a
    * COMMITTED overlapping rival always conflicts; an IN-FLIGHT
    * overlapping rival conflicts only from a lower slot (the earlier
    * claim wins — the higher one will see this claim and abort
    * itself), so two writers racing the same partitions produce
    * exactly one winner and one [[CommitConflict]], never two
    * aborts. */
  def tryCommit(root: String, e: Entry, maxAttempts: Int = 64): Long = {
    validateEntry(e) // fail fast, before any slot is claimed
    logDir(root).mkdirs()
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val known = slots(root)
      // seed past any checkpoint too: after history expiry the slot
      // dirs are gone but their numbers must never be reused
      val next = (known.map(_._1) ++
        checkpoints(root).map(_._1) :+ 0L).max + 1
      val claim = slotDir(root, next)
      if (claim.mkdir()) { // ATOMIC slot claim: exactly one winner
        writeEntry(claim, next, e)
        val all = slots(root)
        // ENFORCE the Entry.baseVersion stability contract instead of
        // merely documenting it: an unresolved slot ≤ base RIGHT NOW
        // proves the base was never stable when read (resolutions are
        // immutable — a slot resolved at snapshot time can never be
        // unresolved later). A caller that passed latestCommitted over
        // a stalled lower claim (the r15 lost-update shape) is refused
        // here rather than trusted; new claims always land above the
        // base (max+1 > base), so only pre-existing stalls trigger.
        all.collectFirst {
          case (v, d) if v != next && v <= e.baseVersion &&
            resolution(d).isEmpty && d.exists() => v
        }.foreach { v =>
          resolve(claim, "abort", s"non-stable base over unresolved v$v")
          throw new CommitConflict(
            s"${e.writer}: base v${e.baseVersion} is not a stable " +
              s"snapshot — slot v$v at or below it is unresolved; " +
              "rebase from stableVersion")
        }
        // validate against every slot after the snapshot (committed,
        // in-flight, or aborted-skip) except our own
        // rivals: every slot after the snapshot (its commit is not in
        // our base) plus every UNRESOLVED claim at ANY slot — a writer
        // that claimed before our base committed may be stalled
        // mid-commit and still land; skipping it would let both of us
        // commit overlapping partitions (a lost update)
        val rivals = all
          .filter { case (v, d) =>
            v != next && (v > e.baseVersion || !isCommitted(d)) }
          .filterNot { case (_, d) => isAborted(d) }
        val conflict = rivals.flatMap { case (v, d) =>
          // poll briefly for a racing writer's entry to appear
          var tries = 0
          var got = readEntry(d)
          // a rival slot RETIRED mid-scan (concurrent expiry) was
          // resolved before retirement and its effect is inside any
          // covering checkpoint ≤ our base — stop polling it
          while (got.isEmpty && !isAborted(d) && d.exists() &&
              tries < 200) {
            Thread.sleep(5); tries += 1; got = readEntry(d)
          }
          // a claim still entry-less AND unresolved after the poll is
          // a writer stalled (or crashed) between mkdir and its entry
          // write. Skipping it silently would let it land LATER
          // against partitions we are about to commit — a lost update.
          // Force the race instead: abort it atomically. A merely-slow
          // writer then loses the _RESOLVED race and throws (single
          // winner preserved); if OUR abort loses to its own commit,
          // its entry is on disk (written before it resolved) — read
          // it and validate it like any committed rival.
          if (got.isEmpty && resolution(d).isEmpty &&
              resolve(d, "abort",
                s"entry never appeared; aborted by ${e.writer}") == "commit") {
            tries = 0
            got = readEntry(d)
            while (got.isEmpty && tries < 200) {
              Thread.sleep(5); tries += 1; got = readEntry(d)
            }
            if (got.isEmpty) {
              // committed yet unreadable: cannot prove disjointness —
              // conservative self-abort rather than a possible lost
              // update (this state needs a torn entry AND a committed
              // resolution, i.e. storage corruption)
              resolve(claim, "abort", s"unreadable committed rival v$v")
              throw new CommitConflict(
                s"${e.writer}: committed rival v$v has no readable " +
                  "entry — cannot validate, aborting own claim")
            }
          }
          got.filter { case (_, other) =>
            rivalConflicts(e, next, v, other, isCommitted(d), isAborted(d))
          }.map { case (_, other) => (v, other.writer) }
        }.headOption
        conflict match {
          case Some((v, w)) =>
            // abort own claim LOUDLY — the slot stays as an aborted
            // tombstone so rivals validating against it skip it
            resolve(claim, "abort", s"conflict v$v")
            throw new CommitConflict(
              s"${e.writer} touches partitions also written by $w at v$v " +
                s"(snapshot was v${e.baseVersion}) — rebase required")
          case None =>
            // the commit point: atomic first-resolver-wins. A janitor
            // that aborted this claim concurrently (abortOrphan can't
            // distinguish crashed from live-but-slow) beats us here,
            // and we surface the loss instead of returning a version
            // readers will never serve.
            if (resolve(claim, "commit", "ok") != "commit")
              throw new CommitConflict(
                s"${e.writer}'s claim v$next was aborted by a janitor " +
                  "while committing — retry from a fresh snapshot")
            return next
        }
      }
      // lost the mkdir race: loop and claim the next free slot
    }
    throw new IllegalStateException(
      s"tryCommit gave up after $maxAttempts claim attempts")
  }

  /** The retry-with-rebase loop that completes the optimistic
    * protocol: `prepare` derives an [[Entry]] — and stages its data —
    * AGAINST a given base version (it must re-read the base's
    * resolved state, not reuse stale staged data: that is what makes
    * the retry a REBASE and not a blind re-submit). On
    * [[CommitConflict]] the writer re-derives against the new latest
    * and retries, up to `maxRebase` times; contention beyond that
    * surfaces as the last conflict.
    *
    * Scale shape: each round is one metadata-only `tryCommit` plus
    * whatever re-derivation `prepare` does — at 100 TB that is the
    * delta-proportional MERGE staging, never a table rewrite. */
  def commitWithRebase(root: String, prepare: Long => Entry,
                       maxRebase: Int = 8): Long = {
    var rebases = 0
    while (true) {
      // snapshot at the STABLE version, never latestCommitted: an
      // unresolved lower claim that commits during prepare()'s staging
      // (the expensive Spark job) must stay inside the validation
      // window — see the Entry.baseVersion contract
      val base = stableVersion(root)
      try return tryCommit(root, prepare(base))
      catch {
        case e: CommitConflict =>
          rebases += 1
          if (rebases > maxRebase) throw new CommitConflict(
            s"gave up after $maxRebase rebases: ${e.getMessage}")
          // exponential backoff: a loser spinning full-speed can burn
          // every rebase before a merely-slow winner resolves its
          // claim (the unresolved slot pins stableVersion below it,
          // so each retry re-derives against the SAME stale base and
          // re-conflicts — a liveness hole under CPU contention, seen
          // as a suite flake). Waiting ~2^k ms gives the winner's
          // metadata-only commit time to land before the next derive.
          Thread.sleep(1L << math.min(rebases, 7))
      }
    }
    -1L // unreachable
  }

  /** Janitor for a crashed writer: a claim with no resolution is
    * invisible to readers but holds its slot; marking it aborted
    * releases rivals' conservative conflicts against it. The abort
    * contends atomically with the writer's own commit — if the writer
    * (merely slow, not crashed) resolves first, this returns false
    * and the commit stands. */
  def abortOrphan(root: String, v: Long): Boolean = {
    val d = slotDir(root, v)
    d.exists() && resolution(d).isEmpty &&
      resolve(d, "abort", "orphan") == "abort"
  }

  /** Remove aborted slots whose conflict window is over — every later
    * slot is resolved AND a later slot exists (the highest slot is
    * never purged, committed or not, so `tryCommit`'s `max+1` can
    * never reuse a slot number) — log hygiene so repeated rejected
    * attempts don't grow the directory; committed history is never
    * touched. */
  def purgeAborted(root: String): Unit = {
    val all = slots(root)
    val maxV = all.map(_._1).maxOption.getOrElse(0L)
    all.filter { case (v, d) =>
      isAborted(d) && v < maxV &&
        all.forall { case (v2, d2) => v2 <= v || resolution(d2).isDefined }
    }.foreach { case (_, d) => retireSlot(d) }
  }

  /** [[resolveAsOf]]'s fold with a per-partition LAYER FLAG: true when
    * the winning entry declares a key domain for that partition (it is
    * a layer, not a full owner). Checkpoint owners are always full
    * (the [[checkpoint]] guard refused layered heads), so seeds carry
    * false. */
  private def resolveFlagged(root: String,
      asOf: Long): Map[String, (Long, String, Boolean)] = {
    // fold from the newest usable checkpoint (complete state at its
    // version, and nothing under it may have been expired — so it
    // must sit at or above the expiry horizon), then overlay the
    // committed slots after it
    val horizon = expiredBelow(root)
    val ck = readCheckpoint(root, atMost = asOf, atLeast = horizon)
    if (ck.isEmpty && horizon > 0L)
      throw new IllegalStateException(
        s"asOf(v$asOf) reaches below the expired-history horizon " +
          s"v$horizon with no covering checkpoint — history is gone")
    val from = ck.map(_._1).getOrElse(0L)
    val seed = ck.map(_._2).getOrElse(Map.empty[String, (Long, String)])
      .view.mapValues { case (v, dp) => (v, dp, false) }.toMap
    readLog(root).filter { case (v, _) => v > from && v <= asOf }
      .foldLeft(seed) { case (acc, (v, e)) =>
        acc ++ e.partitions.map(p =>
          p -> (v, e.dataPath, e.keyDomains.contains(p)))
      }
  }

  /** Partition → owning (version, dataPath) as of version `asOf`: the
    * newest committed entry ≤ asOf touching each partition —
    * snapshot-isolation reads over the log, the time-travel semantics
    * [[VersionChain]] gets from immutable generations, here recovered
    * purely from the log's per-partition ownership fold.
    *
    * REFUSES a partition whose winner is a KEY-DOMAIN LAYER: serving
    * the layer as the whole partition would silently return only its
    * key range ([[checkpoint]] fails loudly on the same condition —
    * plain reads must too, not corrupt). Callers reading a layered
    * log use [[resolveLayers]] per partition. */
  def resolveAsOf(root: String, asOf: Long): Map[String, (Long, String)] = {
    val flagged = resolveFlagged(root, asOf)
    val layered = flagged.collect { case (p, (v, _, true)) => s"$p@v$v" }
    if (layered.nonEmpty)
      throw new IllegalStateException(
        s"resolveAsOf(v$asOf): partition(s) ${layered.toSeq.sorted
          .mkString(", ")} resolve to key-domain LAYERS, not full " +
          "owners — read them via resolveLayers (or compact first)")
    flagged.view.mapValues { case (v, dp, _) => (v, dp) }.toMap
  }

  /** Partition → owning (version, dataPath): the newest committed
    * entry touching each partition — the reader-side resolution. */
  def resolvePartitions(root: String): Map[String, (Long, String)] =
    resolveAsOf(root, Long.MaxValue)

  /** KEY-GRANULAR (layered) resolution of one partition as of `asOf`:
    * the newest committed FULL-partition entry (no key domain for it)
    * is the BASE; every later committed entry declaring a key domain
    * for the partition LAYERS on top, in version order. A reader
    * materializes the partition by starting from the base and, per
    * layer, replacing the rows whose key falls inside ANY of the
    * layer's [lo, hi] ranges with the layer's rows — MERGE semantics
    * recovered from the log. Returned as (version, dataPath, domain)
    * ascending; the head is the base (domain None).
    *
    * Base discovery falls back to the newest valid CHECKPOINT ≤ asOf
    * when no full entry survives in the live log: a layer committed
    * above the newest checkpoint stays readable after [[expireBelow]]
    * deletes its base slot, because the checkpoint's owner for the
    * partition is guaranteed full (the [[checkpoint]] guard refuses
    * layered heads) — without the fallback, a legitimate sequence of
    * public ops (merge-with-domain after checkpoint, then expiry)
    * would strand the partition unreadable AND uncompactable. */
  def resolveLayers(root: String, partition: String,
                    asOf: Long = Long.MaxValue)
      : Seq[(Long, String, Option[Seq[(Long, Long)]])] =
    resolveLayersIn(root, readLog(root), partition, asOf)

  /** [[resolveLayers]] over an already-read log — the shared-scan
    * variant [[resolveForRead]] uses so resolving L layered partitions
    * costs ONE |slots| log read, not L of them. */
  private def resolveLayersIn(root: String, log: Seq[(Long, Entry)],
                              partition: String, asOf: Long)
      : Seq[(Long, String, Option[Seq[(Long, Long)]])] = {
    val touching = log.filter { case (v, e) =>
      v <= asOf && e.partitions.contains(partition) }
    val liveBase = touching.collect {
      case (v, e) if !e.keyDomains.contains(partition) => v
    }.maxOption
    val base: (Long, String, Option[Seq[(Long, Long)]]) = liveBase match {
      case Some(bv) =>
        val (_, e) = touching.find(_._1 == bv).get
        (bv, e.dataPath, None)
      case None =>
        val horizon = expiredBelow(root)
        readCheckpoint(root, atMost = asOf, atLeast = horizon)
          .flatMap { case (_, owners) => owners.get(partition)
            .map { case (ov, dp) => (ov, dp, None) } }
          .getOrElse(throw new IllegalStateException(
            s"no full-partition base for '$partition' in the live log " +
              "or any covering checkpoint — layers need a base; " +
              "compact before expiring history"))
    }
    base +: touching.filter { case (v, e) =>
      v > base._1 && e.keyDomains.contains(partition)
    }.sortBy(_._1).map { case (v, e) =>
      (v, e.dataPath, e.keyDomains.get(partition))
    }
  }

  /** The per-partition READ PLAN as of `asOf` — what a connector needs
    * to serve the table: Left((version, dataPath)) for a partition
    * whose newest owner is FULL (read it directly), Right(layer stack,
    * per [[resolveLayers]]) for one whose newest owner declares a key
    * domain (materialize the layered view). This is the non-throwing
    * twin of [[resolveAsOf]]: layered partitions come back as their
    * stacks instead of refusing the whole resolution. */
  def resolveForRead(root: String, asOf: Long = Long.MaxValue)
      : Map[String, Either[(Long, String),
                           Seq[(Long, String, Option[Seq[(Long, Long)]])]]] = {
    lazy val log = readLog(root) // once, shared by every layered stack
    resolveFlagged(root, asOf).map {
      case (p, (v, dp, false)) => p -> Left((v, dp))
      case (p, _) => p -> Right(resolveLayersIn(root, log, p, asOf))
    }
  }

  // ------------------------------------------------- timestamp travel

  /** TIMESTAMP-keyed time travel (Delta's `timestampAsOf`): the newest
    * committed version whose commit timestamp is ≤ `ts`, or None when
    * `ts` predates the first commit (Delta errors there too — there is
    * no table to read). Timestamps come from the stored entries where
    * slots survive; versions folded into a checkpoint (their slots
    * expired) resolve through the version-derived scheme, which is
    * what `tryCommit` stamped unless the caller replayed foreign
    * history — and foreign history below a checkpoint is gone by
    * definition. Driver-side metadata only. */
  def asOfTimestamp(root: String, ts: Long): Option[Long] = {
    val stamped = slots(root).filter(s => isCommitted(s._2))
      .flatMap(s => readEntry(s._2)).map { case (v, e) => (v, e.ts) }
    val folded = checkpoints(root).map(_._1)
      .filterNot(stamped.map(_._1).toSet)
      .map(v => (v, commitTimestamp(v)))
    (stamped ++ folded).filter(_._2 <= ts).map(_._1).maxOption
  }

  /** [[resolveAsOf]] keyed by wall-clock instead of version; empty map
    * when `ts` predates the first commit. */
  def resolveAsOfTimestamp(root: String, ts: Long)
      : Map[String, (Long, String)] =
    asOfTimestamp(root, ts)
      .map(resolveAsOf(root, _))
      .getOrElse(Map.empty)

  /** Every data path ANYTHING may still reference — committed,
    * aborted, AND in-flight entries (a stalled claim can still
    * commit; its staging must never be swept from under it) plus
    * every checkpoint fold's owner paths (an expired slot's data can
    * be the live owner a checkpoint serves). External sweepers (the
    * graftlake vacuum's staging sweep) must treat this set as live;
    * the precise ABORTED-entry reclamation is [[sweepOrphanStaging]],
    * which applies the same rules internally. Root-relative paths are
    * returned as stored. */
  def referencedPaths(root: String): Set[String] =
    (slots(root).flatMap(s => readEntry(s._2)).map(_._2.dataPath) ++
      checkpoints(root).map(_._1).flatMap(v =>
        readCheckpoint(root, atMost = v, atLeast = v).toSeq
          .flatMap(_._2.values.map(_._2))))
      .map(_.stripSuffix("/")).toSet

  // ---------------------------------------------- orphan-staging sweep

  /** ORPHANED-STAGING reclamation — the untracked-file half of VACUUM
    * (`q_vacuum` expires committed GENERATIONS; this reclaims the
    * staged data of commits that never made it): a conflict-rejected
    * or janitor-aborted writer staged its private files at
    * `Entry.dataPath` before losing, and nothing ever deletes them —
    * they are invisible to every reader yet hold bytes forever.
    * Every aborted slot's entry names exactly what its writer staged,
    * so the sweep is precise, never a blind directory walk:
    *
    *   - CANDIDATES = dataPaths of ABORTED entries.
    *   - KEPT if any COMMITTED entry (raw log or checkpoint fold) or
    *     any UNRESOLVED claim's entry references the same path or a
    *     path nesting with it (an in-flight writer's staging is never
    *     swept; a rebased retry that re-staged at the same path and
    *     won keeps it alive), or if the caller's `alsoLive` set does
    *     (paths owned by manifests outside this log).
    *   - Path-traversal hygiene: absolute paths, `..`, empty, and the
    *     log directory itself are never touched.
    *
    * Returns the swept root-relative paths, sorted. Idempotent: a
    * second sweep returns empty. Metadata-proportional — |slots| reads
    * plus one rmTree per orphan. */
  def sweepOrphanStaging(root: String,
                         alsoLive: Set[String] = Set.empty): Seq[String] = {
    def norm(p: String) = p.stripSuffix("/")
    val ss = slots(root)
    val live: Set[String] =
      (ss.filter { case (_, d) => !isAborted(d) } // committed or in-flight
         .flatMap(s => readEntry(s._2)).map(_._2.dataPath) ++
       checkpoints(root).map(_._1).flatMap(v =>
         readCheckpoint(root, atMost = v, atLeast = v).toSeq
           .flatMap(_._2.values.map(_._2))) ++
       alsoLive.toSeq).map(norm).toSet
    def nests(a: String, b: String) =
      a == b || a.startsWith(b + "/") || b.startsWith(a + "/")
    val orphans = ss.filter { case (_, d) => isAborted(d) }
      .flatMap(s => readEntry(s._2)).map(e => norm(e._2.dataPath))
      .distinct
      .filter(p => p.nonEmpty && !p.startsWith("/") &&
        !p.split("/").contains("..") && !nests(p, "commitlog"))
      .filterNot(p => live.exists(nests(p, _)))
    orphans.flatMap { p =>
      val f = new java.io.File(root, p)
      if (f.exists()) { VersionChain.rmTree(f); Some(p) } else None
    }.sorted
  }
}
