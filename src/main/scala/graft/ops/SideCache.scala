package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for query-internal persisted side tables (shingle tables,
  * band tables, LSH buckets, vocab aggregates, …).
  *
  * These persists mark genuine reuse boundaries — the side table feeds
  * two or more downstream joins and recomputing it would repeat a
  * corpus pass — but the persist is only *triggered* when the caller
  * materializes the returned DataFrame, so the query function itself
  * can never unpersist. Lifecycle is therefore caller-managed:
  *
  *  1. run the query: `val df = SparkEntry.queries(name)(spark, dir)`
  *  2. materialize it (count / write / collect)
  *  3. call [[SideCache.releaseAll]] (or `spark.catalog.clearCache()`)
  *
  * `Verify` and `Bench` both do exactly this between queries; a
  * long-lived session embedding the engine should too, or the blocks
  * stay pinned (MEMORY_AND_DISK, so they spill rather than OOM — but
  * they still hold disk until session end). `releaseAll` only touches
  * tables registered here, so user-managed caches in the same session
  * survive.
  */
object SideCache {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` (MEMORY_AND_DISK) and register it for release. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(ds)
    ds
  }

  /** Unpersist every registered side table (non-blocking) and clear
    * the registry. Safe to call while plans referencing the tables are
    * still alive — they simply recompute on next use. */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) { d.unpersist(blocking = false); d = live.poll() }
  }

  /** Run `body`, then unpersist and deregister every side table it
    * registered; tables registered before it stay. A side table that a
    * concurrent caller registers meanwhile (a sibling [[DriverPar]]
    * task) is released too — it only recomputes on next use. */
  def releasingNew[T](body: => T): T = {
    val before = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]())
    live.forEach(d => before.add(d))
    try body
    finally live.forEach { d =>
      if (!before.contains(d) && live.remove(d)) d.unpersist(blocking = false)
    }
  }

  /** Registered-but-unreleased side tables (diagnostic/test hook —
    * does not drain the registry). */
  def liveSnapshot: Seq[Dataset[_]] = {
    val it = live.iterator()
    val b = Seq.newBuilder[Dataset[_]]
    while (it.hasNext) b += it.next()
    b.result()
  }
}
