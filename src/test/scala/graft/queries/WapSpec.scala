package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ops.CommitLog

/** q_wap — write-audit-publish: the branch log is independent of
  * main, publish is metadata-only (the published dataPath IS the
  * branch's staged path), the refused corrupt branch never advances
  * main, and the flow is idempotent. */
class WapSpec extends SparkSpec {

  private lazy val root = graft.ops.FixtureStore.root("wap", sf0001)

  private lazy val rows = SparkEntry.queries("q_wap")(spark, sf0001)
    .collect().toSeq.sortBy(_.getString(0))

  test("branch commits never advance main before publish") {
    rows // force the run
    // the good branch's log carries ITS commit at v2 — and main's v2
    // is the PUBLISH (different writer), not the branch commit
    val branchLog = CommitLog.readLog(s"$root/branch_good").toMap
    val mainLog = CommitLog.readLog(s"$root/main").toMap
    assert(branchLog(2L).writer == "producer")
    assert(mainLog(2L).writer == "publisher")
    // the bad branch committed in ITS log and main never gained it
    val badLog = CommitLog.readLog(s"$root/branch_bad").toMap
    assert(badLog.values.exists(_.writer == "corruptor"))
    assert(!mainLog.values.exists(_.writer == "corruptor"))
  }

  test("publish is metadata-only: the published path IS the staged path") {
    rows
    val mainLog = CommitLog.readLog(s"$root/main").toMap
    assert(mainLog(2L).dataPath == s"$root/data/branch_good",
      "publish copied data instead of committing the branch path")
  }

  test("the refused branch leaves main's head unchanged") {
    rows
    assert(CommitLog.latestCommitted(s"$root/main") == 2L)
    val bad = rows.find(_.getString(0) == "5_audit_bad").get
    assert(bad.getString(1) == "refused")
    assert(bad.getLong(3) > 0, "the corrupt branch had no violations")
    val good = rows.find(_.getString(0) == "3_audit_good").get
    assert(good.getString(1) == "pass" && good.getLong(3) == 0)
  }

  test("main head serves the published branch content bit-for-bit") {
    val head = rows.find(_.getString(0) == "6_main_head").get
    val branch = rows.find(_.getString(0) == "2_branch_good").get
    assert(head.getLong(4) == branch.getLong(4) &&
      head.getLong(3) == branch.getLong(3))
    // and it differs from the base (the update really landed)
    val base = rows.find(_.getString(0) == "1_main_base").get
    assert(head.getLong(4) != base.getLong(4))
  }

  test("re-run is idempotent") {
    val first = rows.map(_.toSeq)
    val again = SparkEntry.queries("q_wap")(spark, sf0001)
      .collect().toSeq.sortBy(_.getString(0)).map(_.toSeq)
    assert(first == again)
  }
}
