package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** DriverPar is structured concurrency: a failing task surfaces its own
  * exception, and no sibling's write outlives the call. */
class DriverParSpec extends AnyFunSuite {

  test("results come back in task order") {
    assert(DriverPar.all(Seq(() => { Thread.sleep(50); 1 }, () => 2, () => 3,
      () => 4)) === Seq(1, 2, 3, 4))
  }

  test("a failing task: its cause is rethrown unwrapped, running siblings " +
    "finish before the call returns, queued ones never start") {
    val landed = new ConcurrentLinkedQueue[String]()
    val boom = new IllegalStateException("boom")
    val allRunning = new CountDownLatch(3)
    def slowWrite(tag: String): () => Unit = () => {
      allRunning.countDown()
      Thread.sleep(300)
      landed.add(tag); ()
    }
    val tasks = Seq[() => Unit](
      () => { allRunning.countDown(); allRunning.await(); throw boom },
      slowWrite("running_a"), slowWrite("running_b"),
      () => { landed.add("queued_a"); () },
      () => { landed.add("queued_b"); () })
    val thrown = intercept[IllegalStateException](DriverPar.all(tasks))
    assert(thrown eq boom)
    val atReturn = landed.asScala.toSet
    assert(atReturn === Set("running_a", "running_b"))
    Thread.sleep(500)
    assert(landed.asScala.toSet === atReturn,
      "a sibling write landed after the call returned")
  }
}
