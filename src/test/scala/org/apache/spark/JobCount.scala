package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts. The listener bus delivers
  * events on its own thread, and it can only be drained from inside
  * the `org.apache.spark` package. */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
