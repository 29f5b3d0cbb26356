package graft.ops

import java.util.concurrent.{Callable, CancellationException, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** Independent driver-side jobs (typically writes to disjoint paths)
  * run concurrently, so one job's task tail back-fills the cores
  * another leaves idle. Structured: no task outlives the call. */
object DriverPar {

  /** Driver threads per call: enough for two or three jobs to overlap
    * without over-subscribing the executor cores they share. */
  private val Width = 3

  /** Run every task and return their results in task order. On the
    * first failure the tasks not yet started never start, the running
    * ones are awaited, and the failure's own cause is rethrown. */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(tasks.size, Width)))
    val done = new ExecutorCompletionService[T](pool)
    val failed = new AtomicBoolean(false)
    val futures = tasks.map(t => done.submit(new Callable[T] {
      def call(): T = {
        if (failed.get) throw new CancellationException("a sibling task failed")
        try t() catch { case e: Throwable => failed.set(true); throw e }
      }
    }))
    try {
      // completion order: the first failure to land is the one rethrown
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally {
      futures.foreach(_.cancel(false))
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
