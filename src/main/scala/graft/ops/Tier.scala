package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** The one driver-tier gate. Below a bound, an engine step collects
  * its input and works on the driver (the reference's single-node
  * shortcut); above it, the step's distributed twin runs. Like Spark's
  * broadcast-join choice, one rule decides every tier: one
  * `limit(bound + 1)` collect of the step's input, with no full count
  * and no persist, so a corpus-scale input stops after bound + 1 rows
  * and a small one is collected by the probe that decided. Each bound
  * is stated beside the step that owns it. */
object Tier {

  /** One gate's decision; `driver` is false for the distributed tier. */
  final case class Choice(gate: String, driver: Boolean)

  private final class Scope(val forceDistributed: Boolean) {
    val choices = new java.util.concurrent.ConcurrentLinkedQueue[Choice]()
  }

  @volatile private var scope: Option[Scope] = None

  /** The driver tier's input: the rows of `df` when it has at most
    * `bound` of them. None: the caller runs its distributed tier. */
  def rows(gate: String, df: DataFrame, bound: Int): Option[Array[Row]] = {
    val s = scope
    val got =
      if (s.exists(_.forceDistributed)) None
      else Some(df.limit(bound + 1).collect()).filter(_.length <= bound)
    s.foreach(_.choices.add(Choice(gate, got.isDefined)))
    got
  }

  /** Test seam: runs `body` with every gate's choice recorded in call
    * order and, when `forceDistributed`, with every gate taking its
    * distributed tier. One scope at a time. */
  private[graft] def scoped[T](forceDistributed: Boolean)(body: => T)
      : (T, Seq[Choice]) = synchronized {
    val s = new Scope(forceDistributed)
    scope = Some(s)
    try {
      val out = body
      (out, s.choices.asScala.toSeq)
    } finally scope = None
  }
}
