package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The fixed query lists. A pass runs each query once. `llm_data` is
  * for runs by hand only: the run budget holds two workloads
  * (RATIONALE.md). */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    "clearmap" -> Seq("q_clean_cast", "q_filter_nullcity", "q_rebase15",
      "q_daily_sums", "q_export_frame", "q_dissolve", "q_write_geojson"),
    "llm_data" -> Seq("q_dedup_minhash", "q_dedup_simhash", "q_ann_pq",
      "q_media_resize"),
    "lake" -> Seq("q_write_partitioned", "q_lake_write", "q_commit_log"))

  /** Typical seconds per pass on the 4-core host the lists were sized on. */
  val passSeconds: Map[String, Double] =
    Map("clearmap" -> 3.5, "llm_data" -> 3.0, "lake" -> 2.8)
}

/** What one query must produce. `hashChecked = false` marks a query
  * whose hash differs between runs of the same code; it is checked by
  * row count and schema only. */
final case class Expected(rows: Long, hash: String, hashChecked: Boolean,
    schema: String)

object Expected {
  /** Tab-separated: name, rows, hash, "hash"|"rows", schema. */
  def read(p: Path): Map[String, Expected] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t", -1)
        f(0) -> Expected(f(1).toLong, f(2), f(3) == "hash", f(4))
      }.toMap

  def write(p: Path, rows: Seq[(String, Expected)]): Unit = {
    val lines = "# name\trows\thash\tcheck\tschema" +: rows.sortBy(_._1).map {
      case (n, e) =>
        s"$n\t${e.rows}\t${e.hash}\t${if (e.hashChecked) "hash" else "rows"}\t${e.schema}"
    }
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** The action every query ends in: the row count and an
  * order-insensitive hash of every output column, so no column can be
  * pruned away. Floating-point values are rounded to 6 decimals first,
  * which keeps the hash independent of summation order in most queries.
  *
  * The query plan ends in a projection to one hash per row; the count
  * and the sum are folded over the executed plan's RDD. An aggregate
  * in the plan would let the optimizer drop sorts beneath it
  * (`EliminateSorts`), and a query's final sort is part of its cost. */
object Action {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case t if hasMap(t) => to_json(c)
    case _ => c
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The query's rows, each reduced to one `xxhash64` of all its columns. */
  def hashed(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = renamed.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    renamed.select((if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)).as("h"))
  }

  /** Row count and the sum of the row hashes of a `hashed` frame. */
  def run(hashedDf: DataFrame): (Long, BigInt) = {
    // each hash split into its high and low 32 bits: both sums fit a long
    val perPart = hashedDf.queryExecution.toRdd.mapPartitions { rows =>
      var n, hi, lo = 0L
      rows.foreach { r =>
        val h = r.getLong(0)
        n += 1; hi += h >> 32; lo += h & 0xffffffffL
      }
      Iterator((n, hi, lo))
    }.collect()
    (perPart.map(_._1).sum,
      perPart.map { case (_, hi, lo) => (BigInt(hi) << 32) + lo }.sum)
  }
}

/** Failure accounting over timed executions: a failed execution is
  * attempted and failed, and gives no latency sample. Samples come
  * from `untraced` only. */
final case class Tally(attempted: Int, failures: Seq[QueryRun], samplesMs: Seq[Double]) {
  def successFrac: Double = 1.0 - failures.length.toDouble / math.max(1, attempted)
}

object Tally {
  def apply(timed: Seq[QueryRun], untraced: Seq[QueryRun]): Tally =
    Tally(timed.length, timed.filterNot(_.ok), untraced.filter(_.ok).map(_.ms))
}

/** Outcome of one query execution. Times are epoch ms. */
final case class QueryRun(name: String, qp: String, start: Double, end: Double,
    phases: Seq[Span], optimizeMs: Double, planMs: Double, cachedBytes: Long,
    ok: Boolean, error: Option[String], rows: Long, hash: String, schema: String,
    plan: String) {
  def ms: Double = end - start
}

/** Runs queries one at a time in a closed loop and checks each output. */
final class Runner(spark: SparkSession, dataDir: String,
    queries: Map[String, (SparkSession, String) => DataFrame],
    expected: Map[String, Expected]) {

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  /** Block-manager memory held by persisted frames. */
  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Runs one query; `keepPlan` keeps its executed plan's tree string. */
  def runOne(name: String, qp: String, keepPlan: Boolean): QueryRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(qp, name, interruptOnCancel = false)
    val phases = Seq.newBuilder[Span]
    def timed[A](kind: String)(f: => A): A = {
      val s = now()
      try f finally phases += Span(qp, kind, name, s, now())
    }
    var optimizeMs, planMs = 0.0
    var cached = 0L
    var plan = ""
    val start = now()
    val outcome: Either[String, (Long, String, String)] =
      try {
        val df = timed("construct")(queries(name)(spark, dataDir))
        val act = Action.hashed(df)
        val qe = act.queryExecution
        timed("optimize")(qe.optimizedPlan)
        timed("plan")(qe.executedPlan)
        val (rows, hash) = timed("action")(Action.run(act))
        val tracked = qe.tracker.phases
        optimizeMs = tracked.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
        planMs = tracked.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
        if (keepPlan) plan = qe.executedPlan.treeString
        Right((rows, hash.toString, df.schema.catalogString))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        timed("release") {
          cached = cachedBytes()
          graft.ops.SideCache.releaseAll()
          spark.catalog.clearCache()
        }
        sc.clearJobGroup()
      }
    val end = now()
    outcome match {
      case Left(err) =>
        QueryRun(name, qp, start, end, phases.result(), optimizeMs, planMs, cached,
          ok = false, Some(err), -1L, "", "", plan)
      case Right((rows, hash, schema)) =>
        val mismatch = expected.get(name) match {
          case None if expected.nonEmpty => Some("no recorded output")
          case None => None
          case Some(e) if e.rows != rows => Some(s"rows $rows != expected ${e.rows}")
          case Some(e) if e.schema != schema => Some(s"schema $schema != expected ${e.schema}")
          case Some(e) if e.hashChecked && e.hash != hash =>
            Some(s"hash $hash != expected ${e.hash}")
          case _ => None
        }
        QueryRun(name, qp, start, end, phases.result(), optimizeMs, planMs, cached,
          mismatch.isEmpty, mismatch, rows, hash, schema, plan)
    }
  }

  /** One pass: every query once, in an order permuted by (seed, pass). */
  def runPass(names: Seq[String], seed: Long, pass: Int,
      keepPlans: Boolean = false): Seq[QueryRun] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
    order.map(n => runOne(n, s"$n#$pass", keepPlans))
  }
}
