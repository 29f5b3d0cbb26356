package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.io.{File, IOException}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop pass benchmark over one workload.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR [--expected FILE] [--record FILE] [--trace-out FILE]
  * }}}
  *
  * One client thread runs the workload's queries one at a time. Set-up
  * is repeated `SetupReps` times, each time over a fresh fixture
  * directory, and ends in one warm pass over the last fixtures. Then
  * come as many timed passes as take at least about `S` seconds
  * (`Workloads.passSeconds`). The last stdout line is the result
  * object; the line before it holds the details.
  *
  * With `--record`, the outputs of every execution are written to FILE
  * instead of being checked; an `--expected` file is then the record of
  * an earlier run, and the two must agree on row counts and schemas. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: Option[String], record: Option[String],
      traceOut: Option[String])

  /** Set-up repetitions; `setup_s` takes their median. */
  val SetupReps = 2

  /** Seconds after JVM start past which no further timed pass starts
    * (beyond the minimum), well inside the launcher's 170 s limit. */
  val PassDeadlineS = 120

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), kv.get("expected"), kv.get("record"),
      kv.get("trace-out"))
  }

  // ---- process counters -------------------------------------------------

  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
  /** Bytes passed to write calls. The kernel's `write_bytes` counts a
    * page again only after writeback, so it depends on flush timing. */
  private def writeBytes(): Long = procField("/proc/self/io", "wchar")
  private def vmHwmBytes(): Long = procField("/proc/self/status", "VmHWM") * 1024L
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private final case class Counters(wall: Double, cpuNs: Long, writeBytes: Long,
      gcMs: Long, jitMs: Long, compiles: Long, compileMs: Double)

  /** The regular files under `root` with their attributes. Spark's
    * cleaner deletes shuffle and broadcast files under the same root at
    * any time, so an entry that vanishes during the walk is skipped. */
  private def filesUnder(root: File): Seq[(Path, BasicFileAttributes)] = {
    val found = Seq.newBuilder[(Path, BasicFileAttributes)]
    if (root.exists) Files.walkFileTree(root.toPath, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) found += p -> a
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    found.result()
  }

  private def dirBytes(root: File): Long = filesUnder(root).map(_._2.size).sum

  // ---- statistics --------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest order statistic that still leaves ten samples above
    * it, with the percentile it stands for; the maximum when there are
    * fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = if (s.length > 10) s.length - 11 else s.length - 1
    (s(i), 100.0 * (i + 1) / s.length)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")

  // ---- per-pass record ---------------------------------------------------

  private final case class Pass(index: Int, traced: Boolean, runs: Seq[QueryRun],
      before: Counters, after: Counters, jobs: Seq[JobRec], stages: Seq[StageRec],
      tablesOpenMs: Double) {
    def wallS: Double = (after.wall - before.wall) / 1000
  }

  /** The session every run uses, with its local and warehouse
    * directories under `tmpRoot`. */
  def session(cores: Int, tmpRoot: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.io.GraftLakeExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(tmpRoot, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmpRoot, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // local[k] with k <= 4: the host this benchmark was sized on has 4 cores
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val names = Workloads.all.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    val tmpRoot = new File(System.getProperty("java.io.tmpdir")).getAbsoluteFile

    val spark = session(cores, tmpRoot)
    val codegenLog = CodegenLog.install()

    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"workload ${o.workload} names unregistered queries: $missing")
    val expected = o.expected.map(p => Expected.read(Paths.get(p))).getOrElse(Map.empty)
    // a recording run checks nothing: it writes what the queries produce
    val runner = new Runner(spark, o.data, registry,
      if (o.record.isDefined) Map.empty else expected)

    def counters(): Counters = {
      val ct = CodegenMetrics.METRIC_COMPILATION_TIME
      Counters(runner.now(), cpuNs(), writeBytes(), gcMs(), jitMs(), ct.getCount,
        codegenLog.totalMs)
    }

    // ---- set-up: session, then SetupReps cold fixture builds, then a warm pass
    val sessionS = (runner.now() - jvmStart) / 1000
    val setupRuns = mutable.ArrayBuffer.empty[QueryRun]
    val repS = (0 until SetupReps).map { r =>
      val dir = new File(tmpRoot, s"fixtures-$r")
      dir.mkdirs()
      System.setProperty("java.io.tmpdir", dir.getPath)
      val t0 = runner.now()
      setupRuns ++= runner.runPass(names, o.seed, -1 - r)
      (runner.now() - t0) / 1000
    }
    // one more pass over the last fixtures: the first pass that reads
    // built fixtures instead of building them runs code no rep has run
    val warmS = {
      val t0 = runner.now()
      setupRuns ++= runner.runPass(names, o.seed, -1 - SetupReps)
      (runner.now() - t0) / 1000
    }
    val setupS = sessionS + median(repS) + warmS
    val setupEnd = runner.now()
    val setupWallS = (setupEnd - jvmStart) / 1000
    val setupMb = dirBytes(tmpRoot) / 1e6

    // ---- timed passes ------------------------------------------------------
    val sched = new SchedTrace
    val sc = spark.sparkContext
    val passes = mutable.ArrayBuffer.empty[Pass]
    // A fixed pass count, sized so the passes take at least about S
    // seconds on the host the workloads were sized on. Counting passes
    // instead of watching the clock keeps the sample count, and so the
    // rank that query_tail_ms reads, the same in every run.
    val sized = math.max(2,
      math.ceil(o.seconds / Workloads.passSeconds(o.workload)).toInt)
    // a traced run: the nearest multiple of four, half of them traced
    val nPasses = if (o.trace) 4 * math.max(1, math.round(sized / 4.0).toInt) else sized
    // On a host several times slower than the sizing host, stop starting
    // passes once the run nears its time limit, so the run still ends
    // with a result; the details line then shows fewer passes.
    val minPasses = if (o.trace) 4 else 2
    val deadline = jvmStart + PassDeadlineS * 1000
    var p = 0
    while (p < nPasses && (p < minPasses || runner.now() < deadline)) {
      // untraced, traced, traced, untraced: the JIT is still warming, and
      // this order gives both kinds the same average position in the run
      val traced = o.trace && (p % 4 == 1 || p % 4 == 2)
      var openMs = 0.0
      if (traced) {
        sc.addSparkListener(sched)
        val t0 = runner.now()
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
          .foreach(t => graft.tables.Tables.table(spark, o.data, t))
        openMs = runner.now() - t0
        PerfbenchBus.drain(sc)
        sched.drain()
      }
      val before = counters()
      val runs = runner.runPass(names, o.seed, p, keepPlans = traced)
      val after = counters()
      val (jobs, stages) =
        if (traced) {
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(sched)
          sched.drain()
        } else (Nil, Nil)
      passes += Pass(p, traced, runs, before, after, jobs, stages, openMs)
      p += 1
    }
    val rebuilds = filesUnder(tmpRoot).count { case (q, a) =>
      val n = q.getFileName.toString
      n.startsWith("_") && n.endsWith("_OK") && a.lastModifiedTime.toMillis > setupEnd
    }
    val peakRssMb = vmHwmBytes() / 1e6

    // ---- end-to-end metrics (untraced passes) -------------------------------
    val plain = passes.filterNot(_.traced).toSeq
    val timedRuns = passes.flatMap(_.runs).toSeq
    val tally = Tally(timedRuns, plain.flatMap(_.runs))
    val samples = tally.samplesMs
    val (tailMs, tailPct) = if (samples.nonEmpty) tail(samples) else (Double.NaN, Double.NaN)
    val passS = median(plain.map(_.wallS))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS, "s"),
      ("query_p50_ms", median(samples), "ms"),
      ("query_tail_ms", tailMs, "ms"),
      // a mean: JIT and GC threads run behind the passes, so a pass's
      // own delta is not its CPU cost
      ("cpu_s", plain.map(x => (x.after.cpuNs - x.before.cpuNs) / 1e9).sum / plain.length, "s"),
      ("write_mb", median(plain.map(x => (x.after.writeBytes - x.before.writeBytes) / 1e6)), "MB"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("success_frac", tally.successFrac, "ratio"))

    // ---- per-layer metrics (traced passes) ---------------------------------
    val traced = passes.filter(_.traced).toSeq
    val layer: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else {
        val perPass = traced.map(layerMetrics(_, cores))
        val keys = perPass.head.map(x => (x._1, x._3))
        val kernels = Kernels.run(spark, o.seed)
        keys.map { case (k, u) => (k, median(perPass.map(_.find(_._1 == k).get._2)), u) } ++
          Seq(("fixtures.setup_mb", setupMb, "MB"),
            ("fixtures.rebuilds", rebuilds.toDouble, "count"),
            ("trace.pass_s", median(traced.map(_.wallS)), "s"),
            ("trace.untraced_pass_s", passS, "s"),
            ("trace.overhead_s", median(traced.map(_.wallS)) - passS, "s")) ++
          kernels.map { case (k, v) => (k, v, "rows/s") }
      }

    o.traceOut.foreach(path => writeSpans(Paths.get(path), traced))
    o.traceOut.foreach(path => writePlans(Paths.get(path + ".plans.txt"), traced))
    o.record.foreach(path => record(Paths.get(path), setupRuns.toSeq ++ timedRuns, expected))

    val details = Seq(
      s""""workload":${str(o.workload)}""", s""""seed":${o.seed}""",
      s""""cores":$cores""", s""""queries":[${names.map(str).mkString(",")}]""",
      s""""passes":${passes.length}""", s""""traced_passes":${traced.length}""",
      s""""samples":${samples.length}""",
      s""""query_tail_percentile":${num(tailPct)}""",
      s""""session_s":${num(sessionS)}""",
      s""""setup_wall_s":${num(setupWallS)}""",
      s""""setup_rep_s":[${repS.map(num).mkString(",")}]""",
      s""""warm_pass_s":${num(warmS)}""",
      s""""query_ms":{${names.map(n => s"${str(n)}:${num(median(
        plain.flatMap(_.runs).filter(r => r.ok && r.name == n).map(_.ms)))}").mkString(",")}}""",
      s""""setup_query_ms":{${names.map(n => str(n) + ":[" + setupRuns.filter(_.name == n)
        .map(r => num(r.ms)).mkString(",") + "]").mkString(",")}}""",
      s""""pass_s_all":[${passes.map(x => num(x.wallS)).mkString(",")}]""",
      s""""failures":[${tally.failures.map(r => str(s"${r.qp}: ${r.error.getOrElse("")}")).mkString(",")}]""",
      s""""end_to_end":${metricsJson(e2e)}""")
    println("PERFBENCH-DETAILS {" + details.mkString(",") + "}")
    println(s"""PERFBENCH-RESULT {"correct":${tally.failures.isEmpty},""" +
      s""""attempted":${tally.attempted},"failed":${tally.failures.length},""" +
      s""""metrics":${metricsJson(if (o.trace) layer else e2e)}}""")
    spark.stop()
  }

  /** The per-layer numbers of one traced pass. */
  private def layerMetrics(p: Pass, cores: Int): Seq[(String, Double, String)] = {
    val runs = p.runs
    val jobIv = p.jobs.map(j => (j.start.toDouble, j.end.toDouble))
    def phases(kind: String) = runs.flatMap(_.phases.filter(_.kind == kind))
    def jobsIn(spans: Seq[Span]) =
      p.jobs.filter(j => spans.exists(s => Spans.within(s.start, s.end, j.start.toDouble)))
    def selfOf(kind: String) =
      phases(kind).map(s => Spans.self(s.start, s.end, jobIv)).sum
    val queryJobs = jobsIn(runs.map(r => Span(r.qp, "query", r.name, r.start, r.end)))
    val stageById = p.stages.map(s => s.id -> s).toMap
    val aggs = p.stages.map(_.agg)
    val taskRunMs = aggs.map(_.runMs).sum
    val shuffleW = aggs.map(_.shuffleWriteBytes).sum
    val wallMs = p.after.wall - p.before.wall
    Seq(
      ("tables.open_ms", p.tablesOpenMs, "ms"),
      ("tables.infer_jobs", queryJobs.count(_.viaTables).toDouble, "count"),
      ("queries.construct_ms", phases("construct").map(_.ms).sum, "ms"),
      ("queries.construct_jobs", jobsIn(phases("construct")).length.toDouble, "count"),
      ("catalyst.optimize_ms", runs.map(_.optimizeMs).sum, "ms"),
      ("catalyst.plan_ms", runs.map(_.planMs).sum, "ms"),
      ("codegen.compiles", (p.after.compiles - p.before.compiles).toDouble, "count"),
      ("codegen.compile_ms", p.after.compileMs - p.before.compileMs, "ms"),
      ("exec.action_ms", phases("action").map(_.ms).sum, "ms"),
      ("exec.jobs", queryJobs.length.toDouble, "count"),
      ("exec.stages", p.stages.length.toDouble, "count"),
      ("exec.tasks", aggs.map(_.tasks).sum.toDouble, "count"),
      ("exec.task_run_ms", taskRunMs, "ms"),
      ("exec.task_cpu_ms", aggs.map(_.cpuMs).sum, "ms"),
      ("exec.task_gc_ms", aggs.map(_.gcMs).sum, "ms"),
      ("exec.task_wait_ms", aggs.map(_.waitMs).sum, "ms"),
      ("exec.driver_gap_ms", runs.map(r => Spans.self(r.start, r.end, jobIv)).sum, "ms"),
      ("exec.core_util", taskRunMs / (wallMs * cores), "ratio"),
      ("exec.shuffle_write_mb", shuffleW / 1e6, "MB"),
      ("exec.shuffle_read_mb", aggs.map(_.shuffleReadBytes).sum / 1e6, "MB"),
      ("exec.spill_mb", aggs.map(_.spillBytes).sum / 1e6, "MB"),
      ("exec.failed_tasks", aggs.map(_.failedTasks).sum.toDouble, "count"),
      ("ops.release_ms", phases("release").map(_.ms).sum, "ms"),
      ("ops.cached_mb", runs.map(_.cachedBytes).max / 1e6, "MB"),
      ("io.file_write_mb", (p.after.writeBytes - p.before.writeBytes - shuffleW) / 1e6, "MB"),
      ("jvm.gc_ms", (p.after.gcMs - p.before.gcMs).toDouble, "ms"),
      ("jvm.jit_ms", (p.after.jitMs - p.before.jitMs).toDouble, "ms"),
      ("self.query_ms", runs.map(r =>
        Spans.self(r.start, r.end, r.phases.map(s => (s.start, s.end)))).sum, "ms"),
      ("self.construct_ms", selfOf("construct"), "ms"),
      ("self.optimize_ms", selfOf("optimize"), "ms"),
      ("self.plan_ms", selfOf("plan"), "ms"),
      ("self.action_ms", selfOf("action"), "ms"),
      ("self.release_ms", selfOf("release"), "ms"),
      ("self.job_ms", p.jobs.map(j => Spans.self(j.start.toDouble, j.end.toDouble,
        j.stageIds.flatMap(stageById.get).map(s => (s.submit.toDouble, s.end.toDouble)))).sum, "ms"),
      ("self.stage_ms", p.stages.map(s => (s.end - s.submit).toDouble).sum, "ms"))
  }

  /** Query spans with their phase children, and job spans with their
    * stage children, one JSON object per line, keyed by query-pass id. */
  private def writeSpans(path: Path, traced: Seq[Pass]): Unit = {
    val lines = traced.flatMap { p =>
      def owner(t: Double) = p.runs.find(r => Spans.within(r.start, r.end, t)).map(_.qp)
        .getOrElse(s"pass#${p.index}")
      def span(qp: String, kind: String, name: String, s: Double, e: Double, parent: String) =
        s"""{"qp":${str(qp)},"kind":${str(kind)},"name":${str(name)},""" +
          s""""start_ms":${num(s)},"end_ms":${num(e)},"parent":${str(parent)}}"""
      val stageById = p.stages.map(s => s.id -> s).toMap
      p.runs.flatMap { r =>
        span(r.qp, "query", r.name, r.start, r.end, "") +:
          r.phases.map(s => span(r.qp, s.kind, s.name, s.start, s.end, "query"))
      } ++ p.jobs.flatMap { j =>
        val qp = owner(j.start.toDouble)
        val parent = p.runs.find(_.qp == qp).flatMap(_.phases.find(s =>
          Spans.within(s.start, s.end, j.start.toDouble))).map(_.kind).getOrElse("query")
        span(qp, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble, parent) +:
          j.stageIds.flatMap(stageById.get).map(s =>
            span(qp, "stage", s"stage ${s.id}", s.submit.toDouble, s.end.toDouble, s"job ${j.id}"))
      }
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }

  /** Expected outputs from every execution of a recording run, merged
    * with an earlier run's record `prior` when there is one. Row counts
    * and schemas must agree everywhere; the hash is checked only where
    * all executions of both runs agreed on it. */
  private def record(path: Path, runs: Seq[QueryRun], prior: Map[String, Expected]): Unit = {
    val bad = runs.filterNot(_.ok)
    require(bad.isEmpty, s"cannot record, failed: ${bad.map(r => s"${r.qp}: ${r.error}")}")
    val names = runs.map(_.name).toSet
    require(prior.isEmpty || prior.keySet == names,
      s"the earlier record ran other queries: ${prior.keySet} vs $names")
    val rows = runs.groupBy(_.name).toSeq.map { case (n, rs) =>
      val all = rs.map(r => Expected(r.rows, r.hash, hashChecked = true, r.schema)) ++ prior.get(n)
      require(all.map(_.rows).distinct.length == 1, s"$n row count varies: ${all.map(_.rows)}")
      require(all.map(_.schema).distinct.length == 1, s"$n schema varies")
      n -> Expected(rs.head.rows, rs.head.hash,
        all.forall(_.hashChecked) && all.map(_.hash).distinct.length == 1, rs.head.schema)
    }
    Expected.write(path, rows)
  }

  /** The executed plan of each query in the first traced pass. */
  private def writePlans(path: Path, traced: Seq[Pass]): Unit = {
    val text = traced.headOption.toSeq.flatMap(_.runs).sortBy(_.name)
      .map(r => s"== ${r.qp} ==\n${r.plan}")
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, text.asJava, StandardCharsets.UTF_8)
  }
}
