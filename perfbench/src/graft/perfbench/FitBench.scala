package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One op as measured: its spans, wall interval, mismatches, the host
  * probe taken just before it and, in the traced phase, the listener's
  * events. */
final case class OpRecord(index: Int, spans: Seq[Span], startMs: Long,
    endMs: Long, errors: Seq[String], events: Option[OpEvents], probeSeconds: Double) {
  def seconds(names: Set[String]): Double =
    spans.filter(s => names.contains(s.name)).map(_.seconds).sum
  /** Time of the spans `names` in units of this op's probe. */
  def probes(names: Set[String]): Double = seconds(names) / probeSeconds
}

/**
 * Host-speed probe: fixed single-threaded work, timed: a sort of 200k
 * doubles and a byte-pair count over 4 MB, on arrays made once. A shared
 * host's speed drifts by 10-20 % over minutes with its other tenants'
 * load, and every op time drifts with it; the ratio of an op's time to
 * the probe taken just before it moves far less. The probe is part of
 * the benchmark, so no change to the program can move it.
 */
object HostProbe {
  private val doubles = {
    val rng = new java.util.SplittableRandom(1L)
    Array.fill(200000)(rng.nextDouble())
  }
  private val bytes = {
    val rng = new java.util.SplittableRandom(2L)
    Array.fill(1 << 22)(rng.nextInt(16).toByte)
  }

  def seconds(): Double = {
    val t0 = System.nanoTime()
    val sorted = doubles.clone()
    java.util.Arrays.sort(sorted)
    val counts = new Array[Long](16 * 16)
    var i = 1
    while (i < bytes.length) {
      counts(bytes(i - 1) * 16 + bytes(i)) += 1
      i += 1
    }
    val t = (System.nanoTime() - t0) / 1e9
    require(sorted(0) <= sorted(sorted.length - 1) && counts.sum == bytes.length - 1L,
      "host probe miscounted")
    t
  }
}
/**
 * Selector-fit benchmark driver.
 *
 * {{{
 * FitBench --workload <paper_fit|sparse_text> --seed <n>
 *   --seconds <s> --trace <0|1> --work-dir <dir> [--host-cpus <n>]
 *   [--smoke] [--corrupt-expected]
 * }}}
 *
 * Runs on local[nproc], nproc being the cores this JVM sees (run.py gives
 * it half of the host's, `--host-cpus`).
 *
 * Builds the workload's inputs five times (set-up time is their median),
 * computes the expected outputs with the reference greedy, warms up, then
 * runs ops back to back (closed loop, one client) for `--seconds`. Every
 * op's output is checked. With `--trace 1` every second op runs under
 * [[StageTrace]], which gives the per-layer metrics; the untraced ops in
 * between give the tracing overhead. The last stdout line is the
 * result JSON; the line before it carries seed, shape, environment and
 * sample counts.
 */
object FitBench {

  /** End-to-end metrics (printed with --trace 0): name -> unit. Fit and
    * transform times are in units of the host probe ([[HostProbe]]); the
    * detail line has them in seconds too. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "fit_probes_p50" -> "probe", "fit_probes_tail" -> "probe",
    "fit_mcells_per_probe" -> "Mcell/probe", "transform_rows_per_probe" -> "rows/probe",
    "working_set_mb" -> "MB")

  /** Per-layer metrics (printed with --trace 1): name -> unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "disc.fit_s" -> "s", "disc.stage_s" -> "s", "disc.driver_s" -> "s",
    "disc.jobs" -> "count", "disc.collected_mb" -> "MB",
    "columnar.stage_s" -> "s", "columnar.task_cpu_s" -> "s", "columnar.gc_s" -> "s",
    "columnar.cached_mb" -> "MB", "scan.input_mb" -> "MB",
    "hist.passes" -> "count", "hist.stage_s" -> "s", "hist.scan_task_s" -> "s",
    "hist.scan_cpu_s" -> "s", "hist.tables_built" -> "count",
    "hist.useful_ratio" -> "ratio", "hist.cpu_ns_per_stored_cell" -> "ns",
    "hist.peak_task_mem_mb" -> "MB",
    "merge.stage_s" -> "s", "merge.task_s" -> "s", "merge.shuffle_write_mb" -> "MB",
    "merge.shuffle_read_mb" -> "MB", "merge.fetch_wait_s" -> "s", "merge.result_kb" -> "KB",
    "select.jobs" -> "count", "select.round_s_p50" -> "s", "select.driver_s" -> "s",
    "select.mrmr_s" -> "s", "select.jmi_s" -> "s",
    "transform.s" -> "s", "transform.stage_s" -> "s", "transform.driver_s" -> "s",
    "transform.task_cpu_s" -> "s",
    "other.stage_s" -> "s", "other.driver_s" -> "s", "other.stages" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "jvm.peak_heap_mb" -> "MB", "trace.op_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "failed_ops_ratio" -> "ratio")

  final case class Options(workload: String = "", seed: Long = -1L,
      seconds: Double = -1, trace: Int = -1, workDir: String = "",
      hostCpus: Int = 0, smoke: Boolean = false, corrupt: Boolean = false)

  def parse(args: List[String], o: Options = Options()): Options = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v.toInt))
    case "--work-dir" :: v :: rest => parse(rest, o.copy(workDir = v))
    case "--host-cpus" :: v :: rest => parse(rest, o.copy(hostCpus = v.toInt))
    case "--smoke" :: rest => parse(rest, o.copy(smoke = true))
    case "--corrupt-expected" :: rest => parse(rest, o.copy(corrupt = true))
    case Nil =>
      require(o.workload.nonEmpty && o.seed >= 0 && o.seconds > 0 &&
        (o.trace == 0 || o.trace == 1) && o.workDir.nonEmpty,
        "need --workload, --seed >= 0, --seconds > 0, --trace 0|1, --work-dir")
      o
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    val wl = Workload(opts.workload, opts.seed, opts.smoke)
    val work = Paths.get(opts.workDir).toAbsolutePath
    Files.createDirectories(work)
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startSeconds = (System.nanoTime() - t0) / 1e9
    try run(spark, wl, opts, work, nproc, loadStart, startSeconds)
    finally {
      wl.release()
      spark.stop()
      Workload.deleteTree(work.resolve("data"))
    }
  }

  private def run(spark: SparkSession, wl: Workload, opts: Options, work: Path,
      nproc: Int, loadStart: Seq[Double], startSeconds: Double): Unit = {
    val sc = spark.sparkContext
    val phases = ArrayBuffer("spark_start" -> startSeconds)
    var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phaseStart) / 1e9
      phaseStart = now
    }

    // set-up, repeated: the first build also pays JIT warm-up, the median
    // is the figure
    val reps = if (opts.smoke) 2 else 5
    val setupTimes = (0 until reps).map { r =>
      wl.release()
      val t0 = System.nanoTime()
      wl.setup(spark, work.resolve("data").resolve(s"input-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    wl.computeExpected()
    if (opts.corrupt) wl.corruptExpected()
    phase("expected")
    val workingSet = wl.workingSetBytes(spark)
    phase("working_set")

    var next = 0
    def runOp(trace: Option[StageTrace]): OpRecord = {
      val i = next
      val probeSeconds = HostProbe.seconds()
      next += 1
      sc.setJobGroup(s"perfbench-op-$i", s"${wl.name} op $i")
      trace.foreach(_.begin(sc.getPersistentRDDs.keySet.toSet))
      val span = new SpanRecorder(sc)
      val w0 = System.currentTimeMillis()
      val errors =
        try wl.op(spark, span)
        catch { case NonFatal(e) => Seq(s"op threw $e") }
      val w1 = System.currentTimeMillis()
      sc.clearJobGroup()
      val events = trace.map { t => PerfbenchBridge.drainListenerBus(sc); t.take() }
      OpRecord(i, span.spans.toList, w0, w1, errors, events, probeSeconds)
    }
    // traced runs alternate untraced and traced ops, so the tracing
    // overhead compares ops of the same warmth
    val listener = new StageTrace
    def tracedOp(): OpRecord = {
      sc.addSparkListener(listener)
      try runOp(Some(listener)) finally sc.removeSparkListener(listener)
    }
    def loop(seconds: Double, traced: Boolean, minOps: Int): Seq[OpRecord] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer.empty[OpRecord]
      while (out.length < minOps || System.nanoTime() < deadline) {
        out += (if (traced && out.length % 2 == 1) tracedOp() else runOp(None))
      }
      out.toList
    }

    // warm-up until JIT and first-use costs settle: at least three ops and
    // eight seconds
    val warm = loop(if (opts.smoke) 0.0 else 8.0, traced = false, minOps = 3)
    phase("warmup")
    val traced = opts.trace == 1
    heapPools.foreach(_.resetPeakUsage())
    val measured = loop(opts.seconds, traced, minOps = 2)
    phase("measure")
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val untracedOps = measured.filter(_.events.isEmpty)
    val tracedOps = measured.filter(_.events.nonEmpty)
    val all = warm ++ measured
    val failedOps = all.filter(_.errors.nonEmpty)

    val fitTimes = untracedOps.map(_.seconds(wl.fitSpans))
    val fitP50 = median(fitTimes)
    val fitProbes = untracedOps.map(_.probes(wl.fitSpans))
    val cells = wl.rows.toDouble * wl.features / 1e6
    val scored = untracedOps.filter(_.spans.exists(_.name == "transform"))
    val scoredRows = wl.rows.toDouble * wl.scoringCopies
    val endToEnd = Map(
      "setup_s" -> median(setupTimes),
      "fit_probes_p50" -> median(fitProbes),
      "fit_probes_tail" -> tail(fitProbes),
      "fit_mcells_per_probe" -> cells / median(fitProbes),
      "transform_rows_per_probe" -> median(scored.map(o => scoredRows / o.probes(Set("transform")))),
      "working_set_mb" -> workingSet / 1e6)
    val wallSeconds = Map(
      "probe_s_p50" -> median(untracedOps.map(_.probeSeconds)),
      "fit_s_p50" -> fitP50,
      "fit_s_tail" -> tail(fitTimes),
      "fit_mcells_per_s" -> cells / fitP50,
      "transform_rows_per_s" -> median(scored.map(o => scoredRows / o.seconds(Set("transform")))))

    val perOp = tracedOps.map(o => layerMetrics(wl, o))
    val addUpErrors = perOp.zip(tracedOps).collect {
      case (m, o) if math.abs(StageTrace.StageLayers.map(l => m(s"$l.stage_s")).sum +
          StageTrace.DriverLayers.map(l => m(s"$l.driver_s")).sum - m("trace.op_s")) > 1e-6 =>
        s"op ${o.index}: layer times do not add up to the op's wall time"
    }
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else PerLayer.map { case (k, unit) =>
        // times are means, so they keep adding up to trace.op_s; counts
        // and sizes repeat from op to op and are medians, exact to the bit
        val xs = perOp.map(_.getOrElse(k, 0.0))
        k -> (if (unit == "s") mean(xs) else median(xs))
      }.toMap ++ Map(
        "jvm.peak_heap_mb" -> peakHeapMb,
        "trace.overhead_ratio" -> median(tracedOps.map(_.probes(wl.fitSpans))) / median(fitProbes),
        "failed_ops_ratio" -> failedOps.length.toDouble / all.length)

    val otherFiles = perOp.flatMap(_.keys.filter(_.startsWith("other.file."))).distinct
      .map(k => k.stripPrefix("other.file.") -> mean(perOp.map(_.getOrElse(k, 0.0))))
    val errors = failedOps.flatMap(o => o.errors.map(e => s"op ${o.index}: $e")) ++ addUpErrors
    errors.take(10).foreach(e => System.err.println(s"perfbench: $e"))

    val detail = Json.obj(
      "workload" -> wl.name, "seed" -> wl.seed, "smoke" -> opts.smoke,
      "trace" -> opts.trace, "shape" -> Json.obj(wl.shape: _*),
      "env" -> Json.obj(
        "nproc" -> nproc, "host_cpus" -> opts.hostCpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "load_start" -> loadStart, "load_end" -> loadavg()),
      "samples" -> Json.obj("setup" -> setupTimes.length,
        "fit" -> fitTimes.length, "transform" -> untracedOps.length,
        "traced" -> tracedOps.length, "warmup" -> warm.length),
      "phases_s" -> Json.obj(phases.toSeq: _*),
      "setup_s" -> setupTimes, "fit_s" -> fitTimes,
      "transform_s" -> untracedOps.map(_.seconds(Set("transform"))),
      "end_to_end" -> Json.obj(endToEnd.toSeq: _*),
      "wall" -> Json.obj(wallSeconds.toSeq: _*),
      "probe_s" -> untracedOps.map(_.probeSeconds),
      "other_files_stage_s" -> Json.obj(otherFiles: _*),
      "errors" -> errors.take(10))
    println(Json.obj("detail" -> detail))

    if (traced) writeTrace(work.getParent.resolve("trace")
      .resolve(s"${wl.name}-seed${wl.seed}.json"), wl, tracedOps)

    val (names, values) =
      if (traced) (PerLayer, perLayer) else (EndToEnd, endToEnd)
    val metrics = names.map { case (n, unit) =>
      n -> Json.obj("value" -> values(n), "unit" -> unit)
    }
    println(Json.obj(
      "correct" -> (failedOps.isEmpty && addUpErrors.isEmpty),
      "attempted" -> all.length,
      "failed" -> failedOps.length,
      "metrics" -> Json.obj(metrics: _*)))
  }

  /** Per-layer figures of one traced op. */
  private def layerMetrics(wl: Workload, o: OpRecord): Map[String, Double] = {
    val ev = o.events.get
    val spanByName = o.spans.map(s => s.name -> s).toMap
    def spanOf(j: JobRec): Option[Span] =
      spanByName.get(j.span).orElse(o.spans.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs))
    val jobOfStage = ev.jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    def moduleOf(s: StageRec): String = StageTrace.ModuleOfFile.getOrElse(s.file,
      if (!StageTrace.BenchFiles.contains(s.file)) "other"
      else jobOfStage.get(s.id).flatMap(spanOf).map(_.layer) match {
        case Some(l @ ("disc" | "transform")) => l
        case _ => "other"
      })
    val stages = ev.stages.filter(s => jobOfStage.contains(s.id))
    def of(m: String) = stages.filter(moduleOf(_) == m)
    def sum(ss: Seq[StageRec])(f: StageRec => Long): Double = ss.map(f).sum.toDouble
    val disc = of("disc"); val columnar = of("columnar"); val hist = of("hist")
    val merge = of("merge"); val transform = of("transform"); val other = of("other")
    val histStageIds = hist.map(_.id).toSet
    val histJobs = ev.jobs.filter(_.stageIds.exists(histStageIds)).sortBy(_.startMs)
    val jobLayer = ev.jobs.map(j => j.id -> spanOf(j).map(_.layer).getOrElse("other")).toMap

    // tables built for still-selectable candidates: pass p of a selection
    // tables every feature (p = 0, relevance) or every feature but the
    // newest selected one, of which nf - p are still candidates
    val nf = wl.features
    val useful = histJobs.groupBy(j => spanOf(j).map(_.name).getOrElse("")).values.map { js =>
      js.sortBy(_.startMs).zipWithIndex.map { case (j, p) =>
        val built = hist.filter(s => j.stageIds.contains(s.id)).map(_.shuffleWriteRecords).sum
        built.toDouble * (nf - p) / (if (p == 0) nf else nf - 1)
      }.sum
    }.sum
    val tablesBuilt = sum(hist)(_.shuffleWriteRecords)
    val otherFiles = other.groupBy(_.file).map { case (f, ss) =>
      s"other.file.$f" -> ss.map(s => (s.completedMs - s.submittedMs) / 1e3).sum
    }

    StageTrace.attribute(o.startMs, o.endMs, o.spans, stages, moduleOf) ++ otherFiles ++ Map(
      "disc.fit_s" -> o.seconds(Set("disc")),
      "disc.jobs" -> jobLayer.values.count(_ == "disc").toDouble,
      "disc.collected_mb" -> sum(disc)(_.resultBytes) / 1e6,
      "columnar.task_cpu_s" -> sum(columnar)(_.cpuNs) / 1e9,
      "columnar.gc_s" -> sum(columnar)(_.gcMs) / 1e3,
      "columnar.cached_mb" -> ev.peakCachedBytes / 1e6,
      "scan.input_mb" -> sum(stages)(_.inputBytes) / 1e6,
      "hist.passes" -> histJobs.length.toDouble,
      "hist.scan_task_s" -> sum(hist)(_.runMs) / 1e3,
      "hist.scan_cpu_s" -> sum(hist)(_.cpuNs) / 1e9,
      "hist.tables_built" -> tablesBuilt,
      "hist.useful_ratio" -> (if (tablesBuilt > 0) useful / tablesBuilt else 0.0),
      "hist.cpu_ns_per_stored_cell" ->
        (if (histJobs.isEmpty) 0.0 else sum(hist)(_.cpuNs) / (histJobs.length * wl.storedCells.toDouble)),
      "hist.peak_task_mem_mb" -> hist.map(_.peakTaskMemBytes).maxOption.getOrElse(0L) / 1e6,
      "merge.task_s" -> sum(merge)(_.runMs) / 1e3,
      "merge.shuffle_write_mb" -> sum(hist)(_.shuffleWriteBytes) / 1e6,
      "merge.shuffle_read_mb" -> sum(merge)(_.shuffleReadBytes) / 1e6,
      "merge.fetch_wait_s" -> sum(merge)(_.fetchWaitMs) / 1e3,
      "merge.result_kb" -> sum(merge)(_.resultBytes) / 1e3,
      "select.jobs" -> jobLayer.values.count(_ == "select").toDouble,
      "select.round_s_p50" -> median(histJobs.map(j => (j.endMs - j.startMs) / 1e3)),
      "select.mrmr_s" -> o.seconds(Set("select.mrmr")),
      "select.jmi_s" -> o.seconds(Set("select.jmi")),
      "transform.s" -> o.seconds(Set("transform")),
      "transform.task_cpu_s" -> sum(transform)(_.cpuNs) / 1e9,
      "other.stages" -> other.length.toDouble,
      "spark.jobs" -> ev.jobs.length.toDouble,
      "spark.stages" -> stages.length.toDouble,
      "spark.tasks" -> sum(stages)(_.tasks.toLong),
      "trace.op_s" -> (o.endMs - o.startMs) / 1e3)
  }

  /** Spans and stages of the traced ops, written once at exit. */
  private def writeTrace(file: Path, wl: Workload, ops: Seq[OpRecord]): Unit = {
    Files.createDirectories(file.getParent)
    val json = Json.obj("workload" -> wl.name, "seed" -> wl.seed, "ops" -> ops.map { o =>
      val ev = o.events.get
      Json.obj("op" -> o.index, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "spans" -> o.spans.map(s => Json.obj("name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ns" -> s.nanos)),
        "jobs" -> ev.jobs.map(j => Json.obj("id" -> j.id, "span" -> j.span,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds)),
        "stages" -> ev.stages.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "submitted_ms" -> s.submittedMs, "completed_ms" -> s.completedMs,
          "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
          "result_bytes" -> s.resultBytes, "input_bytes" -> s.inputBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_write_records" -> s.shuffleWriteRecords,
          "shuffle_read_bytes" -> s.shuffleReadBytes)))
    })
    Files.writeString(file, json.toString + "\n")
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(_.getType == MemoryType.HEAP)

  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case NonFatal(_) => Nil }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Highest sample with at least ten samples above it; the maximum when
    * a run has ten samples or fewer. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length > 10) s(s.length - 11) else s.last
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for the result lines and the trace file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
      d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case o: Obj => o.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
