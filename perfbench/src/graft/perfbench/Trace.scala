package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/**
 * A timed region of one op, around a call into one layer. `layer` names
 * the bucket that gets the region's driver time (time no stage covers):
 * disc, select, transform or other. Wall clock in ms (the clock Spark's
 * stage events use), duration in ns.
 */
final case class Span(name: String, layer: String, startMs: Long, endMs: Long,
    nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Records the spans of one op, in order. */
final class SpanRecorder(sc: org.apache.spark.SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String, layer: String)(body: => T): T = {
    sc.setLocalProperty(StageTrace.SpanKey, name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, layer, w0, System.currentTimeMillis(), System.nanoTime() - t0)
      sc.setLocalProperty(StageTrace.SpanKey, null)
    }
  }
}

final case class JobRec(id: Int, span: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])

final case class StageRec(id: Int, name: String, submittedMs: Long,
    completedMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    resultBytes: Long, inputBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, shuffleReadBytes: Long, fetchWaitMs: Long,
    peakTaskMemBytes: Long) {

  /** Source file of the call site: "collect at Foo.scala:12" -> Foo.scala. */
  def file: String = name.split(" at ").last.split(":").head
}

/** Everything the listener saw during one op. */
final case class OpEvents(jobs: Seq[JobRec], stages: Seq[StageRec],
    peakCachedBytes: Long)

/**
 * Listener of the traced run. It keeps jobs, completed stages, each
 * stage's peak task memory, and the bytes of RDD blocks cached since the
 * op began, all in memory; `take` hands them over per op.
 */
final class StageTrace extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val peakMem = mutable.HashMap.empty[Int, Long]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var preexisting = Set.empty[Int]
  private var cached = 0L
  private var peakCached = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StageTrace.SpanKey))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      peakMem(e.stageId) =
        math.max(peakMem.getOrElse(e.stageId, 0L), e.taskMetrics.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages += StageRec(s.stageId, s.name, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), s.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.resultSize, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      peakMem.getOrElse(s.stageId, 0L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId if !preexisting.contains(b.rddId) =>
        // a block stored before the op began (its removal can land late,
        // the engine unpersists without blocking) is not the op's
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cached += bytes - blocks.getOrElse(b, 0L)
        if (bytes == 0L) blocks.remove(b) else blocks(b) = bytes
        peakCached = math.max(peakCached, cached)
      case _ =>
    }
  }

  /** Start an op: only RDD blocks stored from now on count toward its
    * peak cached bytes, and none of the RDDs already cached (the
    * workload's inputs). */
  def begin(cachedRdds: Set[Int]): Unit = synchronized {
    jobs.clear(); stages.clear(); peakMem.clear(); blocks.clear()
    preexisting = cachedRdds
    cached = 0L
    peakCached = 0L
  }

  def take(): OpEvents = synchronized {
    OpEvents(jobs.values.toList, stages.toList, peakCached)
  }
}

object StageTrace {
  /** Local property naming the span that launched a job. */
  val SpanKey = "perfbench.span"

  /** Engine source file -> layer its stages are charged to. */
  val ModuleOfFile: Map[String, String] = Map(
    "FrequencyDiscretizer.scala" -> "disc",
    "Columnar.scala" -> "columnar",
    "Histograms.scala" -> "hist",
    // the histogram jobs' result stages: the merged tables are reduced
    // by key and turned into MI/CMI rows collected by the greedy loop
    "InfoThSelector.scala" -> "merge")

  /** The benchmark's own files: a stage they launch materializes the
    * lazy output of the layer whose span is open, and is charged to it. */
  val BenchFiles: Set[String] =
    Set("Workloads.scala")

  val StageLayers: Seq[String] =
    Seq("disc", "columnar", "hist", "merge", "transform", "other")
  val DriverLayers: Seq[String] = Seq("disc", "select", "transform", "other")

  /**
   * Splits one op's wall interval among layers. Each instant covered by
   * running stages goes to those stages' modules in equal shares; each
   * instant no stage covers is driver time of the innermost open span.
   * The buckets add up to the op's wall time by construction.
   */
  def attribute(opStartMs: Long, opEndMs: Long, spans: Seq[Span],
      stages: Seq[StageRec], moduleOf: StageRec => String): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    StageLayers.foreach(l => acc(s"$l.stage_s") = 0.0)
    DriverLayers.foreach(l => acc(s"$l.driver_s") = 0.0)
    def clip(t: Long): Long = math.max(opStartMs, math.min(opEndMs, t))
    val live = stages.filter(s => s.submittedMs > 0 && s.completedMs > 0)
    val cuts = (Seq(opStartMs, opEndMs) ++
      live.flatMap(s => Seq(clip(s.submittedMs), clip(s.completedMs))) ++
      spans.flatMap(s => Seq(clip(s.startMs), clip(s.endMs)))).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val seconds = (b - a) / 1000.0
        val active = live.filter(s => s.submittedMs <= a && s.completedMs >= b)
        if (active.nonEmpty) {
          active.foreach { s =>
            val key = s"${moduleOf(s)}.stage_s"
            acc(key) = acc(key) + seconds / active.length
          }
        } else {
          val layer = spans.find(s => s.startMs <= a && s.endMs >= b)
            .map(_.layer).getOrElse("other")
          acc(s"$layer.driver_s") = acc(s"$layer.driver_s") + seconds
        }
      case _ =>
    }
    acc.toMap
  }
}
