package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs of one body did: jobs started, tasks ended, the
  * bytes those tasks returned to the driver, the shuffle records they
  * wrote and the largest execution memory any one of them held. */
final case class Work(jobs: Int, tasks: Int, resultBytes: Long,
    shuffleRecordsWritten: Long, peakTaskMemory: Long)

object Work {
  private val JobGroup = "spark.jobGroup.id"

  /** Runs `body` under a fresh job group and returns what that group's
    * jobs did, with `body`'s result. A listener counts the group's jobs
    * and the tasks of their stages only, so jobs other threads run
    * meanwhile are not counted. A marker job run afterwards flushes the
    * listener queue: events reach a listener in order, so once the
    * marker is seen every event of `body` is. The job group is a
    * thread-local property: it replaces the caller's group and is
    * cleared when `body` returns. */
  def of[T](spark: SparkSession)(body: => T): (Work, T) = {
    val sc = spark.sparkContext
    val group = s"work-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seenMarker = new CountDownLatch(1)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs, tasks = new AtomicInteger
    val resultBytes, records, peak = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(JobGroup))) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            j.stageIds.foreach(stages.add(_))
          case Some(`marker`) => seenMarker.countDown()
          case _ =>
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId)) {
          tasks.incrementAndGet()
          val m = t.taskMetrics
          if (m != null) {
            resultBytes.addAndGet(m.resultSize)
            records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(seenMarker.await(30, TimeUnit.SECONDS),
        "listener never saw the marker job")
      (Work(jobs.get, tasks.get, resultBytes.get, records.get, peak.get), result)
    } finally sc.removeSparkListener(listener)
  }
}
