package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Number of Spark jobs `body` starts, counted by a SparkListener. */
  protected def jobsRunBy(body: => Unit): Int = workOf(body).jobs

  /** The Spark jobs `body` starts, their tasks and the bytes those tasks
    * return to the driver, seen by a SparkListener. A marker job run
    * afterwards flushes the listener queue: events reach a listener in
    * order, so once the marker is seen every event of `body` is. */
  protected def workOf(body: => Unit): SparkSpec.Work = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == group) j.stageIds.foreach(stages.add(_))
        groups.add(g)
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId)) {
          tasks.incrementAndGet()
          if (t.taskMetrics != null) resultBytes.addAndGet(t.taskMetrics.resultSize)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      SparkSpec.Work(groups.toArray.count(_ == group), tasks.get, resultBytes.get)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** What [[SparkSpec.workOf]] saw. */
  final case class Work(jobs: Int, tasks: Int, resultBytes: Long)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/tmp/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
