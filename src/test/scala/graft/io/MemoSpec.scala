package graft.io

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.VecIndex

class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    s"memospec-$name-${java.util.UUID.randomUUID()}"

  private def onPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  test("eight concurrent first callers of one key run one build") {
    val key = fresh("once")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val got = onPool(8) { implicit ec =>
      val fs = (1 to 8).map { _ =>
        Future {
          start.await()
          Memo.once(key) { builds.incrementAndGet(); Thread.sleep(100); "v" }
        }
      }
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    assert(got == Seq.fill(8)("v"))
    assert(builds.get == 1)
  }

  test("a build blocked on key A does not block a build of key B") {
    val (a, b) = (fresh("a"), fresh("b"))
    val started, release = new CountDownLatch(1)
    onPool(2) { implicit ec =>
      val fa = Future(Memo.once(a) { started.countDown(); release.await(); 1 })
      assert(started.await(30, TimeUnit.SECONDS))
      val fb = Future(Memo.once(b)(2))
      try assert(Await.result(fb, 30.seconds) == 2) finally release.countDown()
      assert(Await.result(fa, 30.seconds) == 1)
    }
  }

  test("a build that throws is not cached: the next call builds again") {
    val key = fresh("throw")
    intercept[IllegalStateException] {
      Memo.once[Int](key)(throw new IllegalStateException("boom"))
    }
    assert(Memo.once(key)(7) == 7)
    assert(Memo.once(key)(8) == 7)
  }

  test("a build that calls once on another key completes " +
      "(a build inside ConcurrentHashMap.computeIfAbsent may throw " +
      "Recursive update)") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    assert(Memo.once(outer)(Memo.once(inner)(20) + 1) == 21)
    assert(Memo.once(inner)(0) == 20)
  }

  test("bySig keeps at most PerRoot signatures per root, the most " +
      "recently used ones") {
    val root = fresh("root")
    val loads = new AtomicInteger
    (1 to 1000).foreach(i => Memo.bySig(root, s"sig$i") { loads.incrementAndGet(); i })
    assert(loads.get == 1000)
    assert(Memo.sigsHeld(root) == Memo.PerRoot)
    // the newest PerRoot are held; an evicted one loads again
    assert(Memo.bySig(root, "sig1000")(-1) == 1000)
    assert(Memo.bySig(root, "sig1")(-1) == -1)
    assert(Memo.sigsHeld(root) == Memo.PerRoot)
  }

  test("clear() runs each release exactly once and keeps the entries " +
      "that have none") {
    val (frame, fixture, root) = (fresh("frame"), fresh("fixture"), fresh("meta"))
    val released = new AtomicInteger
    Memo.once(frame, (_: String) => { released.incrementAndGet(); () })("cached")
    Memo.once(fixture)("on disk")
    Memo.bySig(root, "s")("schema")
    Memo.clear()
    Memo.clear()
    assert(released.get == 1)
    assert(Memo.once(fixture)("rebuilt") == "on disk")
    assert(Memo.bySig(root, "s")("reloaded") == "schema")
    assert(Memo.once(frame, (_: String) => ())("built again") == "built again")
  }

  test("100 appends to one versioned table, each followed by a current " +
      "read and a point read, leave at most PerRoot schema entries") {
    val path = "target/tmp/memospec-vtable"
    Versioned.drop(spark, path)
    (1 to 100).foreach { i =>
      Versioned.append(Seq((i.toLong, s"v$i")).toDF("k", "s"), path)
      assert(Versioned.current(spark, path, "k").count() == i)
      assert(Versioned.currentPoint(spark, path, "k", i.toLong).count() == 1)
    }
    val held = Memo.sigsHeld(path)
    assert(held >= 1 && held <= Memo.PerRoot, held)
  }

  test("point and range reads of many distinct keys over one table " +
      "state share the slice's one schema signature") {
    val path = "target/tmp/memospec-vtable-keys"
    Versioned.drop(spark, path)
    (0 until 20).foreach { i =>
      Versioned.append((i * 10 until i * 10 + 10)
        .map(k => (k.toLong, s"v$k")).toDF("k", "s"), path)
    }
    // each key band prunes to its own commit's files; the schema the
    // pruned read uses must still be the whole slice's
    (0 until 20).foreach { i =>
      val lo = i * 10L
      assert(Versioned.currentPoint(spark, path, "k", lo + 3).count() == 1)
      assert(Versioned.currentRange(spark, path, "k", lo, lo + 4).count() == 5)
    }
    assert(Memo.sigsHeld(path) == 1)
  }

  test("re-initializing a vector index under the same path with a " +
      "different codebook serves the new codebook") {
    def corpus(ids: Range): DataFrame = ids.map { id =>
      id.toLong -> Array.tabulate(64) { i =>
        (((id * 31 + i * 13) % 17).toFloat - 8f) / 8f
      }
    }.toDF("id", "vec")
    def cents(ids: Range) = corpus(ids).select(col("id").as("cid"), col("vec").as("cvec"))
    val qs = corpus(100 until 104)
    def build(path: String, c: Range): Set[(Long, Long, Double)] = {
      val idx = VecIndex.init(corpus(0 until 60), 64, path,
        centroids = Some(cents(c)), cbBuckets = 2)
      VecIndex.ivfTopK(spark, qs, idx, 1, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val path = "target/tmp/memospec-vecidx"
    val first = build(path, 0 until 4)
    val want = build("target/tmp/memospec-vecidx-fresh", 20 until 23)
    assert(first != want, "fixture: the two codebooks must serve differently")
    assert(build(path, 20 until 23) == want)
  }

  test("no TrieMap in src/main outside graft/io/Memo.scala: the driver " +
      "keeps its state in one memo") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val all = files(new java.io.File("src/main"))
    assert(all.exists(_.getPath.endsWith("graft/io/Memo.scala")))
    val offenders = all.filterNot(_.getPath.endsWith("graft/io/Memo.scala")).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("TrieMap") finally src.close()
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
