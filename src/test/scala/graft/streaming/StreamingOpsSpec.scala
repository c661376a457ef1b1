package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.StreamingOps._

class StreamingOpsSpec extends SparkSpec {

  private def mkEvents(n: Int, users: Int, seed: Int): Seq[Event] = {
    val rng = new scala.util.Random(seed)
    // timestamps spread so that real session gaps (> 30 min) occur
    (0 until n).map { i =>
      Event(rng.nextInt(users).toLong,
        i.toLong * 300L * 1000000L + rng.nextInt(1000000),
        rng.nextDouble() * 100)
    }
  }

  test("sessionLengths splits on gaps > 30 min") {
    val m = 60L * 1000000L
    assert(Sessionize.sessionLengths(Nil) == Nil)
    assert(Sessionize.sessionLengths(Seq(0L)) == Seq(1L))
    // 0, 10min, 50min(gap), 60min, 120min(gap)
    assert(Sessionize.sessionLengths(Seq(0L, 10 * m, 50 * m, 60 * m, 120 * m))
      == Seq(2L, 2L, 1L))
    // unsorted input is sorted first
    assert(Sessionize.sessionLengths(Seq(120 * m, 0L, 60 * m, 10 * m, 50 * m))
      == Seq(2L, 2L, 1L))
  }

  test("batch sessionize matches a brute-force per-user computation") {
    import spark.implicits._
    val events = mkEvents(500, 7, 3)
    val got = Sessionize.batch(events.toDS()).collect()
      .map(s => s.user_id -> ((s.n_sessions, s.max_session_len))).toMap
    val expected = events.groupBy(_.user_id).map { case (u, es) =>
      val lens = Sessionize.sessionLengths(es.map(_.tsMicros))
      u -> ((lens.length.toLong, lens.max))
    }
    assert(got == expected)
  }

  test("streaming sessionize over micro-batches converges to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents(300, 5, 9).sortBy(_.tsMicros)
    val stream = MemoryStream[Event]
    // timeout disabled: the memory-stream test drives batches by addData
    val query = Sessionize.streaming(stream.toDS(), idleTimeoutMs = 0L)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update()).start()
    try {
      // feed time-ordered chunks like a live source would
      events.grouped(75).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      // last emitted snapshot per user == batch result over everything
      val snaps = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val last = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rows) => u -> rows.maxBy(_._2)._1 }
      val expected = Sessionize.batch(events.toDS()).collect()
        .map(s => s.user_id -> ((s.user_id, s.n_sessions, s.max_session_len)))
        .toMap
      assert(last == expected)
    } finally query.stop()
  }

  test("watermarked streaming windowed stats finalize closed windows (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingOps.streamingWindowedStats(
      stream.toDS().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
    val query = agg.writeStream.format("memory").queryName("wstats")
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      stream.addData(
        (ts("2024-01-01 10:05:00"), "click", 2.0),
        (ts("2024-01-01 10:55:00"), "click", 3.0))
      query.processAllAvailable()
      // watermark hasn't passed 11:00 yet -> nothing finalized
      assert(spark.table("wstats").count() == 0)
      // an event far past the window end pushes the watermark over it
      stream.addData((ts("2024-01-01 13:00:00"), "error", 1.0))
      query.processAllAvailable()
      stream.addData((ts("2024-01-01 15:00:00"), "error", 1.0))
      query.processAllAvailable()
      val rows = spark.table("wstats").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3)))
      assert(rows.toSet.contains(("2024-01-01 10:00:00.0", "click", 2L, 5.0)),
        s"got ${rows.mkString("; ")}")
    } finally query.stop()
  }

  test("streaming chunk dedup keeps exactly the batch chunk keepers on in-order input") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // chunk size 3; doc 2 re-orders doc 1's chunks, doc 3 repeats one
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "d e f a b c"),
      (3L, "a b c x y z"))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    // THE batch chunking operator, with the event time carried through
    // (stateless projection — streaming-safe by construction)
    val streamChunks = graft.pipeline.Dedup.chunkRows(
      stream.toDS().toDF("ts", "doc_id", "text"), "doc_id", "text", 3,
      carry = Seq("ts"))
    val deduped = StreamingOps.streamingDedup(
      streamChunks, md5(col("chunk")), "ts", "10 minutes")
    val query = deduped.writeStream.format("memory").queryName("cdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
      docs.zipWithIndex.foreach { case ((id, text), i) =>
        stream.addData((ts(i), id, text))
        query.processAllAvailable()
      }
      val streamed = spark.table("cdedup").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))).toSet
      // batch keepers (first occurrence in doc_id, chunk_idx order —
      // the arrival order here)
      val batchKeepers = graft.pipeline.Dedup.chunkDedup(
          docs.toDF("doc_id", "text"), "doc_id", "text", 3)
        .filter(col("doc_id") === col("keeper_doc") &&
          col("chunk_idx") === col("keeper_idx"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(streamed == batchKeepers,
        s"streamed=$streamed batch=$batchKeepers")
    } finally query.stop()
  }

  test("idle-timeout finalization closes the open session exactly once") {
    import Sessionize._
    // user with 2 closed sessions (max 5) and a 3-event open session
    val s = finalizeUser(9L, UserState(2L, 5L, List(1L, 2L, 3L)))
    assert(s == SessionSummary(9L, 3L, 5L))
    // open session longer than any closed one
    val s2 = finalizeUser(9L, UserState(2L, 2L, List(1L, 2L, 3L)))
    assert(s2 == SessionSummary(9L, 3L, 3L))
    // nothing open: state unchanged by the close
    val s3 = finalizeUser(9L, UserState(4L, 7L, Nil))
    assert(s3 == SessionSummary(9L, 4L, 7L))
  }

  test("incremental histogram state over N batches equals one batch over the union") {
    import spark.implicits._
    val rng = new scala.util.Random(21)
    val rows = (0 until 900).map { _ =>
      (rng.nextInt(6), rng.nextInt(50), rng.nextInt(24), 1 + rng.nextInt(28),
        rng.nextInt(5))
    }
    val df = rows.toDF("f0", "f1", "f2", "f3", "label")
    val inc = new IncrementalHistogramState(4, 256, 5)
    (0 until 3).foreach { b =>
      inc.update(df.filter($"f1" % 3 === b))
    }
    val once = new IncrementalHistogramState(4, 256, 5).update(df)
    assert(inc.nInstances == rows.length.toLong)
    assert(once.nInstances == rows.length.toLong)
    assert(inc.toLongForm == once.toLongForm)
    inc.relevances.zip(once.relevances).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("foreachBatch incremental refit over a live stream converges to batch MI") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(47)
    val rows = (0 until 600).map { _ =>
      (rng.nextInt(6), rng.nextInt(50), rng.nextInt(24), 1 + rng.nextInt(28),
        rng.nextInt(5))
    }
    val state = new IncrementalHistogramState(4, 256, 5)
    val stream = MemoryStream[(Int, Int, Int, Int, Int)]
    val query = stream.toDS()
      .toDF("f0", "f1", "f2", "f3", "label")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state.update(batch); ()
      }
      .start()
    try {
      rows.grouped(200).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
    } finally query.stop()
    val batchState = new IncrementalHistogramState(4, 256, 5)
      .update(rows.toDF("f0", "f1", "f2", "f3", "label"))
    assert(state.nInstances == 600)
    assert(state.toLongForm == batchState.toLongForm)
    state.relevances.zip(batchState.relevances).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("streaming dedup keeps the first arrival across micro-batches, " +
      "matching the batch canonical form on an in-order stream") {
    import org.apache.spark.sql.functions.{col, md5}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (id, content, tsMicros); duplicates within AND across batches
    val rows = Seq(
      (1L, "alpha", 1000L), (2L, "beta", 2000L), (3L, "alpha", 3000L),
      (4L, "gamma", 4000L), (5L, "beta", 5000L), (6L, "delta", 6000L),
      (7L, "alpha", 7000L), (8L, "delta", 8000L))
    val stream = MemoryStream[(Long, String, Long)]
    val deduped = StreamingOps.streamingDedup(
      stream.toDS().toDF("id", "content", "tsMicros")
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(col("tsMicros"))),
      md5(col("content")), "ts", "1 hour")
    val query = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      rows.grouped(3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val got = spark.table("sdedup").select("id").collect()
        .map(_.getLong(0)).toSet
      // first arrival of each content wins: alpha->1, beta->2, gamma->4,
      // delta->6
      assert(got == Set(1L, 2L, 4L, 6L))
      // equals the batch canonical form on this in-order input
      val batch = StreamingOps.firstSeenBatch(
        rows.toDF("id", "content", "tsMicros")
          .withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(col("tsMicros"))),
        md5(col("content")), "ts", "id")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == batch)
    } finally query.stop()
  }

  test("stream-stream attribution join emits exactly the batch pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // (event_id, user_id, ts): user 1 has two clicks inside the window
    // of purchase 103 and one outside (ts(0), 180 min early); user 2
    // has one in-window click (90 min) and one AT the purchase
    // timestamp (excluded — strict <)
    val clicks = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(100)), (3L, 1L, ts(110)),
      (4L, 2L, ts(50)), (5L, 2L, ts(140)))
    val purchases = Seq((103L, 1L, ts(180)), (204L, 2L, ts(140)))
    val cs = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ps = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(s: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      s.toDS().toDF("event_id", "user_id", "ts")
    val joined = StreamingOps.streamingAttribution(
      named(cs), named(ps), "2 hours", "10 minutes")
    val query = joined.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      cs.addData(clicks)
      ps.addData(purchases)
      query.processAllAvailable()
      val streamed = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = StreamingOps.attributionJoin(
        clicks.toDF("event_id", "user_id", "ts"),
        purchases.toDF("event_id", "user_id", "ts"), "2 hours")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // inner-join results emit eagerly (the watermark only bounds state)
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch == Set(
        (103L, 2L, 1L, 80L * 60000000L),
        (103L, 3L, 1L, 70L * 60000000L),
        (204L, 4L, 2L, 90L * 60000000L)))
    } finally query.stop()
  }

  test("streaming as-of over micro-batches emits exactly the batch as-of matches") {
    import org.apache.spark.sql.functions.timestamp_micros
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(31)
    // strictly increasing distinct timestamps; explicit tie coverage is
    // in the batch asofJoin test — here equivalence on in-order feed
    val rows = (0 until 300).map { i =>
      StreamingOps.AsofInput(rng.nextInt(6).toLong,
        i.toLong * 1000000L + rng.nextInt(1000),
        if (rng.nextBoolean()) 1 else 0, 1000L + i)
    }
    val stream = MemoryStream[StreamingOps.AsofInput]
    val query = StreamingOps.streamingAsof(stream.toDS())
      .writeStream.format("memory").queryName("sasof")
      .outputMode(OutputMode.Append()).start()
    try {
      rows.grouped(60).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("sasof").collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
        .toSet
      val left = rows.filter(_.tag == 1)
        .map(e => (e.id, e.k, timestampOf(e.tsMicros)))
        .toDF("lid", "k", "ts")
      val right = rows.filter(_.tag == 0)
        .map(e => (e.id, e.k, timestampOf(e.tsMicros)))
        .toDF("rid", "k", "ts")
      val batch = StreamingOps.asofJoin(left, right, "k", "ts", "lid", "rid")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
        .toSet
      assert(streamed == batch)
      // coverage: both matched and unmatched right rows occurred
      assert(streamed.exists(_._2.isDefined) && streamed.exists(_._2.isEmpty),
        "degenerate fixture")
    } finally query.stop()
  }

  test("out-of-order streaming as-of equals batch under shuffled-within-delay feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(47)
    // strictly increasing distinct timestamps 60s apart; disorder is
    // introduced by shuffling 90-event blocks, then feeding batches of
    // 60 — displacement <= 90 min, within the 2h watermark delay, and
    // the 90/60 mismatch guarantees disorder ACROSS batch boundaries
    // (the case the in-order operator cannot handle)
    val rows = (0 until 360).map { i =>
      val k = rng.nextInt(5).toLong
      // key 4 is right-only, so unmatched (null-left) rights occur
      val tag = if (k == 4L || !rng.nextBoolean()) 0 else 1
      StreamingOps.AsofInput(k,
        i.toLong * 60L * 1000000L + rng.nextInt(1000), tag, 1000L + i)
    }
    val shuffled = rows.grouped(90).flatMap(b => rng.shuffle(b)).toSeq
    assert(shuffled != rows.sortBy(_.tsMicros), "fixture failed to disorder")
    val maxTs = rows.map(_.tsMicros).max
    // sentinel left row far past max+delay: advances the watermark so
    // every real event matures; emits nothing itself (tag 1)
    val sentinel = StreamingOps.AsofInput(999L,
      maxTs + 4L * 3600L * 1000000L, 1, 999999L)
    val stream = MemoryStream[StreamingOps.AsofInput]
    val query = StreamingOps.streamingAsofOutOfOrder(stream.toDS(), "2 hours")
      .writeStream.format("memory").queryName("sasof_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      shuffled.grouped(60).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      stream.addData(sentinel)
      query.processAllAvailable()
      val streamed = spark.table("sasof_ooo").collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
        .toSet
      val left = rows.filter(_.tag == 1)
        .map(e => (e.id, e.k, timestampOf(e.tsMicros)))
        .toDF("lid", "k", "ts")
      val right = rows.filter(_.tag == 0)
        .map(e => (e.id, e.k, timestampOf(e.tsMicros)))
        .toDF("rid", "k", "ts")
      val batch = StreamingOps.asofJoin(left, right, "k", "ts", "lid", "rid")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3))))
        .toSet
      assert(streamed == batch)
      assert(streamed.exists(_._2.isDefined) && streamed.exists(_._2.isEmpty),
        "degenerate fixture")
    } finally query.stop()
  }

  test("out-of-order streaming funnel equals batch under shuffled-within-delay feed") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("view", "click", "purchase", "error", "signup")
    val rng = new scala.util.Random(53)
    // same disorder construction as the as-of test: 30min spacing,
    // 90-block shuffle (<= 45h displacement) under a 48h delay, fed in
    // 60-event batches so disorder crosses batch boundaries
    val events = (0 until 360).map { i =>
      StreamingOps.FunnelEventRow(rng.nextInt(9).toLong,
        i.toLong * 1800L * 1000000L + rng.nextInt(1000000),
        types(rng.nextInt(types.length)))
    }
    val shuffled = events.grouped(90).flatMap(b => rng.shuffle(b)).toSeq
    val maxTs = events.map(_.tsMicros).max
    val sentinel = StreamingOps.FunnelEventRow(999L,
      maxTs + 96L * 3600L * 1000000L, "error")
    val stream = MemoryStream[StreamingOps.FunnelEventRow]
    val query = StreamingOps.Funnel
      .streamingOutOfOrder(stream.toDS(), "48 hours")
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode(OutputMode.Update()).start()
    try {
      shuffled.grouped(60).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      stream.addData(sentinel)
      query.processAllAvailable()
      // LAST update per user is the converged answer
      val updates = spark.table("funnel_ooo").collect()
      val streamed = updates.zipWithIndex
        .groupBy(_._1.getLong(0)).map { case (u, rs) =>
          u -> rs.maxBy(_._2)._1.getSeq[Long](1).toList
        }
        .filter(_._1 != 999L)
      val batch = StreamingOps.Funnel.batch(
        events.map(e => (e.user_id, timestampOf(e.tsMicros), e.event_type))
          .toDF("user_id", "ts", "event_type"))
        .collect().map { r =>
          r.getLong(0) -> (1 until r.length).toList
            .map(i => Option(r.getTimestamp(i)))
            .takeWhile(_.isDefined)
            .map(t => t.get.getTime * 1000L + t.get.getNanos / 1000 % 1000)
        }.toMap
      assert(streamed == batch)
      // coverage: both completed and partial funnels occurred
      assert(streamed.values.exists(_.length == 3) &&
        streamed.values.exists(_.length < 3), "degenerate fixture")
    } finally query.stop()
  }

  test("out-of-order streaming sessionize equals batch under " +
      "shuffled-within-delay feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(59)
    // 8 users, strictly increasing 10-min-spaced events (gaps > 30min
    // occur because a user's consecutive events are usually further
    // apart than the spacing); 60-block shuffle (<= 10h displacement)
    // under a 12h delay, fed in 45-event batches so disorder crosses
    // micro-batch boundaries
    val events = (0 until 240).map { i =>
      StreamingOps.Event(rng.nextInt(8).toLong,
        i.toLong * 600L * 1000000L + rng.nextInt(1000), 1.0)
    }
    val shuffled = events.grouped(60).flatMap(b => rng.shuffle(b)).toSeq
    assert(shuffled != events, "fixture failed to disorder")
    val maxTs = events.map(_.tsMicros).max
    val sentinel = StreamingOps.Event(999L,
      maxTs + 48L * 3600L * 1000000L, 1.0)
    val stream = MemoryStream[StreamingOps.Event]
    val query = StreamingOps.Sessionize
      .streamingOutOfOrder(stream.toDS(), "12 hours")
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode(OutputMode.Update()).start()
    try {
      shuffled.grouped(45).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      stream.addData(sentinel) // advances the watermark past every event
      query.processAllAvailable()
      // LAST update per user is the converged answer
      val updates = spark.table("sess_ooo").collect()
      val streamed = updates.zipWithIndex
        .groupBy(_._1.getLong(0)).map { case (u, rs) =>
          val r = rs.maxBy(_._2)._1
          u -> (r.getLong(1), r.getLong(2))
        }
        .filter(_._1 != 999L)
      val batch = StreamingOps.Sessionize.batch(events.toDS())
        .collect().map(s => s.user_id -> (s.n_sessions, s.max_session_len))
        .toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // coverage: multiple sessions and a multi-event session occurred
      assert(batch.values.exists(_._1 > 1) && batch.values.exists(_._2 > 1),
        "degenerate fixture")
    } finally query.stop()
  }

  private def timestampOf(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(micros / 1000L)
    t.setNanos((micros % 1000000L).toInt * 1000)
    t
  }

  test("out-of-order streaming dedup emits the batch-canonical keeper " +
      "under shuffled-within-delay feed") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(41)
    // 40 fingerprints x 5 rows each, 10min apart; 50-row block shuffle
    // (<= 500min displacement) under a 10h delay, fed in 60-row batches
    // so disorder crosses micro-batch boundaries — the case where
    // first-ARRIVAL (streamingDedup) diverges from the canonical
    // first-by-(ts, id) keeper
    val rows = (0 until 200).map { i =>
      StreamingOps.DedupInput("fp" + (i % 40),
        i.toLong * 600L * 1000000L + rng.nextInt(1000), i.toLong)
    }
    val shuffled = rows.grouped(50).flatMap(b => rng.shuffle(b)).toSeq
    val canonical = rows.groupBy(_.fp).map { case (fp, rs) =>
      val k = rs.map(r => (r.tsMicros, r.id)).min
      (fp, k._1, k._2)
    }.toSet
    // non-degeneracy: after shuffling, some fingerprint's first arrival
    // is NOT its canonical keeper
    val firstArrival = shuffled.groupBy(_.fp)
      .map { case (fp, rs) => (fp, rs.head.tsMicros, rs.head.id) }.toSet
    assert(firstArrival != canonical, "fixture failed to disorder")
    val maxTs = rows.map(_.tsMicros).max
    val sentinel = StreamingOps.DedupInput("zz",
      maxTs + 48L * 3600L * 1000000L, 999999L)
    val stream = MemoryStream[StreamingOps.DedupInput]
    val query = StreamingOps.streamingDedupOutOfOrder(
        stream.toDS(), "10 hours", 24L * 3600L * 1000000L)
      .writeStream.format("memory").queryName("sdedup_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      shuffled.grouped(60).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      stream.addData(sentinel) // advances the watermark past every row
      query.processAllAvailable()
      val streamed = spark.table("sdedup_ooo").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == canonical, s"missing=${canonical -- streamed} " +
        s"extra=${streamed -- canonical}")
      // and the canonical set IS the batch operator's keeper set
      val batch = StreamingOps.firstSeenBatch(
          rows.toDF("fp0", "tsMicros", "id")
            .withColumn("ts", org.apache.spark.sql.functions
              .timestamp_micros(col("tsMicros"))),
          col("fp0"), "ts", "id")
        .select("fp", "tsMicros", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == canonical)
    } finally query.stop()
  }

  test("asofJoin: strict before, max-id ties, left-outer nulls") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // key 1: left ids 2 and 3 share t=20 (tie -> max id); right at t=20
    // must NOT see them (strict <); key 2 has no left rows at all
    val left = Seq(
      (1L, 1L, ts(10)), (2L, 1L, ts(20)), (3L, 1L, ts(20)))
      .toDF("lid", "k", "ts")
    val right = Seq(
      (100L, 1L, ts(5)),   // before any left -> null
      (101L, 1L, ts(20)),  // left rows AT 20 excluded -> id 1
      (102L, 1L, ts(25)),  // tie at 20 -> max id 3
      (200L, 2L, ts(50)))  // keyless -> null
      .toDF("rid", "k", "ts")
    val out = StreamingOps.asofJoin(left, right, "k", "ts", "lid", "rid")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(out(100L) == ((None, None)))
    assert(out(101L) == ((Some(1L), Some(10L * 60000000L))))
    assert(out(102L) == ((Some(3L), Some(5L * 60000000L))))
    assert(out(200L) == ((None, None)))
  }

  test("streaming funnel over micro-batches converges to the batch funnel") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("view", "click", "purchase", "error", "signup")
    val rng = new scala.util.Random(13)
    // strictly increasing distinct timestamps (ties would make in-order
    // feeding ambiguous at equal ts); ~30min spacing over 9 users puts
    // a user's consecutive events ~4.5h apart — ~5 land in each 24h
    // stage window, so stages complete often (1 - (4/5)^5 ≈ 0.67 per
    // stage) but not always: full and partial depths both occur
    val events = (0 until 400).map { i =>
      StreamingOps.FunnelEventRow(rng.nextInt(9).toLong,
        i.toLong * 1800L * 1000000L + rng.nextInt(1000000),
        types(rng.nextInt(types.length)))
    }
    val stream = MemoryStream[StreamingOps.FunnelEventRow]
    val query = StreamingOps.Funnel.streaming(stream.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      events.grouped(80).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      // last emitted snapshot per user
      val snaps = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      val streamed = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rows) => u -> rows.maxBy(_._2)._1._2.toList }
      // batch stacked-window funnel over the identical frame; nullable
      // stage columns collapse to the completed-stage prefix
      val batchDf = events.toDF()
        .select(col("user_id"),
          timestamp_micros(col("tsMicros")).as("ts"), col("event_type"))
      val batch = StreamingOps.Funnel.batch(batchDf).collect()
        .map { r =>
          val ts = (1 to 3).map(i =>
            Option(r.getTimestamp(i)).map(t =>
              t.getTime / 1000L * 1000000L + t.getNanos.toLong / 1000L))
          r.getLong(0) -> ts.takeWhile(_.isDefined).flatten.toList
        }.toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // the data actually exercises full conversions AND partial depths
      val depths = streamed.values.map(_.length).toSet
      assert(depths.contains(3) && depths.size >= 2,
        s"degenerate fixture: ${streamed.values.map(_.length)}")
    } finally query.stop()
  }

  test("funnel fold: stage order, window cutoffs, no regression") {
    import StreamingOps.Funnel.fold
    val st = Seq("a", "b", "c")
    val day = 100L
    // wrong first stage ignored; then a, b in window, c late -> ignored
    var t = List.empty[Long]
    t = fold(t, st, day, 5L, "b"); assert(t == Nil)
    t = fold(t, st, day, 10L, "a"); assert(t == List(10L))
    // a again does not reset
    t = fold(t, st, day, 20L, "a"); assert(t == List(10L))
    // b exactly at the window edge qualifies
    t = fold(t, st, day, 110L, "b"); assert(t == List(10L, 110L))
    // c one past b's window -> ignored; then in-window c lands
    t = fold(t, st, day, 211L, "c"); assert(t == List(10L, 110L))
    t = fold(t, st, day, 150L, "c"); assert(t == List(10L, 110L, 150L))
    // complete funnel is frozen
    t = fold(t, st, day, 160L, "c"); assert(t == List(10L, 110L, 150L))
  }

  test("foreachBatch shard ingest into the AT-REST dedup set converges to batch") {
    import graft.pipeline.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // shard 2 near-dups doc 1 and pushes 'hot' over maxDf=3 (the
    // non-additive cap-crossing case), shard 3 is disjoint
    val shards = Seq(
      Seq((1L, "hot a b c d"), (2L, "hot a b c e"), (3L, "hot x y z")),
      Seq((4L, "a b c d f"), (5L, "hot m n")),
      Seq((6L, "p q r s")))
    val threshold = 0.1
    val maxDf = 3L
    val path = "target/tmp/jrest-stream"
    Dedup.jaccardRestDrop(spark, path)
    // durable state: each micro-batch folds into the ON-DISK working
    // set; nothing survives in memory between batches (the handle is
    // re-opened from the meta file — a restart would do the same)
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getString(1)))
        val b = rows.toSeq.toDF("doc_id", "text")
        if (!new java.io.File(s"$path/meta").exists())
          Dedup.jaccardRestInit(b, "doc_id", "text", threshold, maxDf,
            path, nBuckets = 8)
        else
          Dedup.jaccardRestMerge(Dedup.jaccardRestOpen(spark, path),
            b, "doc_id", "text")
        ()
      }
      .start()
    try {
      shards.foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
    } finally query.stop()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = pairsOf(Dedup.jaccardRestPairs(spark,
      Dedup.jaccardRestOpen(spark, path)))
    val batchAll = pairsOf(Dedup.ngramJaccard(
      shards.flatten.toDF("doc_id", "text"),
      "doc_id", "text", 1, threshold, maxDf))
    assert(streamed == batchAll, s"streamed=$streamed batch=$batchAll")
    assert(streamed.nonEmpty)
    Dedup.jaccardRestDrop(spark, path)
  }

  test("sliding windows: every event lands in exactly length/slide windows") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:40:00")
    val df = Seq((ts, "click", 1.0)).toDF("ts", "event_type", "value")
    val got = StreamingOps.slidingWindowStats(df, "1 hour", "30 minutes")
      .orderBy("w").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
    // 10:40 belongs to [10:00, 11:00) and [10:30, 11:30)
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", 1L), ("2024-01-01 10:30:00.0", 1L)))
  }

  test("windowed stats agree between batch frame and streaming frame shape") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-01 11:05:00")
    val df = Seq(
      (ts, "click", 2.0), (ts, "click", 3.0), (ts2, "error", 5.0))
      .toDF("ts", "event_type", "value")
    val got = StreamingOps.windowedStats(df, "1 hour")
      .orderBy("w", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 5.0),
      ("2024-01-01 11:00:00.0", "error", 1L, 5.0)))
  }
}
