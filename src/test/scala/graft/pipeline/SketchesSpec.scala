package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("hllDistinct: raw-estimate branch within HLL error at 100k") {
    // standard error ~ 1.04/sqrt(256) = 6.5%; assert 4 sigma
    val df = spark.range(100000).select(lit("g").as("g"),
      concat(lit("v"), col("id")).as("v"))
    val est = Sketches.hllDistinct(df, "g", "v")
      .collect().head.getLong(1)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.26, s"est $est")
  }

  test("hllDistinct: linear-counting branch is near-exact on small sets") {
    val df = spark.range(40).select(lit("g").as("g"),
      concat(lit("x"), col("id")).as("v"))
    val est = Sketches.hllDistinct(df, "g", "v").collect().head.getLong(1)
    assert(math.abs(est - 40L) <= 5, s"est $est")
  }

  test("hllDistinct: duplicates don't move the estimate (idempotent max)") {
    val base = spark.range(500).select(lit("g").as("g"),
      concat(lit("d"), col("id")).as("v"))
    val est1 = Sketches.hllDistinct(base, "g", "v").collect().head.getLong(1)
    val est2 = Sketches.hllDistinct(base.union(base).union(base), "g", "v")
      .collect().head.getLong(1)
    assert(est1 == est2)
  }

  test("hllDistinct: b generalizes — every register size stays within " +
      "its own error bound, b=8 bit-stable vs the historical hex split") {
    val df = spark.range(50000).select(lit("g").as("g"),
      concat(lit("w"), col("id")).as("v"))
    for (b <- Seq(4, 8, 12)) {
      val m = 1 << b
      val est = Sketches.hllDistinct(df, "g", "v", b)
        .collect().head.getLong(1)
      val sigma = 1.04 / math.sqrt(m.toDouble)
      assert(math.abs(est - 50000.0) / 50000.0 < 4 * sigma,
        s"b=$b est $est outside 4 sigma (${4 * sigma})")
    }
    assertThrows[IllegalArgumentException](
      Sketches.hllDistinct(df, "g", "v", b = 3))
    assertThrows[IllegalArgumentException](
      Sketches.hllDistinct(df, "g", "v", b = 13))
    // the b=8 register table equals the historical 2-hex-digit split
    // exactly (the oracle pins this layout)
    val hexSplit = df.select(col("g"),
        conv(substring(md5(col("v")), 1, 2), 16, 10).cast("long")
          .as("bucket"),
        conv(substring(md5(col("v")), 3, 12), 16, 10).cast("long").as("v"))
      .withColumn("rho", when(col("v") === 0, lit(49L))
        .otherwise(lit(49L) - length(bin(col("v")))))
      .groupBy("g", "bucket").agg(max("rho").as("rmax"))
    val got = Sketches.hllRegisters(df, "g", "v", 8)
    assert(got.exceptAll(hexSplit).isEmpty && hexSplit.exceptAll(got).isEmpty)
  }

  test("hllMerge: shard folds at non-default b equal the full-corpus " +
      "registers") {
    val all = spark.range(20000).select(lit("g").as("g"),
      concat(lit("m"), col("id")).as("v"))
    val shardA = all.filter(col("id") % 2 === 0)
    val shardB = all.filter(col("id") % 2 =!= 0)
    for (b <- Seq(4, 12)) {
      val merged = Sketches.hllMerge(
        Sketches.hllRegisters(shardA, "g", "v", b),
        Sketches.hllRegisters(shardB, "g", "v", b))
      val full = Sketches.hllRegisters(all, "g", "v", b)
      assert(merged.exceptAll(full).isEmpty
        && full.exceptAll(merged).isEmpty, s"b=$b register drift")
      val eM = Sketches.hllEstimate(merged, b).collect().head.getLong(1)
      val eF = Sketches.hllEstimate(full, b).collect().head.getLong(1)
      assert(eM == eF)
    }
  }

  test("count-min as a STREAMING aggregate: counter table after the " +
      "last micro-batch equals the batch table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val toks = (Seq.fill(40)("hot") ++ (0 until 150).map("cold" + _))
    val stream = MemoryStream[String]
    // the SAME countMinTable code runs on the unified Dataset API: a
    // fixed d*w keyspace groupBy is a complete-mode streaming agg with
    // constant state — the map-side-combinable shape is exactly what
    // makes the sketch streamable
    val query = Sketches.countMinTable(stream.toDF().toDF("tok"), "tok")
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      toks.grouped(37).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("cm_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Sketches.countMinTable(toks.toDF("tok"), "tok")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(streamed.values.sum == 190L * Sketches.CmDepth)
    } finally query.stop()
  }

  test("count-min: estimates always dominate true counts, exact for " +
      "collision-free heavy hitter") {
    val toks = (Seq.fill(50)("hot") ++ (0 until 200).map("cold" + _))
      .toDF("tok")
    val counters = Sketches.countMinTable(toks, "tok")
    assert(counters.agg(sum("c")).collect().head.getLong(0)
      == 250L * Sketches.CmDepth)
    val cands = Seq(("hot", 50L)).toDF("tok", "n")
    val est = Sketches.countMinEstimate(counters, cands, "tok")
      .collect().head.getAs[Long]("est_n")
    assert(est >= 50L)
    // d=3 rows x 1024 cells over 201 distinct tokens: the min across
    // rows avoiding all collisions is overwhelmingly likely
    assert(est <= 55L, s"est $est")
  }

  test("quantile sketch: estimates are upper bounds within 2^-5 relative " +
      "error of the exact percentile; exact below 2^(k+1)") {
    // two groups, quadratic spread — buckets span the full exponent range
    val rows = (1 to 20000).map(i =>
      (if (i % 2 == 0) "a" else "b", (i.toLong * i) % 1000000))
    val df = rows.toDF("g", "x")
    val est = Sketches.quantileEstimate(
        Sketches.quantileBuckets(df, "g", "x"), Seq(50, 90, 99))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    for (g <- Seq("a", "b"); p <- Seq(50, 90, 99)) {
      val vals = rows.filter(_._1 == g).map(_._2).sorted
      val rank = (vals.length * p + 99) / 100 // ceil(n*p/100)
      val exact = vals(rank - 1)
      val e = est((g, p))
      assert(e >= exact, s"$g p$p: est $e below exact $exact")
      assert(e - exact <= exact / 32 + 1,
        s"$g p$p: est $e breaches the 2^-5 bound vs $exact")
    }
    // values below 2^(k+1) = 64 are their own bucket: estimates EXACT
    val small = (1 to 1000).map(i => ("s", (i % 50).toLong)).toDF("g", "x")
    val estS = Sketches.quantileEstimate(
        Sketches.quantileBuckets(small, "g", "x"), Seq(50, 99))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val sVals = (1 to 1000).map(i => (i % 50).toLong).sorted
    assert(estS(50) == sVals((1000 * 50 + 99) / 100 - 1))
    assert(estS(99) == sVals((1000 * 99 + 99) / 100 - 1))
  }

  test("quantile sketch: shard folds are EXACT — merged state and " +
      "estimates row-identical to the single-pass sketch") {
    val df = spark.range(30000).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") * col("id") % 777777).as("x"))
    val full = Sketches.quantileBuckets(df, "g", "x")
    val merged = Sketches.quantileMerge(
      Sketches.quantileBuckets(df.filter(col("id") % 2 === 0), "g", "x"),
      Sketches.quantileBuckets(df.filter(col("id") % 2 =!= 0), "g", "x"))
    assert(full.exceptAll(merged).count() == 0)
    assert(merged.exceptAll(full).count() == 0)
    val a = Sketches.quantileEstimate(full, Seq(25, 50, 75, 95))
      .collect().map(_.toSeq).toSet
    val b = Sketches.quantileEstimate(merged, Seq(25, 50, 75, 95))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("SIGNED fixed-point quantile sketch: upper bounds within 2^-5 " +
      "relative error on BOTH sides of zero; shard folds exact") {
    // signed doubles spanning both tails: values in ~[-450, 450] with
    // 6 fractional digits — the float-score domain r9 couldn't hold
    val rows = (1 to 20000).map { i =>
      val v = ((i.toLong * i) % 900001 - 450000).toDouble / 1000.0
      (if (i % 2 == 0) "a" else "b", v)
    }
    val df = rows.toDF("g", "x")
    val est = Sketches.quantileEstimateSigned(
        Sketches.quantileBucketsSigned(df, "g", "x"), Seq(1, 50, 99))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    for (g <- Seq("a", "b"); p <- Seq(1, 50, 99)) {
      val fx = rows.filter(_._1 == g)
        .map(t => math.round(t._2 * 1e6)).sorted
      val rank = (fx.length * p + 99) / 100 // ceil(n*p/100)
      val exact = fx(rank - 1)
      val e = est((g, p))
      assert(e >= exact, s"$g p$p: est $e below exact $exact")
      assert(e - exact <= math.abs(exact) / 32 + 1,
        s"$g p$p: est $e breaches the 2^-5 bound vs $exact")
    }
    // shard folds stay EXACT in the signed domain
    val full = Sketches.quantileBucketsSigned(df, "g", "x")
    val ids = df.withColumn("rid", monotonically_increasing_id())
    val merged = Sketches.quantileMerge(
      Sketches.quantileBucketsSigned(
        ids.filter(col("rid") % 2 === 0), "g", "x"),
      Sketches.quantileBucketsSigned(
        ids.filter(col("rid") % 2 =!= 0), "g", "x"))
    assert(full.exceptAll(merged).count() == 0)
    assert(merged.exceptAll(full).count() == 0)
    // negative indices order below positives; zero is exact bucket 0
    val tiny = Seq(("t", -1.0), ("t", 0.0), ("t", 1.0)).toDF("g", "x")
    val tinyIdx = Sketches.quantileBucketsSigned(tiny, "g", "x", 0)
      .collect().map(_.getLong(1)).sorted
    assert(tinyIdx.toSeq == Seq(-1L, 0L, 1L))
  }

  test("quantile sketch as a STREAMING aggregate: bucket state after " +
      "the last micro-batch equals the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val vals = (1 to 5000).map(i => ("g" + (i % 2), (i.toLong * 7) % 90000))
    val stream = MemoryStream[(String, Long)]
    // same quantileBuckets code on the unified Dataset API: a bounded
    // (~2k buckets per group) keyspace groupBy is a complete-mode
    // streaming agg with constant state, like the count-min table
    val query = Sketches.quantileBuckets(
        stream.toDS().toDF("g", "x"), "g", "x")
      .writeStream.format("memory").queryName("qs_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      vals.grouped(1234).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("qs_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Sketches.quantileBuckets(vals.toDF("g", "x"), "g", "x")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("windowed HLL under a watermark: closed event-time windows emit " +
      "register rows identical to the batch sketch") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = new Timestamp(3600000L + min * 60000L)
    // two 1-hour windows of activity + a far-future flush event
    val eventsW1 = (0 until 300).map(i => (t(i % 50), s"u${i % 40}"))
    val eventsW2 = (0 until 300).map(i => (t(60 + i % 50), s"v${i % 70}"))
    val flush = Seq((t(600), "zz"))
    def windowed(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(
        df.select(window(col("ts"), "1 hour").as("g"),
          col("uid").as("v")), "g", "v")
    val stream = MemoryStream[(Timestamp, String)]
    val query = windowed(stream.toDS().toDF("ts", "uid")
        .withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("hll_win")
      .outputMode(OutputMode.Append()).start()
    try {
      (eventsW1 ++ eventsW2).grouped(113).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      stream.addData(flush) // watermark passes both real windows
      query.processAllAvailable()
      val streamed = spark.table("hll_win")
        .select(col("g.start").cast("long").as("w"), col("bucket"),
          col("rmax"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val batch = windowed((eventsW1 ++ eventsW2).toDF("ts", "uid"))
        .select(col("g.start").cast("long").as("w"), col("bucket"),
          col("rmax"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        s"streamed ${streamed.size} vs batch ${batch.size} register rows")
    } finally query.stop()
  }

  test("hllDistinct: the aggregate build lands on the register-table " +
      "estimates EXACTLY, through forced partial merges") {
    for (b <- Seq(4, 8, 12)) {
      // many groups + 17-way repartition: every group's buffer is
      // built from multiple partials, exercising the byte-wise merge
      val df = spark.range(60000).select(
        concat(lit("g"), col("id") % 23).as("g"),
        concat(lit("v"), col("id")).as("v"))
        .repartition(17)
      val registers = Sketches.hllEstimate(
          Sketches.hllRegisters(df, "g", "v", b), b)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val built = Sketches.hllDistinct(df, "g", "v", b)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(built == registers, s"b=$b")
    }
    assertThrows[IllegalArgumentException](
      Sketches.hllDistinct(
        spark.range(1).select(lit("g").as("g"), lit("x").as("v")),
        "g", "v", b = 13))
  }

  test("null values are skipped by every sketch build") {
    // one group of 200 distinct values, and the same rows plus a null
    val clean = spark.range(200).select(lit("g").as("g"),
      concat(lit("z"), col("id")).as("v"), col("id").as("x"),
      ((col("id") - 100) / 7.0).as("s"))
    val withNull = clean.union(spark.range(1).select(lit("g").as("g"),
      lit(null).cast("string").as("v"), lit(null).cast("long").as("x"),
      lit(null).cast("double").as("s")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    // HLL: no null register row; the aggregate equals the register
    // estimate and the null-free estimate
    assert(rows(Sketches.hllRegisters(withNull, "g", "v")) ==
      rows(Sketches.hllRegisters(clean, "g", "v")))
    val hll = rows(Sketches.hllDistinct(withNull, "g", "v"))
    assert(hll == rows(Sketches.hllEstimate(
      Sketches.hllRegisters(withNull, "g", "v"))))
    assert(hll == rows(Sketches.hllDistinct(clean, "g", "v")))
    // KMV (k = 8): no null hash in the first slot, and the shard fold
    // (the null in the first half) equals the full build
    val kmv = rows(Sketches.kmvSketch(withNull, "g", "v", 8))
    assert(kmv.size == 8 && kmv == rows(Sketches.kmvSketch(clean, "g", "v", 8)))
    val even = coalesce(col("x"), lit(0L)) % 2 === 0
    assert(rows(Sketches.kmvMerge(8)(
      Sketches.kmvSketch(withNull.filter(even), "g", "v", 8),
      Sketches.kmvSketch(withNull.filter(!even), "g", "v", 8))) == kmv)
    // a group of only nulls has no sketch rows in any build
    val onlyNull = withNull.filter(col("v").isNull).withColumn("g", lit("n"))
    for (sketch <- Seq(Sketches.hllDistinct(onlyNull, "g", "v"),
        Sketches.hllRegisters(onlyNull, "g", "v"),
        Sketches.kmvSketch(onlyNull, "g", "v"),
        Sketches.quantileBuckets(onlyNull, "g", "x"),
        Sketches.quantileBucketsSigned(onlyNull, "g", "s")))
      assert(sketch.count() == 0)
    // quantiles: no null bucket counts toward n or any rank
    val ps = Seq(1, 50, 99)
    assert(rows(Sketches.quantileEstimate(
        Sketches.quantileBuckets(withNull, "g", "x"), ps)) ==
      rows(Sketches.quantileEstimate(
        Sketches.quantileBuckets(clean, "g", "x"), ps)))
    assert(rows(Sketches.quantileEstimateSigned(
        Sketches.quantileBucketsSigned(withNull, "g", "s"), ps)) ==
      rows(Sketches.quantileEstimateSigned(
        Sketches.quantileBucketsSigned(clean, "g", "s"), ps)))
  }

  test("quantile k outside [1, 16] is refused, naming k") {
    val df = spark.range(10).select(lit("g").as("g"), col("id").as("x"))
    for (k <- Seq(-1, 0, 17)) {
      val msgs = Seq(
        intercept[IllegalArgumentException](
          Sketches.quantileBuckets(df, "g", "x", k)),
        intercept[IllegalArgumentException](
          Sketches.quantileBucketsSigned(df, "g", "x", k = k)),
        intercept[IllegalArgumentException](Sketches.quantileEstimate(
          Sketches.quantileBuckets(df, "g", "x"), Seq(50), k)),
        intercept[IllegalArgumentException](Sketches.quantileEstimateSigned(
          Sketches.quantileBucketsSigned(df, "g", "x"), Seq(50), k)))
        .map(_.getMessage)
      assert(msgs.forall(_.contains(s"k = $k")), msgs.mkString("; "))
    }
    // both ends of the range build
    for (k <- Seq(1, 16))
      assert(Sketches.quantileEstimate(
        Sketches.quantileBuckets(df, "g", "x", k), Seq(50), k).count() == 1)
  }

  test("misra-gries: survivor guarantee holds under forced partial " +
      "merges; exact recount equals the full group-by") {
    // ~100 distinct items with linearly increasing frequency (value v
    // appears 2v+1 times per 10k ids) across 13 partitions — well over
    // k=64 counters, so both the update eviction and the merge
    // decrement run constantly
    val df = spark.range(40000).select(
      concat(lit("p"), floor(sqrt((col("id") % 10000).cast("double")))
        .cast("long").cast("string")).as("item"))
      .repartition(13)
    val n = 40000L
    val k = 64
    val exact = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cands = Sketches.mgCandidates(
        df.withColumn("g", lit(1)), "g", "item", k)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(cands.size <= k)
    // every item with true count > n/(k+1) survives, with
    // est in (true - n/(k+1), true]
    val thresh = n.toDouble / (k + 1)
    for ((item, cnt) <- exact if cnt > thresh) {
      assert(cands.contains(item), s"$item (cnt=$cnt) evicted")
      assert(cands(item) <= cnt && cands(item) > cnt - thresh,
        s"$item est=${cands(item)} true=$cnt")
    }
    // the two-pass exact path IS the full-group-by answer
    val hh = Sketches.heavyHittersExact(df, "item", k)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val want = exact.filter { case (_, c) => c * (k + 1) > n }
      .toSeq.sortBy { case (i, c) => (-c, i) }
    assert(hh.toSeq == want)
  }

  test("misra-gries: per-group summaries track grouped heavy hitters") {
    // two groups with different vocabularies; k large enough that the
    // small group is tracked exactly, small enough that the big one
    // evicts
    val df = spark.range(30000).select(
      when(col("id") % 3 === 0, "a").otherwise("b").as("g"),
      concat(lit("x"), when(col("id") % 3 === 0, col("id") % 7)
        .otherwise(floor(sqrt((col("id") % 9000).cast("double")))
          .cast("long"))).as("item"))
      .repartition(7)
    val out = Sketches.mgCandidates(df, "g", "item", 16)
      .collect().groupBy(_.getString(0))
    // group a: 7 distinct < k=16 -> tracked exactly
    val aCands = out("a").map(r => r.getString(1) -> r.getLong(2)).toMap
    val aExact = df.filter(col("g") === "a").groupBy("item")
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aCands == aExact)
    // group b: ~95 distinct > k -> bounded summary, survivors only
    assert(out("b").length <= 16)
  }

  test("misra-gries as a STREAMING aggregate: complete-mode summary " +
      "after the last micro-batch keeps the survivor guarantee") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // 30% heavy over 5 items, 70% tail over 800 — TypedImperativeAggregate
    // state is one <= 64-entry map per group in the state store
    val vals = (0 until 12000).map { i =>
      ("g", if (i % 10 < 3) "h" + (i % 5) else "t" + (i % 800))
    }
    val stream = MemoryStream[(String, String)]
    val query = Sketches.mgCandidates(
        stream.toDS().toDF("g", "item"), "g", "item", 64)
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      vals.grouped(2345).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("mg_stream").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(streamed.size <= 64)
      val exact = vals.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val thresh = vals.size.toDouble / 65
      for ((item, cnt) <- exact if cnt > thresh) {
        assert(streamed.contains(item), s"$item (cnt=$cnt) evicted")
        assert(streamed(item) <= cnt && streamed(item) > cnt - thresh)
      }
    } finally query.stop()
  }

  test("mgMerge: summaries-of-summaries keep the survivor guarantee; " +
      "sub-k vocabularies fold exactly") {
    val df = spark.range(60000).select(
      (col("id") % 5).cast("string").as("shard"),
      concat(lit("x"), when(col("id") % 10 < 3, col("id") % 6)
        .otherwise(col("id") % 997 + 100)).as("item"))
      .repartition(9)
    val n = 60000L
    val k = 48
    // per-shard at-rest summaries (vocab ~1000 > k: every shard evicts)
    val shards = Sketches.mgCandidates(df, "shard", "item", k)
    assert(shards.groupBy("g").count().collect().forall(_.getLong(1) <= k))
    // fold the five shard summaries into one
    val folded = Sketches.mgMerge(
        shards.withColumn("g", lit("all")), k)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(folded.size <= k)
    val exact = df.groupBy("item").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresh = n.toDouble / (k + 1)
    for ((item, cnt) <- exact if cnt > thresh) {
      assert(folded.contains(item), s"$item (cnt=$cnt) lost in the fold")
      assert(folded(item) <= cnt && folded(item) > cnt - thresh,
        s"$item est=${folded(item)} true=$cnt")
    }
    // a vocabulary under k is tracked exactly through the fold
    val small = spark.range(9000).select(
      (col("id") % 3).cast("string").as("shard"),
      concat(lit("y"), col("id") % 7).as("item"))
    val smallFold = Sketches.mgMerge(
        Sketches.mgCandidates(small, "shard", "item", k)
          .withColumn("g", lit("all")), k)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val smallExact = small.groupBy("item").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(smallFold == smallExact)
  }

  test("kmvMerge: shard folds reproduce the full-corpus sketch exactly") {
    val df = spark.range(20000).select(lit("g").as("g"),
      concat(lit("k"), col("id")).as("v"))
    val full = Sketches.kmvSketch(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val s1 = Sketches.kmvSketch(df.filter(col("id") % 3 === 0), "g", "v")
    val s2 = Sketches.kmvSketch(df.filter(col("id") % 3 === 1), "g", "v")
    val s3 = Sketches.kmvSketch(df.filter(col("id") % 3 === 2), "g", "v")
    val merged = Sketches.kmvMerge(64)(s1, s2, s3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(merged.toSeq == full.toSeq)
  }

  test("kmvSketch: the bounded-state aggregate build equals a " +
      "brute-force bottom-k of the md5 hashes") {
    // duplicates + 13-way repartition force dedup inside the buffer
    // and k-th displacement across partial merges
    val df = spark.range(30000).select(
      concat(lit("g"), col("id") % 7).as("g"),
      concat(lit("n"), col("id") % 9000).as("v"))
      .repartition(13)
    // md5 -> first 12 hex digits -> the k smallest distinct per group
    def h48(v: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12), 16)
    val want = (0 until 30000).map(i => (s"g${i % 7}", s"n${i % 9000}"))
      .groupBy(_._1).toSeq
      .flatMap { case (g, vs) =>
        vs.map(v => h48(v._2)).distinct.sorted.take(64).map(g -> _) }
      .sorted
    val built = Sketches.kmvSketch(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(built == want)
    // small groups (below k): the buffer holds the whole distinct set
    val tiny = spark.range(10).select(lit("t").as("g"),
      concat(lit("x"), col("id")).as("v"))
    assert(Sketches.kmvSketch(tiny, "g", "v").count() == 10)
  }

  test("kmvSetOps: identical sets give jaccard 1, disjoint give 0; " +
      "small sets are estimated exactly") {
    val a = spark.range(40).select(lit("g").as("g"),
      concat(lit("s"), col("id")).as("v"))
    val same = Sketches.kmvSetOps(Sketches.kmvSketch(a, "g", "v"),
      Sketches.kmvSketch(a, "g", "v")).collect().head
    // both sides below k: theta = H, the sketch IS the set — exact
    assert(same.getLong(1) == 40L && same.getLong(2) == 40L &&
      same.getLong(3) == 1000000L, s"same-set row $same")
    val b = spark.range(40).select(lit("g").as("g"),
      concat(lit("t"), col("id")).as("v"))
    val disj = Sketches.kmvSetOps(Sketches.kmvSketch(a, "g", "v"),
      Sketches.kmvSketch(b, "g", "v")).collect().head
    assert(disj.getLong(1) == 80L && disj.getLong(2) == 0L &&
      disj.getLong(3) == 0L, s"disjoint row $disj")
  }

  test("kmvSetOps: union/intersection estimates within KMV error at 50k " +
      "with half overlap") {
    // A = [0, 50k), B = [25k, 75k): union 75k, intersection 25k
    val a = spark.range(50000).select(lit("g").as("g"),
      concat(lit("o"), col("id")).as("v"))
    val b = spark.range(25000, 75000).select(lit("g").as("g"),
      concat(lit("o"), col("id")).as("v"))
    val r = Sketches.kmvSetOps(Sketches.kmvSketch(a, "g", "v"),
      Sketches.kmvSketch(b, "g", "v")).collect().head
    // KMV sigma ~ 1/sqrt(k-2) = 12.7%; intersection noisier (scaled
    // subset of the theta sample) — allow 4/6 sigma
    assert(math.abs(r.getLong(1) - 75000.0) / 75000.0 < 0.51,
      s"union est ${r.getLong(1)}")
    assert(math.abs(r.getLong(2) - 25000.0) / 25000.0 < 0.77,
      s"inter est ${r.getLong(2)}")
  }
}
