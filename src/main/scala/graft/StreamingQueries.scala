package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/**
 * Oracle-checked queries for the streaming module over the driver's
 * `events` table. Each runs the BATCH side of code shared verbatim with
 * the streaming path (unified Dataset API), so a green row certifies the
 * logic both modes execute; streaming-specific mechanics (state folding,
 * timeouts, incremental equivalence) are covered by StreamingOpsSpec.
 */
object StreamingQueries {

  /** Events reader: the driver's events.parquet stores ts as
    * TIMESTAMP(NANOS), which Spark's vectorized reader only accepts as a
    * long (nanosAsLong); normalize to a proper timestamp column via
    * integer ns->us division (DuckDB truncates ns->us the same way). */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  private val labelSql =
    """CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
      | WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END""".stripMargin
      .replace("\n", "")

  /** Per-user sessionization (30-min gap): the exact core the streaming
    * flatMapGroupsWithState path folds incrementally. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value"))
      .as[StreamingOps.Event]
    StreamingOps.Sessionize.batch(ev).toDF().orderBy("user_id")
  }

  val sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
       |s AS (SELECT user_id, t,
       |        CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
       |                  > ${StreamingOps.Sessionize.GapMicros}
       |             THEN 1 ELSE 0 END AS brk
       |      FROM e),
       |g AS (SELECT user_id,
       |        SUM(brk) OVER (PARTITION BY user_id ORDER BY t
       |                       ROWS UNBOUNDED PRECEDING) AS sess
       |      FROM s),
       |c AS (SELECT user_id, sess, COUNT(*) AS len FROM g GROUP BY 1, 2)
       |SELECT user_id, COUNT(*) AS n_sessions, MAX(len) AS max_session_len
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same sessionization through Spark's built-in `session_window`
    * (declarative path — identical answer, engine-managed session merge,
    * streaming-ready with a watermark). Checked against the same SQL
    * oracle as q_sessionize. */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.Sessionize.native(events(spark, dir), "30 minutes")
      .orderBy("user_id")

  /** Tumbling 1-hour windows per event type (the same aggregation the
    * watermarked streaming variant runs). Window start as epoch micros
    * for an engine-neutral compare. */
  def windowStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    StreamingOps.windowedStats(ev, "1 hour")
      .select(unix_micros(col("w")).as("w"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("w", "event_type")
  }

  val windowStatsSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS w, event_type,
      |  COUNT(*) AS cnt, ROUND(SUM(value), 6) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hopping windows (1h length, 30min slide): every event counted in
    * exactly 2 overlapping windows. The oracle expands the window
    * membership explicitly (slide-aligned bucket and its predecessor)
    * — two independent formulations of the same assignment rule. */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.slidingWindowStats(events(spark, dir), "1 hour", "30 minutes")
      .select(unix_micros(col("w")).as("w"), col("event_type"), col("cnt"))
      .orderBy("w", "event_type")

  val windowSlidingSql: String =
    """WITH k AS (SELECT 0 AS k UNION ALL SELECT 1),
      |s AS (
      |  SELECT epoch_us(time_bucket(INTERVAL 30 MINUTE, ts))
      |           - k.k * 1800000000 AS w, event_type
      |  FROM events, k)
      |SELECT w, event_type, COUNT(*) AS cnt
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Incremental selector refit: events split into 3 deterministic
    * micro-batches folded through IncrementalHistogramState; relevance
    * I(Xf; label) from the ACCUMULATED state must equal the oracle's MI
    * over the whole table (additivity is the module's core invariant). */
  def incrementalMi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = events(spark, dir)
    val st = new StreamingOps.IncrementalHistogramState(4, 256, 5)
    (0 until 3).foreach { b =>
      st.update(StreamingOps.eventFeatures(raw.filter(col("event_id") % 3 === b)))
    }
    st.relevances.toSeq
      .map { case (f, m) =>
        (f, BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("feature", "mi").orderBy("feature")
  }

  val incrementalMiSql: String =
    s"""WITH feats AS (
       |  SELECT 0 AS feature, LEAST(CAST(FLOOR(value) AS INTEGER), 255) AS x, $labelSql AS y FROM events
       |  UNION ALL SELECT 1, CAST(user_id % 50 AS INTEGER), $labelSql FROM events
       |  UNION ALL SELECT 2, CAST(EXTRACT(hour FROM ts) AS INTEGER), $labelSql FROM events
       |  UNION ALL SELECT 3, CAST(EXTRACT(day FROM ts) AS INTEGER), $labelSql FROM events),
       |h AS (SELECT feature, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy
       |      FROM h)
       |SELECT feature,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))), 6) AS mi
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** First-seen dedup of events by (user, type) fingerprint — the batch
    * canonical form of [[StreamingOps.streamingDedup]] (first by
    * (ts, event_id) per fingerprint); the streaming first-arrival
    * equivalence is pinned by StreamingOpsSpec. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    StreamingOps.firstSeenBatch(ev,
      md5(concat_ws(":", col("user_id"), col("event_type"))),
      "ts", "event_id")
      .select(col("fp"), col("event_id"), col("user_id"), col("event_type"))
      .orderBy("fp")
  }

  val streamDedupSql: String =
    """WITH f AS (
      |  SELECT md5(user_id || ':' || event_type) AS fp, event_id, user_id,
      |    event_type,
      |    ROW_NUMBER() OVER (PARTITION BY md5(user_id || ':' || event_type)
      |                       ORDER BY ts, event_id) AS rk
      |  FROM events)
      |SELECT fp, event_id, user_id, event_type FROM f
      |WHERE rk = 1 ORDER BY fp""".stripMargin

  /** Click-to-purchase attribution (2-hour window) — the batch side of
    * [[StreamingOps.attributionJoin]], the code the watermarked
    * stream-stream interval join runs verbatim (equivalence pinned in
    * StreamingOpsSpec). Batch plan: one shuffle per side on user_id,
    * SortMergeJoin with the range predicate as a join filter. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    StreamingOps.attributionJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("purchase_id", "click_id")
  }

  val streamJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts < p.ts
      |ORDER BY 1, 2""".stripMargin

  /** As-of join: every purchase matched to the user's LAST strictly
    * earlier click (left-outer) — [[StreamingOps.asofJoin]]'s
    * union+window sorted-merge, no join operator at all. The oracle
    * computes the same relation the textbook way (left join + rank
    * window with the identical max-ts/max-id tie rule) — two
    * independent algorithms, one answer. */
  def asofJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    StreamingOps.asofJoin(
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
      "user_id", "ts", "click_id", "purchase_id")
      .orderBy("purchase_id")
  }

  val asofJoinSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.purchase_id, p.user_id, c.click_id,
      |    epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |                       ORDER BY c.ts DESC, c.click_id DESC) AS rk
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts < p.ts)
      |SELECT purchase_id, user_id, click_id, lag_us FROM j
      |WHERE rk = 1 ORDER BY 1""".stripMargin

  /** Conversion-funnel analysis (view -> click within 24h -> purchase
    * within 24h), per user: the classic ordered-sequence event query.
    * Three STACKED conditional-MIN windows over the same user_id
    * partition — each stage's cutoff references the previous stage's
    * column — then one per-user aggregate. The windows and the groupBy
    * all share one user_id hash partitioning: the whole funnel is ONE
    * shuffle, never a self-join per stage (the join formulation
    * multiplies the events table by the funnel depth). */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.Funnel.batch(events(spark, dir))
      .select(col("user_id"),
        unix_micros(col("t0")).as("t_view"),
        unix_micros(col("t1")).as("t_click"),
        unix_micros(col("t2")).as("t_purchase"))
      .orderBy("user_id")

  val funnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS tv
      |  FROM events),
      |s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= tv
      |                      AND ts <= tv + INTERVAL 24 HOUR THEN ts END)
      |    OVER (PARTITION BY user_id) AS tc FROM s1),
      |s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= tc
      |                      AND ts <= tc + INTERVAL 24 HOUR THEN ts END)
      |    OVER (PARTITION BY user_id) AS tp FROM s2)
      |SELECT user_id, epoch_us(MAX(tv)) AS t_view, epoch_us(MAX(tc)) AS t_click,
      |  epoch_us(MAX(tp)) AS t_purchase
      |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cohort retention over a sparse activity signal (value > 95, ~5%
    * of events): cohort = week of first high-value event, cell =
    * distinct active users per (cohort_week, week_offset). Shape: one
    * small first-activity aggregate joined back to the activity rows
    * (shuffled on user_id — at 100 TB the cohort table is
    * users-sized, never hinted), then one partial-agg count-distinct.
    * The decaying matrix is the product-analytics staple. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val hv = events(spark, dir).filter(col("value") > 95)
      .select(col("user_id"), col("ts"))
    val f = hv.groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
    hv.join(f, "user_id")
      .select(col("user_id"),
        floor(datediff(to_date(col("ts")), col("d0")) / 7).cast("long")
          .as("week_offset"),
        floor(datediff(col("d0"), lit("2024-01-01").cast("date")) / 7)
          .cast("long").as("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionSql: String =
    """WITH hv AS (SELECT user_id, ts FROM events WHERE value > 95),
      |f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM hv GROUP BY 1),
      |a AS (
      |  SELECT hv.user_id,
      |    CAST(FLOOR(date_diff('day', f.d0, CAST(hv.ts AS DATE)) / 7) AS BIGINT) AS week_offset,
      |    CAST(FLOOR(date_diff('day', DATE '2024-01-01', f.d0) / 7) AS BIGINT) AS cohort_week
      |  FROM hv JOIN f USING (user_id))
      |SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Daily event counts pivoted by type — Spark's `pivot` with the
    * value list DECLARED, which plans as ONE single-pass conditional
    * aggregation (omit the list and Spark runs an extra
    * distinct-values job first, a second full scan at corpus scale).
    * The oracle is the equivalent explicit CASE aggregation. Empty
    * (day, type) cells are filled to 0: pivot+count yields NULL for a
    * cell with no rows while COUNT(CASE ...) yields 0, so without the
    * fill the parity would hold only while every day happens to contain
    * every type. */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy("day")
  }

  val pivotDailySql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi-structured JSON column extraction: `props` parsed with
    * `from_json` under an EXPLICIT schema — a codegen-adjacent
    * per-row parse, never schema inference (which at corpus scale is
    * a second full scan), then a plain grouped aggregate over the
    * extracted field. The event-properties pattern every telemetry
    * corpus carries. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
      |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Event-path transition matrix (first-order Markov counts): for
    * each user's time-ordered event stream, count (from, to) pairs of
    * consecutive event types — the path-analysis aggregate behind
    * "what do users do after X". One user_id-partitioned LEAD window
    * (the per-key rank shape that scales; ties broken by event_id so
    * both engines pair identically) feeding a partial-agg-friendly
    * groupBy — two shuffles total, no self-join against the
    * next event. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  val transitionsSql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |FROM s WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-day top-3 most active users — the per-group top-k shape
    * (rank over a PARTITIONED window, count desc with user_id
    * tie-break). Spark plans this with WindowGroupLimit pushdown: only
    * k rows per day survive each partial sort, so the shuffle carries
    * O(days * k), not O(days * users) — the same rank-pushdown the
    * versioned-table resolve leans on, here as a standalone operator. */
  def topkDaily(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("n").desc, col("user_id"))
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("day", "rk")
  }

  val topkDailySql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY day
      |    ORDER BY n DESC, user_id) AS INT) AS rk
      |  FROM d)
      |SELECT day, user_id, n, rk FROM r WHERE rk <= 3
      |ORDER BY day, rk""".stripMargin

  /** Daily distinct-user estimate via the HLL sketch
    * ([[graft.pipeline.Sketches.hllDistinct]]) beside the exact
    * count — the per-day cardinality profile an event pipeline
    * publishes at CONSTANT state (one 256-byte register buffer per day,
    * no pre-distinct shuffle; the mergeable register table streams
    * under a watermarked event-time window, spec-pinned in
    * SketchesSpec).
    * user_id is string-rendered before hashing so both engines md5
    * identical bytes. */
  def distinctDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("uid"))
    val exact = ev.distinct()
      .groupBy("day").agg(count(lit(1)).as("n_distinct"))
    graft.pipeline.Sketches.hllDistinct(ev, "day", "uid")
      .withColumnRenamed("g", "day")
      .join(exact, "day")
      .select("day", "n_distinct", "est_distinct")
      .orderBy("day")
  }

  val distinctDailySql: String =
    s"""WITH t0 AS (SELECT CAST(ts AS DATE) AS day,
       |              CAST(user_id AS VARCHAR) AS uid FROM events),
       |${graft.pipeline.Sketches.hllDistinctSql("t0", "day", "uid")},
       |x AS (SELECT day, COUNT(DISTINCT uid) AS n_distinct
       |      FROM t0 GROUP BY 1)
       |SELECT hll.g AS day, x.n_distinct, hll.est_distinct
       |FROM hll JOIN x ON hll.g = x.day ORDER BY 1""".stripMargin

  /** Gap-filled per-user daily series with forward fill — the resample
    * step a time-series feature pipeline runs before training: every
    * user's [first, last] active-day span is densified (`sequence` +
    * explode, partition-local — no join against a global calendar),
    * missing days get n = 0, and the running daily average is carried
    * forward with a partitioned `last(ignoreNulls)` window. Both the
    * explode and the fill are keyed by user_id, so the whole query
    * rides ONE user partitioning; the user subset keeps the output
    * bounded while exercising the full shape. */
  def gapfill(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val daily = events(spark, dir)
      .filter(col("user_id") % 50 === 0)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("day_avg"))
    val span = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
    span.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("day_avg"), ignoreNulls = true).over(w).as("filled_avg"))
      .orderBy("user_id", "day")
  }

  val gapfillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |    ROUND(AVG(value), 6) AS day_avg
      |  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
      |span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span)
      |SELECT cal.user_id, cal.day, COALESCE(daily.n, 0) AS n,
      |  last_value(daily.day_avg IGNORE NULLS) OVER (
      |    PARTITION BY cal.user_id ORDER BY cal.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
      |FROM cal LEFT JOIN daily
      |  ON cal.user_id = daily.user_id AND cal.day = daily.day
      |ORDER BY 1, 2""".stripMargin

  /** Weighted PageRank over the event-type transition graph
    * ([[graft.pipeline.Graph.pageRank]], 3 iterations, damping 0.85):
    * edges are the q_transitions LEAD-window counts, so the graph build
    * shares that one user_id shuffle; each iteration is one
    * src-keyed join + dst-keyed partial agg with no driver traffic.
    * The oracle unrolls the identical recurrence three times in SQL —
    * the fixed iteration count is what makes an iterative algorithm
    * oracle-checkable. */
  def pageRankEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
    graft.pipeline.Graph.pageRank(edges, iters = 3, damping = 0.85)
      .select(col("node"), round(col("r"), 9).as("rank"))
      .orderBy("node")
  }

  val pageRankEventsSql: String = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT nodes.node,
         |    0.15 / (SELECT n FROM nn)
         |      + 0.85 * COALESCE(c.inflow, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT p.dst AS node, SUM(p.p * $prev.r) AS inflow
         |    FROM p JOIN $prev ON p.src = $prev.node GROUP BY 1) c
         |  ON nodes.node = c.node)""".stripMargin
    s"""WITH s AS (
       |  SELECT event_type AS src,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS dst
       |  FROM events),
       |e AS (SELECT src, dst, COUNT(*) AS w FROM s
       |      WHERE dst IS NOT NULL GROUP BY 1, 2),
       |o AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
       |p AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS p
       |      FROM e JOIN o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, ROUND(r, 9) AS rank FROM r3 ORDER BY node""".stripMargin
  }

  /** PageRank with DANGLING-MASS redistribution over the same
    * transition graph, with the lexicographically-largest src turned
    * into a sink (its out-edges dropped) so dangling mass actually
    * flows: each iteration folds the sink-parked mass back in
    * uniformly (r' = (1-d)/N + d*danglingMass/N + d*inflow — the full
    * recurrence whose ranks sum to 1). The per-iteration dangling mass
    * is ONE scalar collect; the oracle unrolls the identical
    * recurrence with a scalar subquery per round. */
  def pageRankDangling(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edgesAll = events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
      .localCheckpoint()
    val sinkName = edgesAll.agg(max("src")).head().getString(0)
    graft.pipeline.Graph.pageRank(
        edgesAll.filter(col("src") =!= sinkName),
        iters = 3, damping = 0.85, dangling = true)
      .select(col("node"), round(col("r"), 9).as("rank"))
      .orderBy("node")
  }

  val pageRankDanglingSql: String = {
    val iter = (prev: String, cur: String, d: String) =>
      s"""$d AS (
         |  SELECT COALESCE(SUM(r), 0) AS dm FROM $prev
         |  WHERE node NOT IN (SELECT src FROM p)),
         |$cur AS (
         |  SELECT nodes.node,
         |    0.15 / (SELECT n FROM nn)
         |      + 0.85 * (SELECT dm FROM $d) / (SELECT n FROM nn)
         |      + 0.85 * COALESCE(c.inflow, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT p.dst AS node, SUM(p.p * $prev.r) AS inflow
         |    FROM p JOIN $prev ON p.src = $prev.node GROUP BY 1) c
         |  ON nodes.node = c.node)""".stripMargin
    s"""WITH s AS (
       |  SELECT event_type AS src,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS dst
       |  FROM events),
       |e0 AS (SELECT src, dst, COUNT(*) AS w FROM s
       |       WHERE dst IS NOT NULL GROUP BY 1, 2),
       |e AS (SELECT * FROM e0 WHERE src <> (SELECT MAX(src) FROM e0)),
       |o AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
       |p AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS p
       |      FROM e JOIN o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
       |${iter("r0", "r1", "d1")},
       |${iter("r1", "r2", "d2")},
       |${iter("r2", "r3", "d3")}
       |SELECT node, ROUND(r, 9) AS rank FROM r3 ORDER BY node""".stripMargin
  }

  /** PERSONALIZED PageRank (random walk with restart) over the same
    * transition graph: teleport mass restarts ONLY at the
    * lexicographically-smallest event type (a 1-node seed set), so
    * ranks measure proximity to that seed instead of global
    * centrality — the topic-sensitive scoring pass. Same fixed
    * 3-iteration recurrence, oracle-unrolled with the seed-indicator
    * teleport column; the seed set is derived declaratively (ORDER BY
    * + LIMIT 1 on the node set), no driver scalar. */
  /** Per-user EWMA of event values (α = ¼) — the batch form of
    * [[graft.streaming.SeriesOps.streamingEwma]]'s decayed metric:
    * one ts-ordered fold per user, seeded with the first value,
    * α·x + (1−α)·acc thereafter. The fold runs over the user's
    * collected (ts, event_id, value) history — bounded per user by
    * the events-per-user distribution (the same contract as the
    * rolling fingerprint's per-doc fold); the decayed value is
    * order-sensitive BY DEFINITION, so both engines fold the
    * identical sequence with identical IEEE ops (α exactly
    * representable), rounded 6 only at the end. Streaming == batch
    * on in-order input is spec-pinned. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id"),
          col("value")).as("s"))
    val alpha = graft.streaming.SeriesOps.EwmaAlpha
    e.groupBy("user_id")
      .agg(count(lit(1)).as("n"), array_sort(collect_list("s")).as("xs"))
      .select(col("user_id"), col("n"),
        round(aggregate(
          slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
          element_at(col("xs"), 1).getField("value"),
          (acc, s) => lit(alpha) * s.getField("value")
            + lit(1 - alpha) * acc), 6).as("ewma"))
      .orderBy("user_id")
  }

  val ewmaSql: String =
    """WITH l AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    list(value ORDER BY epoch_us(ts), event_id) AS xs
      |  FROM events GROUP BY 1)
      |SELECT user_id, n,
      |  ROUND(list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
      |    AS ewma
      |FROM l ORDER BY user_id""".stripMargin

  /** Per-node TRIANGLE COUNTS ([[graft.pipeline.Graph.triangles]])
    * over the token co-occurrence graph: undirected edges are the
    * distinct adjacent-token pairs of the corpus, counted with the
    * degree-ordered wedge join (oriented out-degree bounded by
    * O(√|E|) — hub-safe by construction, see Graph scaladoc). The
    * oracle replays the identical orientation + wedge + closure
    * algebra in SQL; exact integer counts, so any orientation or
    * closure defect hash-diverges. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val edges = docs
      .select(explode(graft.functions.TextFunctions
        .adjacentPairs(col("toks"))).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("src"),
        substring_index(col("bg"), " ", -1).as("dst"))
    graft.pipeline.Graph.triangles(edges)
      .select(col("node"), col("tri").cast("long").as("tri"))
      .orderBy("node")
  }

  val triangleCountsSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |adj AS (
      |  SELECT doc_id, tok AS x,
      |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS y
      |  FROM p),
      |e0 AS (
      |  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
      |  FROM adj WHERE y IS NOT NULL AND x <> y),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
      |  GROUP BY 1),
      |o AS (
      |  SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
      |      THEN a ELSE b END AS u,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
      |      THEN b ELSE a END AS v,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
      |      THEN db.d ELSE da.d END AS dv
      |  FROM e0 JOIN deg da ON e0.a = da.n JOIN deg db ON e0.b = db.n),
      |w2 AS (
      |  SELECT e1.u, e1.v AS v1, e2.v AS v2
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |tri AS (
      |  SELECT w2.u AS a, w2.v1 AS b, w2.v2 AS c
      |  FROM w2 JOIN o ON o.u = w2.v1 AND o.v = w2.v2),
      |n3 AS (
      |  SELECT unnest([a, b, c]) AS node FROM tri)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
      |FROM n3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Local clustering coefficient per token over the same
    * co-occurrence graph ([[graft.pipeline.Graph.clusteringCoefficient]]):
    * deg and tri stay exact integers, cc = round(2·tri/(deg·(deg−1)), 6)
    * is the only float and both engines compute it from identical
    * operands. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val edges = docs
      .select(explode(graft.functions.TextFunctions
        .adjacentPairs(col("toks"))).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("src"),
        substring_index(col("bg"), " ", -1).as("dst"))
    graft.pipeline.Graph.clusteringCoefficient(edges)
      .select(col("node"), col("deg").cast("long").as("deg"),
        col("tri").cast("long").as("tri"), col("cc"))
      .orderBy("node")
  }

  val clusteringCoeffSql: String = {
    // same CTE chain as q_triangles, extended with the degree join
    val base = triangleCountsSql.stripSuffix(
      """SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
        |FROM n3 GROUP BY 1 ORDER BY 1""".stripMargin)
    require(base.length < triangleCountsSql.length,
      "triangleCountsSql tail changed; update clusteringCoeffSql")
    s"""${base.trim.stripSuffix(",")},
       |tcnt AS (SELECT node, COUNT(*) AS tri FROM n3 GROUP BY 1)
       |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS deg,
       |  CAST(COALESCE(tcnt.tri, 0) AS BIGINT) AS tri,
       |  CASE WHEN deg.d < 2 THEN 0.0
       |    ELSE ROUND(2.0 * COALESCE(tcnt.tri, 0)
       |      / (deg.d * (deg.d - 1)), 6) END AS cc
       |FROM deg LEFT JOIN tcnt ON deg.n = tcnt.node
       |ORDER BY 1""".stripMargin
  }

  def pageRankPersonal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
      .localCheckpoint()
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().orderBy("node").limit(1)
    graft.pipeline.Graph.pageRank(edges, iters = 3, damping = 0.85,
        seeds = Some(seeds))
      .select(col("node"), round(col("r"), 9).as("rank"))
      .orderBy("node")
  }

  val pageRankPersonalSql: String = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT nodes.node,
         |    0.15 * (CASE WHEN nodes.node = (SELECT node FROM seed)
         |            THEN 1.0 ELSE 0.0 END)
         |      + 0.85 * COALESCE(c.inflow, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT p.dst AS node, SUM(p.p * $prev.r) AS inflow
         |    FROM p JOIN $prev ON p.src = $prev.node GROUP BY 1) c
         |  ON nodes.node = c.node)""".stripMargin
    s"""WITH s AS (
       |  SELECT event_type AS src,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS dst
       |  FROM events),
       |e AS (SELECT src, dst, COUNT(*) AS w FROM s
       |      WHERE dst IS NOT NULL GROUP BY 1, 2),
       |o AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
       |p AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS p
       |      FROM e JOIN o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |seed AS (SELECT MIN(node) AS node FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, ROUND(r, 9) AS rank FROM r3 ORDER BY node""".stripMargin
  }

  /** Daily volume anomaly detection: each (event_type, day) count
    * z-scored against its own TRAILING 7-day window (prior days only —
    * no leakage of the scored day into its baseline). One event_type
    * partitioning carries the daily agg and both window stats; rows
    * without a full 7-day baseline or with zero variance are excluded
    * (exactly representable integer sums, so the sd > 0 cut is
    * engine-stable), and z is rounded so Welford-vs-naive stddev
    * accumulation order can't flip a hash. */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mu", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("nw", count("n").over(w))
      .filter(col("nw") === 7 && col("sd") > 0)
      .select(col("day"), col("event_type"), col("n"),
        round((col("n") - col("mu")) / col("sd"), 6).as("z"))
      .orderBy("day", "event_type")
  }

  val anomalySql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT day, event_type, n,
      |    AVG(n) OVER w AS mu,
      |    STDDEV_SAMP(n) OVER w AS sd,
      |    COUNT(n) OVER w AS nw
      |  FROM d
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT day, event_type, n, ROUND((n - mu) / sd, 6) AS z
      |FROM s WHERE nw = 7 AND sd > 0 ORDER BY 1, 2""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sessionize" -> sessionize _,
    "q_sessionize_native" -> sessionizeNative _,
    "q_window_stats" -> windowStats _,
    "q_window_sliding" -> windowSliding _,
    "q_incremental_mi" -> incrementalMi _,
    "q_stream_dedup" -> streamDedup _,
    "q_stream_join" -> streamJoin _,
    "q_asof_join" -> asofJoinQ _,
    "q_funnel" -> funnel _,
    "q_retention" -> retention _,
    "q_pivot" -> pivotDaily _,
    "q_json_extract" -> jsonExtract _,
    "q_transitions" -> transitions _,
    "q_topk_daily" -> topkDaily _,
    "q_distinct_daily" -> distinctDaily _,
    "q_gapfill" -> gapfill _,
    "q_pagerank" -> pageRankEvents _,
    "q_pagerank_dangling" -> pageRankDangling _,
    "q_pagerank_personal" -> pageRankPersonal _,
    "q_triangles" -> triangleCounts _,
    "q_ewma" -> ewma _,
    "q_clustering_coeff" -> clusteringCoeff _,
    "q_anomaly" -> anomaly _)

  val oracles: Map[String, String] = Map(
    "q_sessionize" -> sessionizeSql,
    "q_sessionize_native" -> sessionizeSql,
    "q_window_stats" -> windowStatsSql,
    "q_window_sliding" -> windowSlidingSql,
    "q_incremental_mi" -> incrementalMiSql,
    "q_stream_dedup" -> streamDedupSql,
    "q_stream_join" -> streamJoinSql,
    "q_asof_join" -> asofJoinSql,
    "q_funnel" -> funnelSql,
    "q_retention" -> retentionSql,
    "q_pivot" -> pivotDailySql,
    "q_json_extract" -> jsonExtractSql,
    "q_transitions" -> transitionsSql,
    "q_topk_daily" -> topkDailySql,
    "q_distinct_daily" -> distinctDailySql,
    "q_gapfill" -> gapfillSql,
    "q_pagerank" -> pageRankEventsSql,
    "q_pagerank_dangling" -> pageRankDanglingSql,
    "q_pagerank_personal" -> pageRankPersonalSql,
    "q_triangles" -> triangleCountsSql,
    "q_ewma" -> ewmaSql,
    "q_clustering_coeff" -> clusteringCoeffSql,
    "q_anomaly" -> anomalySql)
}
