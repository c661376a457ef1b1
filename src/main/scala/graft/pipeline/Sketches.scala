package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions._

/**
 * Deterministic probabilistic sketches for corpus profiling at 100 TB
 * scale. Every hash is md5-derived, so the sketches are reproducible
 * across runs AND engines: the DuckDB oracle recomputes the ESTIMATES
 * themselves, not just error bounds.
 *
 * One build per sketch. HLL and KMV build through their native
 * bounded-state aggregates ([[graft.functions.HllSketchAgg]],
 * [[graft.functions.KmvSketchAgg]]): one small buffer per group per
 * partition is the whole shuffle state. Quantiles build as bucket rows
 * through a codegen'd groupBy, which measured faster than a map-state
 * aggregate because the bucket keyspace is already bounded. The AT-REST
 * forms — HLL register rows, KMV bottom-k rows, quantile bucket rows —
 * are what the `*Merge` folds take as shard state. Every build skips
 * null values.
 */
object Sketches {

  /** A native aggregate function as a Column. */
  private def aggregate(f: AggregateFunction): Column =
    GraftSqlBridge.column(f.toAggregateExpression())

  private def expr(c: Column) = GraftSqlBridge.expression(c)

  /**
   * HyperLogLog distinct-count estimate per group (Flajolet et al.
   * 2007), b register-index bits (m = 2^b registers, b in [4, 12]):
   * (g, est_distinct). Built by [[graft.functions.HllSketchAgg]], one
   * 2^b-byte register buffer per group, and bit-identical to
   * `hllEstimate(hllRegisters(...))` — the at-rest register table.
   *
   * Bit layout: the md5's first 15 hex digits (60 bits, fits a signed
   * long) split by SHIFT/MASK — top b bits index the register, the
   * NEXT 48 bits are the rank value for every b (the value width does
   * not move with b, so b = 8 is bit-identical to the historical
   * 2-hex/12-hex split the oracle pins). rho (leading-zero rank of
   * the 48-bit value) is computed as 49 - length(bin(v)) — pure
   * integer/string ops, bit-identical in both engines, avoiding
   * floor(log2(x)) whose libm rounding at exact powers of two differs
   * across engines.
   */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String,
      b: Int = 8): DataFrame =
    // the aggregate skips nulls itself; the filter also drops a group
    // of only nulls, which has no register rows either
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g")).agg(aggregate(
        graft.functions.HllSketchAgg(expr(col(valueCol).cast("string")), b))
        .as("est_distinct"))

  private def requireB(b: Int): Unit =
    require(b >= 4 && b <= 12,
      s"b = $b out of range: need 4 <= b <= 12 (16..4096 registers)")

  /** The sketch STATE: (g, bucket, rmax) register rows — at most m per
    * group. Mergeable: register tables from disjoint shards union +
    * re-max into the exact registers of the combined corpus (max is
    * associative/idempotent), which is what makes HLL the profile
    * sketch for incremental ingest — fold each shard's m-row state,
    * never re-scan the corpus. */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String,
      b: Int = 8): DataFrame = {
    requireB(b)
    // 60 hash bits; top b index the register, next 48 are the value
    val h60 = conv(substring(md5(col(valueCol)), 1, 15), 16, 10)
      .cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        shiftright(h60, 60 - b).as("bucket"),
        shiftright(h60, 12 - b).bitwiseAND(lit((1L << 48) - 1)).as("v"))
      .withColumn("rho",
        when(col("v") === 0, lit(49L))
          .otherwise(lit(49L) - length(bin(col("v")))))
      .groupBy("g", "bucket").agg(max("rho").as("rmax"))
  }

  /** Merge shard register tables (union + per-register max). */
  def hllMerge(regs: DataFrame*): DataFrame =
    regs.reduce(_.unionByName(_))
      .groupBy("g", "bucket").agg(max("rmax").as("rmax"))

  /** Fold register rows into the per-group estimate. */
  def hllEstimate(reg: DataFrame, b: Int = 8): DataFrame = {
    requireB(b)
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    reg.groupBy("g")
      .agg(sum(pow(lit(2.0), -col("rmax"))).as("zpresent"),
        count(lit(1)).as("present"))
      .select(col("g"),
        (lit(alpha * m * m)
          / (col("zpresent") + (lit(m) - col("present")))).as("e_raw"),
        (lit(m.toLong) - col("present")).as("zeros"))
      .select(col("g"),
        round(when(col("e_raw") <= 2.5 * m && col("zeros") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("e_raw"))).cast("long").as("est_distinct"))
  }

  /** The [[hllDistinct]] recurrence as oracle SQL over rows (g, val),
    * null values skipped. */
  def hllDistinctSql(fromClause: String, gCol: String, vCol: String): String = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // pre-multiplied so DuckDB sees one DOUBLE literal, not a DECIMAL
    // product that overflows DECIMAL(18)
    val alphaM2 = alpha * m * m
    s"""hreg AS (
       |  SELECT $gCol AS g,
       |    CAST(('0x' || substr(md5($vCol), 1, 2)) AS BIGINT) AS bucket,
       |    CAST(('0x' || substr(md5($vCol), 3, 12)) AS BIGINT) AS v
       |  FROM $fromClause WHERE $vCol IS NOT NULL),
       |hrho AS (
       |  SELECT g, bucket,
       |    MAX(CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END) AS rmax
       |  FROM hreg GROUP BY 1, 2),
       |hagg AS (
       |  SELECT g, SUM(pow(2.0, -rmax)) AS zpresent, COUNT(*) AS present
       |  FROM hrho GROUP BY 1),
       |hest AS (
       |  SELECT g,
       |    $alphaM2 / (zpresent + ($m - present)) AS e_raw,
       |    $m - present AS zeros
       |  FROM hagg),
       |hll AS (
       |  SELECT g,
       |    CAST(ROUND(CASE WHEN e_raw <= ${2.5 * m} AND zeros > 0
       |      THEN $m * LN($m / CAST(zeros AS DOUBLE)) ELSE e_raw END)
       |      AS BIGINT) AS est_distinct
       |  FROM hest)""".stripMargin
  }

  /** Count-min sketch parameters shared with the oracle SQL. */
  val CmDepth: Int = 3
  val CmWidth: Int = 1024

  /** Count-min counter position for hash row i — salted md5, same 12
    * hex digits as [[Dedup.tokenId]]. */
  private def cmPos(i: Int, v: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"cm$i:"), v)), 1, 12), 16, 10)
      .cast("long") % CmWidth

  /**
   * Count-min sketch counter table over rows of `df`: (hrow, pos, c)
   * with d = [[CmDepth]] salted hash rows and w = [[CmWidth]] columns.
   * One explode to d rows per input row, then a map-side-combinable
   * groupBy on a keyspace of exactly d*w cells — the fixed-size
   * frequency summary that replaces a full token-count shuffle when
   * only heavy hitters matter.
   */
  def countMinTable(df: DataFrame, valueCol: String): DataFrame =
    // posexplode over a BARE long array: the element index IS the hash
    // row. The struct-array form (explode(array(struct(i, pos))))
    // measured 5x slower stacked above a tokenizing explode — nested
    // generators with struct construction fall off the fast path,
    // while a flat long array stays in codegen end to end.
    df.select(posexplode(
        array((0 until CmDepth).map(i => cmPos(i, col(valueCol))): _*))
        .as(Seq("hrow", "pos")))
      .groupBy("hrow", "pos")
      .agg(count(lit(1)).as("c"))

  /** [[countMinTable]] from a pre-aggregated (value, weight) frame —
    * identical counters (a cell's count is the weight sum of the
    * distinct values hashing into it), but the explode runs over
    * DISTINCT values instead of raw rows. Use when a (value, n)
    * aggregate already exists in the pipeline. */
  def countMinTableWeighted(df: DataFrame, valueCol: String,
      weightCol: String): DataFrame =
    df.select(col(weightCol).as("w"), posexplode(
        array((0 until CmDepth).map(i => cmPos(i, col(valueCol))): _*))
        .as(Seq("hrow", "pos")))
      .groupBy("hrow", "pos")
      .agg(sum("w").as("c"))

  /**
   * Point-estimate candidate frequencies from a count-min table:
   * est = min over hash rows of the candidate's counter. Always >= the
   * true count (collisions only inflate). The join side is the
   * candidate list — bounded by the caller — against a d*w-row table.
   */
  def countMinEstimate(counters: DataFrame, candidates: DataFrame,
      valueCol: String): DataFrame =
    candidates
      .select(col("*"), posexplode(
        array((0 until CmDepth).map(i => cmPos(i, col(valueCol))): _*))
        .as(Seq("hrow", "pos")))
      .join(counters, Seq("hrow", "pos"))
      .groupBy(candidates.columns.map(col): _*)
      .agg(min("c").as("est_n"))

  // ---- mergeable quantile sketch (HDR/log2-linear buckets) ----

  /** Sub-bucket bits of the quantile sketch: relative error <= 2^-k
    * (k = 5 -> 3.1%), ~2 + (63-k) * 2^k buckets max per group (~1.9k
    * rows — constant regardless of corpus size). */
  val QSubBits: Int = 5

  /**
   * Quantile-sketch bucket index for NON-NEGATIVE integer values
   * (caller contract; values < 2^53 so the power-of-two scaling stays
   * exact in DOUBLE): HdrHistogram's log2-linear scheme — values below
   * 2^(k+1) are their own bucket (exact), above that the bucket is the
   * value's floor(log2) exponent plus its top k mantissa bits.
   * DETERMINISTIC ACROSS ENGINES by construction: the exponent is
   * `length(bin(x)) - 1` (a string op, exact — never floor(log2(x))
   * whose libm rounding differs at boundaries) and the dynamic right
   * shift is `floor(x / 2^s)`, exact for power-of-two divisors.
   */
  private def qsBucket(x: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column = {
    val e = length(bin(x)).cast("long") - 1
    val s = e - k
    when(x < (1L << (k + 1)), x)
      .otherwise(s * (1L << k)
        + floor(x.cast("double") / pow(lit(2.0), s)).cast("long"))
  }

  /** Upper bound of bucket `idx` — the quantile answer is a bucket's
    * top value, so estimates are >= the true quantile and within
    * relative error 2^-k of it. */
  private def qsUpper(idx: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column = {
    val s = shiftright(idx, k) - 1 // sub-bucket count recovers the shift
    when(idx < (1L << (k + 1)), idx)
      .otherwise((idx - s * (1L << k)) * pow(lit(2.0), s).cast("long")
        + pow(lit(2.0), s).cast("long") - 1)
  }

  private def requireK(k: Int): Unit =
    require(k >= 1 && k <= 16,
      s"k = $k out of range: need 1 <= k <= 16 sub-bucket bits")

  /**
   * The quantile sketch STATE: (g, idx, cnt) bucket rows — at most
   * ~2k rows per group for 64-bit values, map-side combinable like
   * every sketch here. Mergeable EXACTLY: shard states union +
   * re-sum into the combined corpus's state (sum is associative), so
   * incremental ingest folds each shard's bucket rows and never
   * re-scans the corpus — the same at-rest contract as
   * [[hllRegisters]]. Null values are skipped.
   */
  def quantileBuckets(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = QSubBits): DataFrame = {
    requireK(k)
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        qsBucket(col(valueCol).cast("long"), k).as("idx"))
      .groupBy("g", "idx").agg(count(lit(1)).as("cnt"))
  }

  /** Merge shard bucket states (union + per-bucket sum). */
  def quantileMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_.unionByName(_))
      .groupBy("g", "idx").agg(sum("cnt").as("cnt"))

  /**
   * Percentile estimates from a bucket state: for each group and each
   * requested INTEGER percentile p, the upper bound of the first
   * bucket whose cumulative count reaches rank ceil(n*p/100). The
   * rank test is cross-multiplied into pure integer comparisons
   * (cum >= ceil(np/100) <=> 100*cum >= np) — no division anywhere,
   * so Spark and the oracle decide every boundary identically (a
   * float q*n product could straddle an ulp across engines). One
   * partitioned window over the ~2k-row-per-group state; never a
   * corpus-sized sort.
   */
  def quantileEstimate(sketch: DataFrame, percentiles: Seq[Int],
      k: Int = QSubBits): DataFrame =
    rankHits(sketch, percentiles, k)
      .select(col("g"), col("p"), qsUpper(col("idx"), k).as("est_value"))

  /** The rank step of both estimates: (g, p, idx) — the bucket each
    * requested percentile lands in. */
  private def rankHits(sketch: DataFrame, percentiles: Seq[Int],
      k: Int): DataFrame = {
    requireK(k)
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1, 100]: $percentiles")
    val spark = sketch.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    sketch
      .withColumn("cum", sum("cnt").over(w.orderBy("idx")))
      .withColumn("n", sum("cnt").over(w))
      .crossJoin(broadcast(percentiles.toDF("p")))
      .filter(col("cum") * 100 >= col("n") * col("p") &&
        (col("cum") - col("cnt")) * 100 < col("n") * col("p"))
  }

  // ---- signed / fixed-point quantile domain (r10) ----

  /** Sign-split bucket index for SIGNED longs: negatives bucket by
    * |x| and negate the index — order-preserving (more negative value
    * -> smaller index, every negative index < 0 <= every non-negative
    * one), and the whole mapping stays the same integer/string
    * algebra as [[qsBucket]], so an oracle replays it cell-for-cell.
    * x = 0 is its own exact bucket 0. */
  private def qsBucketSigned(x: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    when(x >= 0, qsBucket(x, k)).otherwise(-qsBucket(-x, k))

  /** Upper bound of a signed bucket. Positive buckets: [[qsUpper]].
    * A negative bucket -j mirrors positive bucket j, covering
    * [-hi(j), -lo(j)]; buckets are contiguous so lo(j) =
    * qsUpper(j-1) + 1 and the signed upper is -(qsUpper(j-1) + 1).
    * Estimates therefore stay >= the true quantile on BOTH sides of
    * zero, within relative error 2^-k of |value|. */
  private def qsUpperSigned(idx: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    when(idx >= 0, qsUpper(idx, k))
      .otherwise(-(qsUpper(-idx - 1, k) + lit(1L)))

  /**
   * Quantile-sketch state over a SIGNED, FIXED-POINT view of a double
   * column: fx = round(value * 10^scaleDigits) cast to BIGINT, then
   * the sign-split log2-linear bucket. The fixed-point step is
   * engine-deterministic (one IEEE multiply by an exactly-
   * representable power of ten, then half-away-from-zero rounding —
   * identical on Spark and a SQL oracle), which opens the robust-trim
   * pattern to float quality/LM scores, the columns a curation pass
   * actually trims on. Same (g, idx, cnt) mergeable state as
   * [[quantileBuckets]]: shard states union + re-sum exactly. Null
   * values are skipped.
   */
  def quantileBucketsSigned(df: DataFrame, groupCol: String,
      valueCol: String, scaleDigits: Int = 6,
      k: Int = QSubBits): DataFrame = {
    requireK(k)
    require(scaleDigits >= 0 && scaleDigits <= 15,
      s"scaleDigits $scaleDigits out of range")
    val fx = round(col(valueCol).cast("double")
      * lit(math.pow(10, scaleDigits))).cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), qsBucketSigned(fx, k).as("idx"))
      .groupBy("g", "idx").agg(count(lit(1)).as("cnt"))
  }

  /** [[quantileEstimate]] over a SIGNED bucket state: the cumulative
    * rank algebra is unchanged (signed indices already order the
    * value line), only the bucket-upper recovery differs. The answer
    * is the FIXED-POINT integer (`est_fx`); divide by 10^scaleDigits
    * at presentation — both engines divide identical integers, so
    * even the float presentation hash-matches. */
  def quantileEstimateSigned(sketch: DataFrame, percentiles: Seq[Int],
      k: Int = QSubBits): DataFrame =
    rankHits(sketch, percentiles, k)
      .select(col("g"), col("p"), qsUpperSigned(col("idx"), k).as("est_fx"))

  /** The signed fixed-point sketch-and-estimate recurrence as oracle
    * SQL CTEs (CTE names prefixed `sq`) over rows (g, double expr),
    * null values skipped —
    * the identical fixed-point/sign-split/rank integer algebra, so
    * `sqest(g, p, est_fx)` hash-matches [[quantileEstimateSigned]]
    * cell-for-cell. */
  def quantileSketchSignedSql(fromClause: String, gCol: String,
      vExpr: String, percentiles: Seq[Int], scaleDigits: Int = 6,
      k: Int = QSubBits): String = {
    val twoK = 1L << k
    val exact = 1L << (k + 1)
    val ps = percentiles.mkString(", ")
    val scale = s"1e$scaleDigits"
    def posUpper(j: String): String =
      s"""CASE WHEN $j < $exact THEN $j
         |      ELSE ($j - (($j // $twoK) - 1) * $twoK)
         |        * CAST(POW(2.0, ($j // $twoK) - 1) AS BIGINT)
         |        + CAST(POW(2.0, ($j // $twoK) - 1) AS BIGINT) - 1
         |    END""".stripMargin
    s"""sqraw AS (
       |  SELECT $gCol AS g,
       |    CAST(ROUND(CAST($vExpr AS DOUBLE) * $scale) AS BIGINT) AS fx
       |  FROM $fromClause WHERE ($vExpr) IS NOT NULL),
       |sqabs AS (
       |  SELECT g, CASE WHEN fx >= 0 THEN 1 ELSE -1 END AS sgn,
       |    ABS(fx) AS x
       |  FROM sqraw),
       |sqidx AS (
       |  SELECT g, sgn * (
       |    CASE WHEN x < $exact THEN x
       |      ELSE (length(bin(x)) - 1 - $k) * $twoK
       |        + CAST(FLOOR(x / POW(2.0, length(bin(x)) - 1 - $k)) AS BIGINT)
       |    END) AS idx
       |  FROM sqabs),
       |sqbuck AS (SELECT g, idx, COUNT(*) AS cnt FROM sqidx GROUP BY 1, 2),
       |sqcum AS (
       |  SELECT g, idx, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY idx) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM sqbuck),
       |sqhit AS (
       |  SELECT g, p, idx FROM sqcum
       |  CROSS JOIN (SELECT UNNEST([$ps]) AS p)
       |  WHERE cum * 100 >= n * p
       |    AND (cum - cnt) * 100 < n * p),
       |sqest AS (
       |  SELECT g, p,
       |    CASE WHEN idx >= 0 THEN ${posUpper("idx")}
       |      ELSE -((${posUpper("(-idx - 1)")}) + 1)
       |    END AS est_fx
       |  FROM sqhit)""".stripMargin
  }

  /** The full sketch-and-estimate recurrence as oracle SQL CTEs over
    * rows (g, val >= 0), null values skipped — the identical integer
    * bucket/rank algebra, so estimates hash-match across engines. */
  def quantileSketchSql(fromClause: String, gCol: String, vCol: String,
      percentiles: Seq[Int], k: Int = QSubBits): String = {
    val twoK = 1L << k
    val exact = 1L << (k + 1)
    val ps = percentiles.mkString(", ")
    s"""qraw AS (
       |  SELECT $gCol AS g, CAST($vCol AS BIGINT) AS x FROM $fromClause
       |  WHERE $vCol IS NOT NULL),
       |qidx AS (
       |  SELECT g,
       |    CASE WHEN x < $exact THEN x
       |      ELSE (length(bin(x)) - 1 - $k) * $twoK
       |        + CAST(FLOOR(x / POW(2.0, length(bin(x)) - 1 - $k)) AS BIGINT)
       |    END AS idx
       |  FROM qraw),
       |qbuck AS (SELECT g, idx, COUNT(*) AS cnt FROM qidx GROUP BY 1, 2),
       |qcum AS (
       |  SELECT g, idx, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY idx) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM qbuck),
       |qhit AS (
       |  SELECT g, p, idx FROM qcum
       |  CROSS JOIN (SELECT UNNEST([$ps]) AS p)
       |  WHERE cum * 100 >= n * p
       |    AND (cum - cnt) * 100 < n * p),
       |qest AS (
       |  SELECT g, p,
       |    CASE WHEN idx < $exact THEN idx
       |      ELSE (idx - ((idx // $twoK) - 1) * $twoK)
       |        * CAST(POW(2.0, (idx // $twoK) - 1) AS BIGINT)
       |        + CAST(POW(2.0, (idx // $twoK) - 1) AS BIGINT) - 1
       |    END AS est_value
       |  FROM qhit)""".stripMargin
  }

  /** Size of the 48-bit KMV/theta hash space (16^12 = 2^48 — the
    * same 12-hex md5 prefix every deterministic hash here uses). */
  val KmvHashMax: Long = 1L << 48

  /**
   * KMV bottom-k sketch STATE: (g, h) — the k smallest DISTINCT
   * 48-bit md5 hashes per group (theta-sketch shape, Dasgupta et al.
   * "Theta sketch framework", Beyer et al. 2007 KMV), null values
   * skipped. Built by [[graft.functions.KmvSketchAgg]], whose state
   * discards every hash above its k-th as it goes, so the shuffle
   * carries O(k) longs per group per partition, never the value space.
   * Mergeable EXACTLY: any hash in the union's bottom-k is in its own
   * shard's bottom-k, so [[kmvMerge]] of shard states reproduces the
   * full-corpus sketch bit for bit.
   */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 64): DataFrame =
    df.groupBy(col(groupCol).as("g")).agg(aggregate(
      graft.functions.KmvSketchAgg(expr(col(valueCol).cast("string")), k))
      .as("__hs"))
      .select(col("g"), explode(col("__hs")).as("h"))

  /** Merge shard sketches (union + distinct + re-bottom-k — exact). */
  def kmvMerge(k: Int)(sketches: DataFrame*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("h")
    sketches.reduce(_.unionByName(_)).distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("g", "h")
  }

  /** Per-group distinct estimate from a sketch: exact below k, else
    * the classic (k-1) * H / kth unbiased KMV estimator. */
  def kmvEstimate(sketch: DataFrame, k: Int = 64): DataFrame =
    sketch.groupBy("g").agg(count(lit(1)).as("n"), max("h").as("kth"))
      .select(col("g"),
        when(col("n") < k, col("n"))
          .otherwise(round(lit((k - 1).toDouble) * lit(KmvHashMax.toDouble)
            / col("kth").cast("double")).cast("long"))
          .as("est_distinct"))

  /**
   * Theta-style SET ALGEBRA over two sketches: per group present in
   * BOTH inputs, estimate |A ∪ B|, |A ∩ B| and the Jaccard overlap
   * WITHOUT touching either corpus — the sketch-only overlap profile
   * a 100 TB decontamination / source-similarity pass runs where the
   * exact distinct-join is unpayable. theta = min over the two sides
   * of (kth smallest hash, or the whole hash space when the side
   * holds < k hashes — then the sketch IS the set and the estimates
   * are exact); hashes below theta are a uniform sample of the union
   * at rate theta / H, so counts scale by H / theta. The Jaccard
   * ratio is emitted as integer parts-per-million (cross-multiplied
   * — no float division boundary to disagree on across engines).
   *
   * Everything here is sketch-sized: the join carries <= 2k rows per
   * group and the per-group theta frame is one row per group.
   */
  def kmvSetOps(a: DataFrame, b: DataFrame, k: Int = 64): DataFrame = {
    def theta(s: DataFrame, out: String) =
      s.groupBy("g").agg(count(lit(1)).as("n"), max("h").as("kth"))
        .select(col("g"),
          when(col("n") < k, lit(KmvHashMax)).otherwise(col("kth"))
            .as(out))
    val th = theta(a, "ta").join(theta(b, "tb"), "g")
      .select(col("g"), least(col("ta"), col("tb")).as("theta"))
    val marked = a.select(col("g"), col("h")).withColumn("ina", lit(1))
      .join(b.select(col("g"), col("h")).withColumn("inb", lit(1)),
        Seq("g", "h"), "full_outer")
    val counted = marked.join(th, "g")
      .filter(col("h") < col("theta"))
      .groupBy("g")
      .agg(count(lit(1)).as("cu"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("ci"),
        max("theta").as("theta"))
    counted.select(col("g"),
      round(col("cu").cast("double") * lit(KmvHashMax.toDouble)
        / col("theta").cast("double")).cast("long").as("est_union"),
      round(col("ci").cast("double") * lit(KmvHashMax.toDouble)
        / col("theta").cast("double")).cast("long").as("est_inter"),
      when(col("cu") === 0, 0L)
        .otherwise(floor((col("ci") * 1000000L).cast("double")
          / col("cu").cast("double")).cast("long")).as("jacc_ppm"))
  }

  /** One-pass Misra-Gries candidate summary per group
    * ([[graft.functions.MisraGriesAgg]]): at most k (item, est) rows
    * per group, bounded O(k) state per group per partition regardless
    * of vocabulary. Survivor guarantee (preserved across any merge
    * tree): every item whose true in-group frequency exceeds
    * n_g/(k+1) is present. Estimates underestimate by at most
    * n_g/(k+1) — use [[heavyHittersExact]] when exact counts matter.
    */
  def mgCandidates(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame =
    mgCandidatesWithTotals(df, groupCol, valueCol, k)
      .select("g", "item", "est")

  /** [[mgCandidates]] with the group's TOTAL row count riding in the
    * same aggregation pass (`n` column) — candidates AND the
    * n_g/(k+1) threshold inputs from ONE scan, so the exact
    * heavy-hitter paths need two passes total, not three. */
  def mgCandidatesWithTotals(df: DataFrame, groupCol: String,
      valueCol: String, k: Int): DataFrame =
    df.groupBy(col(groupCol).as("g"))
      .agg(aggregate(graft.functions.MisraGriesAgg(
          expr(col(valueCol).cast("string")), k)).as("__mg"),
        count(lit(1)).as("n"))
      .select(col("g"), col("n"), explode(col("__mg")).as("c"))
      .select(col("g"), col("n"), col("c.item").as("item"),
        col("c.est").as("est"))

  /** Fold persisted per-shard Misra-Gries summaries — (g, item, est)
    * rows, <= k per (shard-scoped) group — into combined per-group
    * summaries via the WEIGHTED MG aggregate
    * ([[graft.functions.MisraGriesWeightedAgg]]): summaries of
    * summaries keep the survivor guarantee (Agarwal et al.,
    * PODS'12), so per-shard MG state is an AT-REST format foldable
    * at delta cost — the same incremental contract as the HLL
    * register tables, KMV bottom-k rows and quantile buckets. Shard
    * scoping lives in the caller's `g` values: fold shards of one
    * logical group by mapping them to the same `g` first. */
  def mgMerge(summaries: DataFrame, k: Int): DataFrame =
    summaries.groupBy(col("g"))
      .agg(aggregate(graft.functions.MisraGriesWeightedAgg(
        expr(col("item").cast("string")), expr(col("est").cast("long")), k))
        .as("__mg"))
      .select(col("g"), explode(col("__mg")).as("c"))
      .select(col("g"), col("c.item").as("item"), col("c.est").as("est"))

  /** EXACT heavy hitters — items with true count strictly above
    * n/(k+1) — in two bounded passes: a global Misra-Gries summary
    * (every qualifying item is guaranteed to survive it), then an
    * exact recount restricted to the <= k candidates (broadcast
    * semi-join: the second scan aggregates only candidate rows).
    * Versus the count-min path ([[countMinTable]]) this needs no
    * up-front candidate list and no fixed hash grid, and the output
    * is EXACT, not an overestimate — the price is the second scan.
    * Output: (item, cnt) sorted by cnt desc, item — deterministic
    * because the recount is exact. */
  def heavyHittersExact(df: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    val items = df.select(col(valueCol).cast("string").as(valueCol))
    // ONE pass for candidates + total (the threshold input), one
    // candidate-restricted recount — two scans total
    val withN = mgCandidatesWithTotals(
      items.withColumn("__g", lit(1)), "__g", valueCol, k)
      .select(col("item").as(valueCol), col("n"))
    items.join(broadcast(withN), valueCol)
      .groupBy(col(valueCol), col("n")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col(valueCol), col("cnt"))
      .orderBy(col("cnt").desc, col(valueCol))
  }

  /** [[heavyHittersExact]] PER GROUP: one bounded MG summary per
    * group (k counters each), per-group totals, per-group
    * thresholds — items with in-group count > n_g/(k+1), exact. The
    * candidate table is <= k rows per group, so the recount join
    * broadcasts as long as the group count is bounded; the totals
    * join is |groups| rows. */
  def heavyHittersExactGrouped(df: DataFrame, groupCol: String,
      valueCol: String, k: Int): DataFrame = {
    val items = df.select(col(groupCol).cast("string").as(groupCol),
      col(valueCol).cast("string").as(valueCol))
    // candidates AND per-group totals from ONE pass; the recount join
    // carries the total alongside each candidate row
    val withN = mgCandidatesWithTotals(items, groupCol, valueCol, k)
      .select(col("g").as(groupCol), col("item").as(valueCol), col("n"))
    items.join(broadcast(withN), Seq(groupCol, valueCol))
      .groupBy(col(groupCol), col(valueCol), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col(groupCol), col(valueCol), col("cnt"))
      .orderBy(col(groupCol), col("cnt").desc, col(valueCol))
  }
}
