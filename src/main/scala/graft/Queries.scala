package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.io.Memo
import graft.pipeline.Similarity
import graft.ml.{FrequencyDiscretizer, InfoThSelector, InfoThSelectorModel}

/**
 * Oracle-checked query surface over the driver's lineitem table.
 *
 * Shared feature definition (both sides compute it identically):
 *   feature 0 = CAST(l_quantity AS INT)            (1..50)
 *   feature 1 = CAST(ROUND(l_discount*100) AS INT) (0..10)
 *   feature 2 = CAST(ROUND(l_tax*100) AS INT)      (0..8)
 *   feature 3 = l_linenumber                       (1..7)
 *   label (col 4) = returnflag index A->0, N->1, R->2
 *
 * The Spark side of each query runs the ENGINE kernels (columnar
 * transpose -> histogram mapPartitions -> MI/CMI math), then emits a
 * long-form DataFrame; the oracle recomputes the same quantity in plain
 * SQL. This validates the distributed implementation itself, not merely
 * Spark SQL vs DuckDB SQL. Float outputs are rounded to 6 decimals on
 * both sides.
 */
object Queries {

  // ---- shared SQL fragments (DuckDB oracle side) ----

  private val ySql =
    "CASE WHEN l_returnflag='A' THEN 0 WHEN l_returnflag='N' THEN 1 ELSE 2 END"

  private val featureExprs = Seq(
    0 -> "CAST(l_quantity AS INTEGER)",
    1 -> "CAST(ROUND(l_discount*100) AS INTEGER)",
    2 -> "CAST(ROUND(l_tax*100) AS INTEGER)",
    3 -> "l_linenumber")

  /** Long form (feature, x, y=label) for features 0..3. */
  private val featsCte = featureExprs.map { case (i, e) =>
    s"SELECT $i AS feature, $e AS x, $ySql AS y FROM lineitem"
  }.mkString(" UNION ALL ")

  /** Long form including the label itself as column 4 (x = label). */
  private val featsWithLabelCte =
    featsCte + s" UNION ALL SELECT 4 AS feature, $ySql AS x, 0 AS y FROM lineitem"

  /** Long form (feature, x, y=f0, z=label) for features 1..3. */
  private val feats3dCte = featureExprs.drop(1).map { case (i, e) =>
    s"SELECT $i AS feature, $e AS x, CAST(l_quantity AS INTEGER) AS y, $ySql AS z FROM lineitem"
  }.mkString(" UNION ALL ")

  // ---- Spark-side shared state ----

  /** Columnar working sets per (session, dir, shape) — queries share
    * one transpose per shape within a Verify/Bench run. Built once
    * ([[Memo.once]]), so two concurrent first calls can't each persist
    * a copy; [[clearCache]] unpersists them (called when a Verify/Bench
    * run finishes). */
  private def workingSet(spark: SparkSession, dir: String, shape: String)(
      build: => ColumnarData): ColumnarData =
    Memo.once(("columnar", spark, dir, shape),
      (c: ColumnarData) => c.unpersist())(build)

  private[graft] def columnar(spark: SparkSession, dir: String): ColumnarData =
    workingSet(spark, dir, "lineitem") {
      Columnar.fromIntColumns(SparkEntry.lineitemFeatures(spark, dir),
        Seq("f0", "f1", "f2", "f3"), "label")
    }

  /** Unpersists every shared working set ([[Memo.clear]]) and the
    * frames [[Similarity]] retains. On-disk fixtures stay built. */
  private[graft] def clearCache(): Unit = {
    Memo.clear()
    Similarity.releaseRetained()
  }

  private def r6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- queries ----

  /** A3: 2-D contingency tables (engine kernel), long form, nonzero cells. */
  def hist2d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    Histograms.histogram2D(col)
      .flatMap { case (f, h) =>
        for {
          x <- 0 until h.xs; y <- 0 until h.ys
          c = h(x, y) if c > 0
        } yield (f, x, y, c)
      }
      .toDF("feature", "x", "y", "cnt")
      .orderBy("feature", "x", "y")
  }

  val hist2dSql: String =
    s"""WITH feats AS ($featsCte)
       |SELECT feature, x, y, COUNT(*) AS cnt FROM feats
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** A5: 3-D contingency tables (x vs y=f0, z=label), nonzero cells. */
  def hist3d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    Histograms.histogram3D(col, 0)
      .flatMap { case (f, h) =>
        for {
          x <- 0 until h.xs; y <- 0 until h.ys; z <- 0 until h.zs
          c = h(x, y, z) if c > 0
        } yield (f, x, y, z, c)
      }
      .toDF("feature", "x", "y", "z", "cnt")
      .orderBy("feature", "x", "y", "z")
  }

  val hist3dSql: String =
    s"""WITH feats AS ($feats3dCte)
       |SELECT feature, x, y, z, COUNT(*) AS cnt FROM feats
       |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin

  /** A7: marginal probability tables p(x) per feature (incl. label col),
    * from ONE distributed frequency job (no per-column driver collects). */
  def margin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    val n = col.nInstances
    val rows = Histograms.frequenciesByFeature(col).toSeq.flatMap {
      case (f, freq) =>
        freq.zipWithIndex.collect { case (c, x) if c > 0 =>
          (f, x, r6(c.toDouble / n))
        }
    }
    rows.toDF("feature", "x", "p").orderBy("feature", "x")
  }

  val marginSql: String =
    s"""WITH feats AS ($featsWithLabelCte)
       |SELECT feature, x,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem), 6) AS p
       |FROM feats GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A7: joint probability tables p(x, y=label) per feature. */
  def joint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    val n = col.nInstances
    Histograms.histogram2D(col)
      .flatMap { case (f, h) =>
        for {
          x <- 0 until h.xs; y <- 0 until h.ys
          c = h(x, y) if c > 0
        } yield (f, x, y, r6(c.toDouble / n))
      }
      .toDF("feature", "x", "y", "p")
      .orderBy("feature", "x", "y")
  }

  val jointSql: String =
    s"""WITH feats AS ($featsCte)
       |SELECT feature, x, y,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem), 6) AS p
       |FROM feats GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** A8: relevance I(Xf; Y) per feature from the engine's 2-D kernel. */
  def mi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    val n = col.nInstances
    Histograms.histogram2D(col)
      .map { case (f, h) => (f, r6(InfoTheory.mutualInfo(h, n))) }
      .toDF("feature", "mi")
      .orderBy("feature")
  }

  val miSql: String =
    s"""WITH feats AS ($featsCte),
       |h AS (SELECT feature, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy
       |      FROM h)
       |SELECT feature,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))), 6) AS mi
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** A9: fused (mi, cmi) per feature vs y=f0 conditioned on z=label,
    * from the engine's 3-D kernel — the per-round greedy computation. */
  def micmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    val n = col.nInstances
    Histograms.histogram3D(col, 0)
      .map { case (f, h) =>
        val (m, c) = InfoTheory.miAndCmi(h, n)
        (f, r6(m), r6(c))
      }
      .toDF("feature", "mi", "cmi")
      .orderBy("feature")
  }

  val micmiSql: String =
    s"""WITH feats AS ($feats3dCte),
       |h AS (SELECT feature, x, y, z, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3, 4),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy,
       |        SUM(cnt) OVER (PARTITION BY feature, x, y) AS cxy,
       |        SUM(cnt) OVER (PARTITION BY feature, z) AS cz,
       |        SUM(cnt) OVER (PARTITION BY feature, x, z) AS cxz,
       |        SUM(cnt) OVER (PARTITION BY feature, y, z) AS cyz
       |      FROM h)
       |SELECT feature,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cxy AS DOUBLE)*n/(cx*cy))), 6) AS mi,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cz AS DOUBLE)*cnt/(CAST(cxz AS DOUBLE)*cyz))), 6) AS cmi
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** A12: per-column entropy H(Xf) (incl. the label column), from ONE
    * distributed frequency job. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    val n = col.nInstances
    Histograms.frequenciesByFeature(col).toSeq.map { case (f, freq) =>
      (f, r6(InfoTheory.entropy(freq, n)))
    }.toDF("feature", "h").orderBy("feature")
  }

  val entropySql: String =
    s"""WITH feats AS ($featsWithLabelCte),
       |h AS (SELECT feature, x, COUNT(*) AS cnt FROM feats GROUP BY 1, 2),
       |w AS (SELECT feature, cnt, SUM(cnt) OVER (PARTITION BY feature) AS n FROM h)
       |SELECT feature,
       |  ROUND(SUM(-(CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)/n)), 6) AS h
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** A1: per-column cardinality (max value + 1), engine pre-pass. */
  def cardinality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = columnar(spark, dir)
    col.cardinality.zipWithIndex.map { case (c, f) => (f, c) }
      .toSeq.toDF("feature", "card").orderBy("feature")
  }

  val cardinalitySql: String =
    s"""WITH feats AS ($featsWithLabelCte)
       |SELECT feature, MAX(x) + 1 AS card FROM feats
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** O2 + I1(MIM): top-2 features by relevance — full MIM selection over
    * the shared cached columnar set. */
  def selectorMim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val selected = InfoThSelector.select(columnar(spark, dir), "mim", 2, 0.0)
    selected.toSeq.map { case (f, s) => (f, r6(s)) }
      .toDF("feature", "score")
  }

  val selectorMimSql: String =
    s"""WITH feats AS ($featsCte),
       |h AS (SELECT feature, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy
       |      FROM h),
       |m AS (SELECT feature,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM w GROUP BY 1)
       |SELECT feature, ROUND(mi, 6) AS score FROM m
       |ORDER BY mi DESC, feature LIMIT 2""".stripMargin

  /** Unrolled 3-round greedy mRMR in SQL: pairwise MI over all feature
    * pairs (incl. the label), then per round
    * score(f) = rel(f) - mean(mi(f, s) for s selected), argmax with the
    * same (score desc, index asc) tie-break as the engine. */
  val selectorMrmrSql: String = {
    val exprs = featureExprs.map { case (i, e) => i -> e } :+ (4 -> ySql)
    val pairsCte = (for {
      (i, ei) <- exprs; (j, ej) <- exprs if i < j
    } yield s"SELECT $i AS fa, $j AS fb, $ei AS x, $ej AS y FROM lineitem")
      .mkString(" UNION ALL ")
    s"""WITH pr AS ($pairsCte),
       |h AS (SELECT fa, fb, x, y, COUNT(*) AS cnt FROM pr GROUP BY 1, 2, 3, 4),
       |w AS (SELECT fa, fb, cnt,
       |        SUM(cnt) OVER (PARTITION BY fa, fb) AS n,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, y) AS cy
       |      FROM h),
       |m AS (SELECT fa, fb,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM w GROUP BY 1, 2),
       |pmi AS MATERIALIZED (SELECT fa, fb, mi FROM m UNION ALL SELECT fb, fa, mi FROM m),
       |rel AS MATERIALIZED (SELECT fa AS f, mi FROM pmi WHERE fb = 4),
       |r1 AS MATERIALIZED (SELECT f, mi AS score FROM rel ORDER BY score DESC, f LIMIT 1),
       |r2 AS (SELECT rel.f, rel.mi - p1.mi AS score
       |       FROM rel JOIN pmi p1 ON p1.fa = rel.f AND p1.fb = (SELECT f FROM r1)
       |       WHERE rel.f NOT IN (SELECT f FROM r1)
       |       ORDER BY score DESC, rel.f LIMIT 1),
       |r3 AS (SELECT rel.f, rel.mi - (p1.mi + p2.mi) / 2 AS score
       |       FROM rel
       |       JOIN pmi p1 ON p1.fa = rel.f AND p1.fb = (SELECT f FROM r1)
       |       JOIN pmi p2 ON p2.fa = rel.f AND p2.fb = (SELECT f FROM r2)
       |       WHERE rel.f NOT IN (SELECT f FROM r1 UNION ALL SELECT f FROM r2)
       |       ORDER BY score DESC, rel.f LIMIT 1)
       |SELECT * FROM (
       |  SELECT 1 AS round, f AS feature, ROUND(score, 6) AS score FROM r1
       |  UNION ALL SELECT 2, f, ROUND(score, 6) FROM r2
       |  UNION ALL SELECT 3, f, ROUND(score, 6) FROM r3)
       |ORDER BY round""".stripMargin
  }

  /** Spark side of a 3-round greedy selection: the loop under any
    * criterion, emitting each round's (feature, score-at-selection). */
  private def selectorPath(crit: String, beta: Double = 0.0)(
      spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val selected = InfoThSelector.select(columnar(spark, dir), crit, 3, beta)
    selected.zipWithIndex.map { case ((f, s), i) => (i + 1, f, r6(s)) }
      .toSeq.toDF("round", "feature", "score")
  }

  /** Shared CTE prefix for the unrolled greedy oracles: pairwise
    * (mi, cmi) for every ordered feature pair (`mc`), plus per-feature
    * relevance vs the label (`rel`). */
  private val greedyCtes: String = {
    val exprs = featureExprs
    val pairs3Cte = (for {
      (i, ei) <- exprs; (j, ej) <- exprs if i != j
    } yield s"SELECT $i AS fa, $j AS fb, $ei AS x, $ej AS y, $ySql AS z FROM lineitem")
      .mkString(" UNION ALL ")
    val relCte = exprs.map { case (i, e) =>
      s"SELECT $i AS f, $e AS x, $ySql AS y FROM lineitem"
    }.mkString(" UNION ALL ")
    s"""pr AS ($pairs3Cte),
       |h AS (SELECT fa, fb, x, y, z, COUNT(*) AS cnt FROM pr GROUP BY 1, 2, 3, 4, 5),
       |w AS (SELECT fa, fb, cnt,
       |        SUM(cnt) OVER (PARTITION BY fa, fb) AS n,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, y) AS cy,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, x, y) AS cxy,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, z) AS cz,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, x, z) AS cxz,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, y, z) AS cyz
       |      FROM h),
       |mc AS MATERIALIZED (SELECT fa, fb,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cxy AS DOUBLE)*n/(cx*cy))) AS mi,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cz AS DOUBLE)*cnt/(CAST(cxz AS DOUBLE)*cyz))) AS cmi
       |      FROM w GROUP BY 1, 2),
       |rf AS ($relCte),
       |rh AS (SELECT f, x, y, COUNT(*) AS cnt FROM rf GROUP BY 1, 2, 3),
       |rw AS (SELECT f, cnt,
       |        SUM(cnt) OVER (PARTITION BY f) AS n,
       |        SUM(cnt) OVER (PARTITION BY f, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY f, y) AS cy
       |      FROM rh),
       |rel AS MATERIALIZED (SELECT f,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM rw GROUP BY 1)""".stripMargin
  }

  /** Unrolled 3-round greedy oracle for one criterion: `score2`/`score3`
    * are the round-2/3 score expressions over rel.mi and the selected
    * features' p1/p2 (mi, cmi) rows — exactly the criterion's fold. */
  private def greedyOracleSql(score2: String, score3: String): String =
    s"""WITH $greedyCtes,
       |r1 AS MATERIALIZED (SELECT f, mi AS score FROM rel ORDER BY score DESC, f LIMIT 1),
       |r2 AS MATERIALIZED (SELECT rel.f, $score2 AS score
       |       FROM rel JOIN mc p1 ON p1.fa = rel.f AND p1.fb = (SELECT f FROM r1)
       |       WHERE rel.f NOT IN (SELECT f FROM r1)
       |       ORDER BY score DESC, rel.f LIMIT 1),
       |r3 AS (SELECT rel.f, $score3 AS score
       |       FROM rel
       |       JOIN mc p1 ON p1.fa = rel.f AND p1.fb = (SELECT f FROM r1)
       |       JOIN mc p2 ON p2.fa = rel.f AND p2.fb = (SELECT f FROM r2)
       |       WHERE rel.f NOT IN (SELECT f FROM r1 UNION ALL SELECT f FROM r2)
       |       ORDER BY score DESC, rel.f LIMIT 1)
       |SELECT * FROM (
       |  SELECT 1 AS round, f AS feature, ROUND(score, 6) AS score FROM r1
       |  UNION ALL SELECT 2, f, ROUND(score, 6) FROM r2
       |  UNION ALL SELECT 3, f, ROUND(score, 6) FROM r3)
       |ORDER BY round""".stripMargin

  /** I1 + A9 + §2.11: the greedy loop under every remaining criterion
    * (MIM's short-circuit and mRMR's loop are covered separately).
    * JMI folds BOTH kernel outputs (rel - (sum mi - sum cmi)/k), so its
    * row certifies the conditional-mutual-information path; CMIM/IF
    * fold a running max, ICAP a capped sum, MIFS a beta-weighted sum. */
  val selectorJmiSql: String = greedyOracleSql(
    "rel.mi - (p1.mi - p1.cmi)",
    "rel.mi - ((p1.mi + p2.mi) - (p1.cmi + p2.cmi)) / 2")

  val selectorMifsSql: String = greedyOracleSql(
    "rel.mi - 0.5 * p1.mi",
    "rel.mi - 0.5 * (p1.mi + p2.mi)")

  val selectorCmimSql: String = greedyOracleSql(
    "rel.mi - GREATEST(p1.mi - p1.cmi, 0)",
    "rel.mi - GREATEST(p1.mi - p1.cmi, p2.mi - p2.cmi, 0)")

  val selectorIcapSql: String = greedyOracleSql(
    "rel.mi - GREATEST(p1.mi - p1.cmi, 0)",
    "rel.mi - (GREATEST(p1.mi - p1.cmi, 0) + GREATEST(p2.mi - p2.cmi, 0))")

  /** Wide-feature working set: 32 deterministic hash-derived byte
    * features over lineitem — exercises the histogram kernels at a
    * realistic feature count (the reference's benchmark datasets have
    * hundreds of features, not 4). Shared per session/dir. */
  private val WideN = 32
  private def wideFeatureExpr(i: Int): String =
    s"(l_orderkey * ${Dedup_A(i)} + l_partkey * ${Dedup_B(i)} + l_linenumber) % 64"
  // reuse the public deterministic constant families
  private def Dedup_A(i: Int) =
    graft.pipeline.Dedup.MinhashA(i % 16) + i / 16
  private def Dedup_B(i: Int) =
    graft.pipeline.Dedup.MinhashB(i % 16) + i / 16

  private[graft] def wideColumnar(spark: SparkSession, dir: String): ColumnarData =
    workingSet(spark, dir, "wide") {
      // repartition the RAW source before projecting: the 32 feature
      // expressions then evaluate across all cores (and the shuffle
      // ships 4 narrow columns, not 33 computed ones)
      val li = Tables.read(spark, dir, "lineitem")
        .repartition(spark.sparkContext.defaultParallelism)
      val cols = (0 until WideN).map(i =>
        expr(wideFeatureExpr(i)).cast("int").as(s"w$i"))
      val df = li.select(cols :+
        (when(col("l_returnflag") === "A", 0)
          .when(col("l_returnflag") === "N", 1)
          .otherwise(2)).cast("int").as("label"): _*)
      Columnar.fromIntColumns(df, (0 until WideN).map(i => s"w$i"), "label")
    }

  /** O2 at width: MIM top-8 over the 32 wide features — the full
    * relevance pass (32 contingency tables in one distributed job). */
  def selectorMimWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val selected = InfoThSelector.select(wideColumnar(spark, dir), "mim", 8, 0.0)
    selected.toSeq.map { case (f, s) => (f, r6(s)) }
      .toDF("feature", "score")
  }

  val selectorMimWideSql: String = {
    val featsCte = (0 until WideN).map { i =>
      s"SELECT $i AS feature, ${wideFeatureExpr(i)} AS x, $ySql AS y FROM lineitem"
    }.mkString(" UNION ALL ")
    s"""WITH feats AS ($featsCte),
       |h AS (SELECT feature, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy
       |      FROM h),
       |m AS (SELECT feature,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM w GROUP BY 1)
       |SELECT feature, ROUND(mi, 6) AS score FROM m
       |ORDER BY mi DESC, feature LIMIT 8""".stripMargin
  }

  // ---- sparse end-to-end (SparseBlock kernels against the oracle) ----

  /** Deterministic ~12%-dense feature j over lineitem: nonzero only on
    * rows with (orderkey + j*linenumber) % 8 == 0. The SAME SQL text
    * evaluates on both engines, so the sparse kernels are oracle-checked
    * end-to-end (implicit-zero patching included). */
  private def sparseFeatExpr(j: Int): String =
    s"CASE WHEN (l_orderkey + $j * l_linenumber) % 8 = 0 " +
      "THEN 1 + (CAST(l_quantity AS INTEGER) % 8) ELSE 0 END"

  private val SparseN = 8

  /** Columnar set built through the SPARSE path: rows become ml
    * SparseVectors, so the transpose packs [[graft.core.SparseBlock]]s
    * and every downstream kernel runs the implicit-zero branch. */
  private[graft] def sparseColumnar(spark: SparkSession, dir: String): ColumnarData =
    workingSet(spark, dir, "sparse") {
      import org.apache.spark.ml.linalg.{Vectors, Vector => MlVector}
      val li = Tables.read(spark, dir, "lineitem")
        .repartition(spark.sparkContext.defaultParallelism)
      val cols = (0 until SparseN).map(j => expr(sparseFeatExpr(j)).cast("double"))
      val toSparseVec = udf { a: Seq[Double] =>
        Vectors.dense(a.toArray).toSparse: MlVector
      }
      val df = li.select(expr(ySql).cast("double").as("label"),
        toSparseVec(array(cols: _*)).as("features"))
      Columnar.fromLabeledDf(df)
    }

  /** A3/A4 sparse: 2-D contingency tables through the SparseBlock kernel
    * (nonzero cells, long form) — the end-to-end certification of the
    * implicit-zero path. */
  def sparseHist2d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = sparseColumnar(spark, dir)
    Histograms.histogram2D(col)
      .flatMap { case (f, h) =>
        for {
          x <- 0 until h.xs; y <- 0 until h.ys
          c = h(x, y) if c > 0
        } yield (f, x, y, c)
      }
      .toDF("feature", "x", "y", "cnt")
      .orderBy("feature", "x", "y")
  }

  private val sparseFeatsCte = (0 until SparseN).map { j =>
    s"SELECT $j AS feature, ${sparseFeatExpr(j)} AS x, $ySql AS y FROM lineitem"
  }.mkString(" UNION ALL ")

  val sparseHist2dSql: String =
    s"""WITH feats AS ($sparseFeatsCte)
       |SELECT feature, x, y, COUNT(*) AS cnt FROM feats
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** O2 sparse: MIM top-4 over the sparse columnar set — relevance
    * kernel through SparseBlocks, greedy short-circuit on top. */
  def sparseSelectorMim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val selected = InfoThSelector.select(sparseColumnar(spark, dir), "mim", 4, 0.0)
    selected.toSeq.map { case (f, s) => (f, r6(s)) }
      .toDF("feature", "score")
  }

  val sparseSelectorMimSql: String =
    s"""WITH feats AS ($sparseFeatsCte),
       |h AS (SELECT feature, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy
       |      FROM h),
       |m AS (SELECT feature,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM w GROUP BY 1)
       |SELECT feature, ROUND(mi, 6) AS score FROM m
       |ORDER BY mi DESC, feature LIMIT 4""".stripMargin

  /** A6 sparse + A9: fused (mi, cmi) per sparse feature vs y = sparse
    * feature 0 conditioned on z = label — drives the 3-D SPARSE kernel
    * (implicit-zero yz patching, partition-local sparse y densify)
    * end-to-end against the oracle. */
  def sparseMicmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val col = sparseColumnar(spark, dir)
    val n = col.nInstances
    Histograms.histogram3D(col, 0)
      .map { case (f, h) =>
        val (m, c) = InfoTheory.miAndCmi(h, n)
        (f, r6(m), r6(c))
      }
      .toDF("feature", "mi", "cmi")
      .orderBy("feature")
  }

  val sparseMicmiSql: String = {
    val feats = (1 until SparseN).map { j =>
      s"SELECT $j AS feature, ${sparseFeatExpr(j)} AS x, " +
        s"${sparseFeatExpr(0)} AS y, $ySql AS z FROM lineitem"
    }.mkString(" UNION ALL ")
    s"""WITH feats AS ($feats),
       |h AS (SELECT feature, x, y, z, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3, 4),
       |w AS (SELECT feature, cnt,
       |        SUM(cnt) OVER (PARTITION BY feature) AS n,
       |        SUM(cnt) OVER (PARTITION BY feature, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY feature, y) AS cy,
       |        SUM(cnt) OVER (PARTITION BY feature, x, y) AS cxy,
       |        SUM(cnt) OVER (PARTITION BY feature, z) AS cz,
       |        SUM(cnt) OVER (PARTITION BY feature, x, z) AS cxz,
       |        SUM(cnt) OVER (PARTITION BY feature, y, z) AS cyz
       |      FROM h)
       |SELECT feature,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cxy AS DOUBLE)*n/(cx*cy))), 6) AS mi,
       |  ROUND(SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cz AS DOUBLE)*cnt/(CAST(cxz AS DOUBLE)*cyz))), 6) AS cmi
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** I1 at width: greedy mRMR k=5 over the 32 wide features —
    * 4 2-D round passes at realistic width, oracle-checked. */
  def selectorMrmrWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val selected = InfoThSelector.select(wideColumnar(spark, dir), "mrmr", 5, 0.0)
    selected.zipWithIndex.map { case ((f, s), i) => (i + 1, f, r6(s)) }
      .toSeq.toDF("round", "feature", "score")
  }

  /** Unrolled greedy mRMR oracle AT WIDTH (32 features, k=5). A
    * per-pair UNION ALL over lineitem (the 4-feature generator's shape)
    * would scan lineitem 992 times, and a self-join needs a unique row
    * key the synthetic lineitem does not have ((l_orderkey,
    * l_linenumber) repeats); instead lineitem is scanned ONCE into a
    * MATERIALIZED 32-column wide CTE, and the 496 unordered pairs
    * select from that in-memory table — and mRMR needs only pairwise MI
    * (no z), so the pair table groups to <= 496 x 64 x 64 cells before
    * any window. Rounds 2..5 are generated: round t scores
    * rel.mi - (sum of MI with the t-1 selected) / (t-1), ties -> lowest
    * feature id, exactly the engine's fold. */
  val selectorMrmrWideSql: String = {
    val wideCols = (0 until WideN).map(i =>
      s"${wideFeatureExpr(i)} AS w$i").mkString(", ")
    val pairCte = (for {
      i <- 0 until WideN; j <- (i + 1) until WideN
    } yield s"SELECT $i AS fa, $j AS fb, w$i AS x, w$j AS y FROM wide")
      .mkString(" UNION ALL ")
    val featsCte = (0 until WideN).map(i =>
      s"SELECT $i AS f, w$i AS x, yy AS y FROM wide").mkString(" UNION ALL ")
    val rounds = (2 to 5).map { t =>
      val joins = (1 until t).map(s =>
        s"JOIN pmi p$s ON p$s.fa = rel.f AND p$s.fb = (SELECT f FROM r$s)")
        .mkString("\n       ")
      val excl = (1 until t).map(s => s"SELECT f FROM r$s").mkString(" UNION ALL ")
      val sums = (1 until t).map(s => s"p$s.mi").mkString(" + ")
      val score = if (t == 2) s"rel.mi - $sums"
      else s"rel.mi - ($sums) / ${t - 1}"
      s"""r$t AS MATERIALIZED (SELECT rel.f, $score AS score
         |       FROM rel
         |       $joins
         |       WHERE rel.f NOT IN ($excl)
         |       ORDER BY score DESC, rel.f LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (2 to 5).map(t =>
      s"UNION ALL SELECT $t, f, ROUND(score, 6) FROM r$t").mkString("\n  ")
    s"""WITH wide AS MATERIALIZED (
       |  SELECT $wideCols, $ySql AS yy FROM lineitem),
       |pr AS ($pairCte),
       |feats AS ($featsCte),
       |h AS (SELECT fa, fb, x, y, COUNT(*) AS cnt FROM pr GROUP BY 1, 2, 3, 4),
       |w AS (SELECT fa, fb, cnt,
       |        SUM(cnt) OVER (PARTITION BY fa, fb) AS n,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY fa, fb, y) AS cy
       |      FROM h),
       |m AS (SELECT fa, fb,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM w GROUP BY 1, 2),
       |pmi AS MATERIALIZED (SELECT fa, fb, mi FROM m UNION ALL SELECT fb, fa, mi FROM m),
       |rh AS (SELECT f, x, y, COUNT(*) AS cnt FROM feats GROUP BY 1, 2, 3),
       |rw AS (SELECT f, cnt,
       |        SUM(cnt) OVER (PARTITION BY f) AS n,
       |        SUM(cnt) OVER (PARTITION BY f, x) AS cx,
       |        SUM(cnt) OVER (PARTITION BY f, y) AS cy
       |      FROM rh),
       |rel AS MATERIALIZED (SELECT f,
       |        SUM((CAST(cnt AS DOUBLE)/n) * LOG2(CAST(cnt AS DOUBLE)*n/(cx*cy))) AS mi
       |      FROM rw GROUP BY 1),
       |r1 AS MATERIALIZED (SELECT f, mi AS score FROM rel ORDER BY score DESC, f LIMIT 1),
       |$rounds
       |SELECT * FROM (
       |  SELECT 1 AS round, f AS feature, ROUND(score, 6) AS score FROM r1
       |  $out)
       |ORDER BY round""".stripMargin
  }

  /** P1: vector gather through the model transform (fixed indices 0, 2),
    * keyed by (orderkey, linenumber) for deterministic compare. */
  def transformGather(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.functions.vector_to_array
    val model = new InfoThSelectorModel("gather", Array(0, 2),
      Array((0, 0.0), (2, 0.0)))
    val df = SparkEntry.assembledWithKey(spark, dir)
    model.setFeaturesCol("features").setOutputCol("sel")
    model.transform(df)
      .select($"l_orderkey", $"l_linenumber",
        vector_to_array($"sel").getItem(0).cast("int").as("s0"),
        vector_to_array($"sel").getItem(1).cast("int").as("s1"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val transformGatherSql: String =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(l_quantity AS INTEGER) AS s0,
       |  CAST(ROUND(l_tax*100) AS INTEGER) AS s1
       |FROM lineitem ORDER BY 1, 2""".stripMargin

  /** D1-D5: equal-frequency discretizer on f0 (quantity). numBuckets=245
    * makes the sample the full table at sf<=0.01 and puts quantity's ~50
    * distinct values on the few-distincts branch, where splits = all
    * distinct values and bucket(x) = dense rank of x. */
  def discretize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val raw = Tables.read(spark, dir, "lineitem")
      .select(col("l_quantity").cast("double").as("q"))
    // The vector frame is consumed three times (fit's count, fit's
    // sample-and-search job, the transform) — persist it for the query's
    // lifetime, and assemble via the codegen'd `array_to_vector`
    // instead of a Dataset.map (which deserialized every row through
    // a Scala closure — the q_discretize row's hottest stage in the
    // r18 profile); materialize the (tiny) result with an eager
    // localCheckpoint so the cache can be released before returning.
    import org.apache.spark.ml.functions.array_to_vector
    val df = raw
      .select(array_to_vector(array(col("q"))).as("features"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = new FrequencyDiscretizer().setNumBuckets(245).setSeed(42)
        .setInputCol("features").setOutputCol("disc").fit(df)
      // The dense-rank oracle is only valid on the few-distincts branch
      // with EVERY distinct value present in the sample (at sf<=0.01 the
      // sample is the full table). If a larger sf ever makes the Bernoulli
      // sample miss a value, fail loudly instead of hash-diverging. (The
      // check scans the narrow raw column — codegen'd, no vector UDT.)
      val nDistinct = raw.agg(count_distinct(col("q"))).head().getLong(0)
      require(model.splitsArray(0).length == nDistinct + 2,
        s"discretize oracle invalidated: sample covered " +
          s"${model.splitsArray(0).length - 2} of $nDistinct distinct values")
      import org.apache.spark.ml.functions.vector_to_array
      model.transform(df)
        .select(vector_to_array(col("features")).getItem(0).cast("int").as("x"),
          vector_to_array(col("disc")).getItem(0).cast("double").as("bucket"))
        .distinct()
        .orderBy("x")
        .localCheckpoint(true)
    } finally df.unpersist(blocking = false)
  }

  val discretizeSql: String =
    s"""WITH v AS (SELECT DISTINCT CAST(l_quantity AS INTEGER) AS x FROM lineitem)
       |SELECT x, CAST(DENSE_RANK() OVER (ORDER BY x) AS DOUBLE) AS bucket
       |FROM v ORDER BY x""".stripMargin

  /** A11: instance count. */
  def countInstances(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(columnar(spark, dir).nInstances).toDF("n")
  }

  val countInstancesSql: String = "SELECT COUNT(*) AS n FROM lineitem"

  /** Exact per-group percentiles (p25/p50/p75 of extendedprice by
    * returnflag) — the analytics staple the discretizer's split search
    * generalizes. Exact percentile sorts within each group; at 100 TB
    * swap in `approx_percentile` (Greenwald-Khanna) — same call shape,
    * bounded memory, no sort. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("q25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("q50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 6).as("q75"))
      .orderBy("l_returnflag")

  val quantilesSql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
      |  ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
      |  ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS q75
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared oracle for the io round-trips: per-label row count and
    * per-feature sums over the lineitem feature table. */
  private val ioAggSql: String =
    s"""SELECT $ySql AS label, COUNT(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS INTEGER)) AS BIGINT) AS s0,
       |  CAST(SUM(CAST(ROUND(l_discount*100) AS INTEGER)) AS BIGINT) AS s1,
       |  CAST(SUM(CAST(ROUND(l_tax*100) AS INTEGER)) AS BIGINT) AS s2,
       |  CAST(SUM(l_linenumber) AS BIGINT) AS s3
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private def ioAgg(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val a = vector_to_array(col("features"))
    df.select(col("label").cast("int").as("label"),
        a.getItem(0).as("f0"), a.getItem(1).as("f1"),
        a.getItem(2).as("f2"), a.getItem(3).as("f3"))
      .groupBy("label")
      .agg(count("*").as("n"),
        sum("f0").cast("long").as("s0"), sum("f1").cast("long").as("s1"),
        sum("f2").cast("long").as("s2"), sum("f3").cast("long").as("s3"))
      .orderBy("label")
  }

  /** S2: LibSVM source round-trip — lineitem features written as LibSVM
    * text (zeros omitted, 1-based indices), re-read through Spark's
    * distributed libsvm relation, aggregated per label. The oracle
    * recomputes the aggregate from the original parquet, so any
    * formatting/parsing/implicit-zero defect breaks the match. */
  def libsvmRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/libsvm-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.io.LibSvm.write(SparkEntry.assembled(spark, dir), path)
    ioAgg(spark, graft.io.LibSvm.read(spark, path, 4))
  }

  /** S1: KEEL source round-trip — features + nominal class written in
    * KEEL format (header `@attribute` lines, comma rows, nominal label
    * mapped by value-list position), read back through [[graft.io.KeelReader]],
    * aggregated per label, checked against the parquet oracle. */
  def keelRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/keel-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val li = Tables.read(spark, dir, "lineitem")
    li.select(concat_ws(",",
        col("l_quantity").cast("int"),
        round(col("l_discount") * 100).cast("int"),
        round(col("l_tax") * 100).cast("int"),
        col("l_linenumber").cast("int"),
        col("l_returnflag")).as("value"))
      .write.mode("overwrite").text(path)
    val header = Seq(
      "@relation lineitem",
      "@attribute f0 integer [0, 255]",
      "@attribute f1 integer [0, 255]",
      "@attribute f2 integer [0, 255]",
      "@attribute f3 integer [0, 255]",
      "@attribute class {A, N, R}",
      "@data")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "zz-header.keel"),
      header.mkString("\n").getBytes("UTF-8"))
    ioAgg(spark, graft.io.KeelReader.read(spark, path))
  }

  val ioRoundtripSql: String = ioAggSql

  /** Columns profiled by [[profile]] — lineitem's numeric surface. */
  private val profileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Data profiling: per-column row/non-null/distinct counts and
    * min/max in ONE table scan — melt the columns with `stack` (a
    * narrow 8× row expansion, no Expand operator) and aggregate the
    * long (column, value) stream with partial aggregation, so the
    * whole profile is a single shuffle keyed by column name. Exact
    * `count_distinct` here because the DuckDB oracle must match
    * bit-for-bit; at 100 TB swap in `approx_count_distinct` — same
    * plan shape, HLL-sketch-bounded memory (documented in SCALING.md). */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, dir, "lineitem")
    val stackArgs = profileCols
      .map(c => s"'$c', cast($c as double)").mkString(", ")
    li.select(expr(s"stack(${profileCols.length}, $stackArgs) as (column_name, v)"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
        count_distinct(col("v")).as("n_distinct"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("column_name")
  }

  val profileSql: String = {
    val union = profileCols.map(c =>
      s"SELECT '$c' AS column_name, CAST($c AS DOUBLE) AS v FROM lineitem")
      .mkString("\n  UNION ALL ")
    s"""WITH m AS (
       |  $union)
       |SELECT column_name, COUNT(*) AS n_rows, COUNT(v) AS n_nonnull,
       |  COUNT(DISTINCT v) AS n_distinct, MIN(v) AS min_v, MAX(v) AS max_v
       |FROM m GROUP BY column_name ORDER BY column_name""".stripMargin
  }

  /** Bucketed co-located join: lineitem and orders written as
    * 8-bucket tables hashed on the order key (`bucketBy` + `sortBy`),
    * then joined WITHOUT a shuffle on either side — the bucketed scan's
    * HashPartitioning satisfies the join's distribution requirement, so
    * the plan is scan→sort-merge-join with no Exchange before the join
    * (asserted mechanically in BucketedJoinSpec). This is THE 100 TB
    * pattern for repeated fact-to-fact joins: pay the partitioning once
    * at write time, join shuffle-free forever after. The checked output
    * avoids float-sum nondeterminism (quantities are integer-valued). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"target/tmp/bucketed-$tag"
    val liT = s"graft_bkt_lineitem_$tag"
    val ordT = s"graft_bkt_orders_$tag"
    // pay-once fixture (the pattern's whole point): built once per JVM
    // — like the vtable fixtures, so the bench times the shuffle-free
    // JOIN, not two bucketed table writes
    Memo.once(base) {
      spark.sql(s"DROP TABLE IF EXISTS $liT")
      spark.sql(s"DROP TABLE IF EXISTS $ordT")
      // prune to the query's columns before the bucketed write — the
      // write is the pay-once cost of the pattern and column pruning
      // applies to it exactly as to any scan
      Tables.read(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(liT)
      Tables.read(spark, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(ordT)
      ()
    }
    bucketedJoinAgg(spark.table(liT), spark.table(ordT))
  }

  /** The join+aggregate over the bucketed tables (factored out so the
    * spec can assert its plan has no pre-join Exchange). */
  private[graft] def bucketedJoinAgg(li: DataFrame, ord: DataFrame): DataFrame =
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("o_orderkey")).as("n_orders"),
        sum("l_quantity").as("total_qty"))
      .orderBy("o_orderpriority")

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  COUNT(DISTINCT o_orderkey) AS n_orders, SUM(l_quantity) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** S-family: JSONL (newline-delimited JSON) round-trip — the lingua
    * franca of web-scale text corpora. Documents are written as JSONL
    * and re-read with an EXPLICIT schema (schema-on-read: no inference
    * pass, which at 100 TB would be a second full scan), then
    * aggregated per language against the parquet oracle, so any
    * escaping/encoding defect in either direction breaks the match. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/jsonl-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables.read(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text")
      .write.mode("overwrite").json(path)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
      .json(path)
    back.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")
  }

  val jsonlRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** S-family: CSV round-trip — documents written as headered CSV
    * (fields quoted as needed by the writer) and re-read with an
    * explicit schema + header, aggregated per source against the
    * parquet oracle. Complements the KEEL/LibSVM/JSONL round-trips:
    * any quoting/escaping defect in either direction breaks the hash. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/csvdocs-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables.read(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text")
      .write.mode("overwrite").option("header", "true").csv(path)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
      .option("header", "true").csv(path)
    back.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("source")
  }

  val csvRoundtripSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Partition pruning: documents written `partitionBy(lang)` (the
    * hive-style layout a 100 TB corpus would use — one directory tree
    * per language), then a lang-filtered aggregate reads back through
    * the partitioned scan. The filter never touches data: it prunes at
    * PLANNING time to the one matching directory (PartitionFilters in
    * the scan, asserted in ProfileIoSpec), so a query over one language
    * of a 100 TB corpus reads only that language's files. The oracle
    * recomputes the same aggregate from the unpartitioned parquet. */
  def partitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/partlang-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables.read(spark, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    prunedAgg(spark.read.parquet(path))
  }

  /** The pruned aggregate (factored out so the spec can assert the
    * scan's partition filters). */
  private[graft] def prunedAgg(docs: DataFrame): DataFrame =
    docs.filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_chars"))
      .orderBy("source")

  val partitionedPruneSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY source ORDER BY source""".stripMargin

  /** ROLLUP subtotals (flag, status) -> (flag) -> grand total — the
    * hierarchical-aggregate OLAP staple. Spark plans rollup as ONE
    * Expand + single partial-aggregated shuffle (each input row fans
    * to its grouping sets map-side), never one job per level; NULL
    * grouping indicators match ANSI semantics on both engines. Sums
    * are integer-valued, cast to BIGINT after aggregation. */
  def rollupQty(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").cast("long").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val rollupQtySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** CUBE over (returnflag, linestatus): every grouping-set subtotal in
    * ONE Expand + one partial-agged shuffle (each input row fans to its
    * 4 grouping sets map-side) — same plan family as rollup, the full
    * lattice instead of the hierarchy. */
  def cubeQty(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").cast("long").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val cubeQtySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Per-language length quartiles via NTILE — the quantile-bucketed
    * feature assignment (a PARTITIONED window: the per-key rank shape
    * that scales; a global NTILE would serialize the corpus through
    * one task and is banned by the plan audit). Deterministic tie
    * order by (n_chars, doc_id) on both engines. */
  def ntileLang(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        ntile(4).over(w).as("quartile"))
      .orderBy("doc_id")
  }

  val ntileLangSql: String =
    """SELECT doc_id, lang,
      |  NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Schema evolution across parquet batches — the data-lake reality
    * at 100 TB: an early ingest batch lacks a column later batches
    * carry. Batch 1 is written WITHOUT `source`; batch 2 with it; the
    * read passes `mergeSchema` so the union-by-name schema comes from
    * footers (a per-file FOOTER read, not a data scan — still avoid
    * on hot paths by declaring the schema once evolution stabilizes).
    * Missing values surface as NULLs and flow through COALESCE. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = "target/tmp/evolve-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val docs = Tables.read(spark, dir, "documents")
    docs.filter(col("doc_id") < 250)
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$base/batch=1")
    docs.filter(col("doc_id") >= 250)
      .select("doc_id", "lang", "n_chars", "source")
      .write.mode("overwrite").parquet(s"$base/batch=2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/batch=1", s"$base/batch=2")
      .groupBy(coalesce(col("source"), lit("unknown")).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_chars"))
      .orderBy("source")
  }

  val schemaEvolutionSql: String =
    """WITH b1 AS (SELECT doc_id, lang, n_chars, NULL AS source
      |            FROM documents WHERE doc_id < 250),
      |b2 AS (SELECT doc_id, lang, n_chars, source
      |       FROM documents WHERE doc_id >= 250),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT COALESCE(source, 'unknown') AS source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  /** Build the demo versioned table (Delta/Iceberg-shaped surface over
    * plain parquet, [[graft.io.Versioned]]): v1 = every document
    * (doc_id, lang, n_chars); v2 = an UPSERT of docs with
    * doc_id % 5 == 0 (n_chars + 1000) that ALSO adds the `source`
    * column (schema evolution inside the version log); v3 = tombstone
    * DELETEs of doc_id % 7 == 0. Deterministically rebuilt per call. */
  private def buildVersionedDemo(spark: SparkSession, dir: String,
      tag: String, withInserts: Boolean = false,
      withCompact: Boolean = false, withRestoreTo: Int = 0): String = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-" + tag + "-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    // deterministic per (tag, dir) → built ONCE per JVM: the bench's
    // untimed warm pass absorbs the fixture writes so its timed pass
    // measures the RESOLVE (the operator), not three parquet writes.
    // On-disk state, not a Spark cache — clearCache leaves it alone.
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "lang", "n_chars"), path)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).as("n_chars"), col("source")), path)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)
      if (withInserts)
        // v4: brand-new keys (offset far past the corpus id range)
        Versioned.append(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("xx").as("lang"), col("doc_id").cast("long").as("n_chars")),
          path)
      if (withCompact) Versioned.compact(spark, path, "doc_id")
      if (withRestoreTo > 0)
        Versioned.restore(spark, path, "doc_id", withRestoreTo)
      ()
    }
    path
  }

  /** `target/tmp/<name>-<session>-<sf dir>`: the path of a fixture
    * whose on-disk state is LIVE per session (MV refresh state, index
    * generations). The session's identity hash in the path keeps two
    * SparkSessions in one JVM off each other's fixture. Callers build
    * it once per JVM keyed by this path (`Memo.once(path) { ... }`,
    * like every on-disk fixture here): the bench's untimed warm pass
    * absorbs the build and the timed pass measures the operator. */
  private[graft] def fixturePath(spark: SparkSession, dir: String,
      name: String): String =
    s"target/tmp/$name-" +
      java.lang.Integer.toHexString(System.identityHashCode(spark)) +
      "-" + dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Shared oracle CTEs reconstructing the version log from the
    * documents table (the same trick as the schema-evolution oracle:
    * the oracle never reads the table files, it re-derives them). */
  private val versionedLogSql: String =
    """u AS (
      |  SELECT doc_id, lang, n_chars, NULL AS source, FALSE AS del, 1 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, source, FALSE, 2
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL, NULL, NULL, TRUE, 3
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Merge-on-read CURRENT over the versioned table — after a
    * `compact` checkpoint, so the read certifies the checkpointed path
    * (current == current-after-compact is also spec-pinned). One
    * key-partitioned window resolves latest-per-key + tombstones. */
  def tableCurrent(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "cur", withCompact = true)
    // r11: the scan rides the DataSourceV2 face (format("graft") —
    // zone-map file pruning + Spark's V2 parquet reader), the resolve
    // is the same key window the Scala API applies; result (and hash)
    // identical to Versioned.current. The V2 asOf slice excludes the
    // compact checkpoint, which the resolve makes observationally
    // equivalent (current == current-after-compact, spec-pinned).
    Versioned.currentOf(spark.read.format("graft").load(path), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableCurrentSql: String =
    s"""WITH $versionedLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 AND NOT del ORDER BY doc_id""".stripMargin

  /** STREAMING REPLICATION ([[graft.io.Versioned.replicateStreamTo]]):
    * the demo table streamed into a REPLICA through the
    * admission-controlled V2 source (2 versions per epoch), each
    * epoch folded to one latest-per-key commit — the replica's
    * CURRENT must equal the source's resolve exactly (the oracle
    * re-derives it from the log script, so a fold bug or a dropped
    * epoch hash-mismatches). */
  def tableReplicate(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "repl")
    val dst = "target/tmp/vtable-replica-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(dst) {
      Versioned.drop(spark, dst)
      val ckpt = dst + "-ckpt"
      val f = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      Versioned.replicateStreamTo(spark, path, "doc_id", dst, ckpt,
        maxVersionsPerTrigger = 2).awaitTermination()
      ()
    }
    Versioned.current(spark, dst, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  /** Bloom-indexed POINT lookups over the versioned table
    * ([[graft.io.Versioned.bloomIndex]] + `currentPoint`): five keys —
    * plain, upserted, two deleted (resolve to nothing), one absent —
    * resolved through per-file Bloom pruning. Ingest here is NOT
    * key-clustered, so zone maps can't skip anything; the Bloom index
    * is what keeps a point read from opening every file of every
    * delta (the Delta-Lake Bloom-index shape). The oracle resolves
    * the same keys from the reconstructed log, so a false NEGATIVE
    * (a wrongly skipped file) would drop a row and hash-mismatch. */
  def tablePoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "pt")
    Versioned.bloomIndex(spark, path, "doc_id")
    // one batched point lookup (shared metadata pass + resolve) —
    // per-key rows identical to unioning five single-key lookups
    Versioned.currentPoints(spark, path, "doc_id",
        Seq(3L, 10L, 14L, 21L, 999999L))
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tablePointSql: String =
    s"""WITH $versionedLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 AND NOT del
       |  AND doc_id IN (3, 10, 14, 21, 999999)
       |ORDER BY doc_id""".stripMargin

  /** RESTORE to an old version as a new commit
    * ([[graft.io.Versioned.restore]], Delta's RESTORE shape): the
    * fixture takes v1 (bulk) / v2 (upserts + schema evolution) /
    * v3 (tombstone deletes), then restores to v2 — the deletes are
    * UNWOUND by a roll-forward checkpoint, no file deleted, v3 still
    * time-travelable. `current` after the restore must equal the
    * v<=2 log resolve, which is exactly what the oracle computes. */
  /** COLUMN MAPPING (r11 — Delta's rename-without-rewrite shape):
    * the demo log takes a `renameColumn(n_chars -> len)` metadata
    * commit mid-history, then an upsert batch written under the NEW
    * name. The resolved current state must show every pre-rename
    * value under `len` (the physical column is the identity; no data
    * was rewritten) with the post-rename upserts landing on the SAME
    * column — which is exactly what the oracle computes from the
    * reconstructed log with the final names. */
  def tableRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-ren-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "lang", "n_chars"), path)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).as("n_chars"), col("source")), path)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)
      Versioned.renameColumn(spark, path, "n_chars", "len") // v4: metadata only
      Versioned.append(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 5000).as("len")), path)         // v5: new name
      ()
    }
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("len").cast("long").as("len"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  /** The SAME renamed fixture as [[tableRename]], read through the
    * r11 mapping-aware V2 face: `spark.read.format("graft")` pins the
    * PHYSICAL projection of the logical schema on the inner parquet
    * scan (stable physical ids, logical names only in schema
    * metadata), so the rename costs zero data movement and the V2
    * read ≡ the Scala-API read ≡ the DuckDB replay. */
  def tableRenameV2(spark: SparkSession, dir: String): DataFrame = {
    tableRename(spark, dir) // builds + memoizes the fixture
    val path = "target/tmp/vtable-ren-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    import graft.io.Versioned
    val raw = spark.read.format("graft").load(path)
    Versioned.currentOf(raw, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("len").cast("long").as("len"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableRenameSql: String =
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars AS len, NULL AS source, FALSE AS del, 1 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, source, FALSE, 2
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL, NULL, NULL, TRUE, 3
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 5000, NULL, FALSE, 5
      |  FROM documents WHERE doc_id % 3 = 0),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
      |      FROM u)
      |SELECT doc_id, lang, CAST(len AS BIGINT) AS len,
      |  COALESCE(source, 'unknown') AS source
      |FROM r WHERE rk = 1 AND NOT del ORDER BY doc_id""".stripMargin

  /** V2 AGGREGATE PUSHDOWN (r11): a no-filter COUNT(*)/MIN/MAX over
    * the versioned table, answered ENTIRELY from `_STATS.tsv` commit
    * metadata — the per-file `__nrows` row counts and exact integer
    * [min,max] stamped at commit from the parquet footers. The query
    * itself asserts the executed plan carries the metadata-only scan
    * (no parquet file opened), so the oracle row certifies BOTH the
    * values and the pushdown. At 100 TB this is `SELECT count(*)`
    * as a driver-side metadata read instead of a full table scan.
    * The oracle replays the raw log slice (v1 appends + v2 upserts +
    * v3 tombstones; the compact checkpoint is excluded from the V2
    * slice exactly as the Scala API excludes it). */
  def tableAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val path = buildVersionedDemo(spark, dir, "cur", withCompact = true)
    val out = spark.read.format("graft").load(path)
      .agg(count(lit(1)).as("n_rows"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("metadata-only aggregate"),
      "expected the aggregate answered from _STATS.tsv metadata; plan:\n" +
        plan)
    out
  }

  val tableAggPushdownSql: String =
    s"""WITH $versionedLogSql
       |SELECT COUNT(*) AS n_rows, MIN(doc_id) AS min_id,
       |  MAX(doc_id) AS max_id FROM u""".stripMargin

  /** RUNTIME FILTERING over the V2 face (r11 — DPP without
    * partitions): the versioned table joined against a selective
    * parquet dim plans a dynamic-pruning subquery (reusing the
    * broadcast exchange); at runtime the dim's join keys arrive at
    * the graft scan as an `IN` set and prune fact FILES through the
    * commit-time zone maps — per-value, so only files whose [min,max]
    * covers some key are opened. The builder asserts the
    * dynamic-pruning filter is in the plan, so the oracle row
    * certifies both the values and the planning shape. */
  def tableDpp(spark: SparkSession, dir: String): DataFrame = {
    val path = buildVersionedDemo(spark, dir, "cur", withCompact = true)
    val fact = spark.read.format("graft").load(path)
    val dim = Tables.read(spark, dir, "documents")
      .filter(col("doc_id") < 50).select(col("doc_id").as("dk"))
    val out = fact.join(broadcast(dim), col("doc_id") === col("dk"))
      .select(col("doc_id"), col("__v").cast("int").as("v"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id", "v")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("dynamicpruning"),
      "expected a dynamic-pruning runtime filter on the graft scan; " +
        "plan:\n" + plan)
    out
  }

  val tableDppSql: String =
    s"""WITH $versionedLogSql
       |SELECT u.doc_id, u.v AS v, CAST(u.n_chars AS BIGINT) AS n_chars
       |FROM u JOIN (SELECT doc_id FROM documents WHERE doc_id < 50) d
       |  ON u.doc_id = d.doc_id
       |ORDER BY u.doc_id, v""".stripMargin

  /** LIMIT PUSHDOWN over the V2 face (r11): `LIMIT k` keeps only a
    * file PREFIX whose commit-stamped `__nrows` counts cover k — on
    * a 100 TB table `SELECT * FROM t LIMIT 100` opens one file. The
    * oracle counts the limited read: under-delivery (pruning one
    * file too many) would surface as n_rows < 100 and hash-mismatch;
    * the file-count pinning lives in the V2 spec. */
  def tableLimitPushdown(spark: SparkSession, dir: String): DataFrame = {
    val path = buildVersionedDemo(spark, dir, "cur", withCompact = true)
    spark.read.format("graft").load(path).limit(100)
      .agg(count(lit(1)).as("n_rows"))
  }

  val tableLimitPushdownSql: String =
    s"""WITH $versionedLogSql
       |SELECT COUNT(*) AS n_rows
       |FROM (SELECT * FROM u LIMIT 100)""".stripMargin

  /** TYPE WIDENING (r11 — Delta's type-widening shape): the demo log
    * writes `n_chars` as INT, takes a `widenColumn(n_chars -> long)`
    * metadata commit (no rewrite), then upserts values BEYOND the int
    * range. The resolve reads old int files upcast per file against
    * the pinned wide schema; the oracle replays the log with BIGINT
    * arithmetic, so a truncated or mistyped read hash-mismatches. */
  def tableWiden(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-wid-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select(col("doc_id"), col("lang"),
        col("n_chars").cast("int").as("n_chars")), path)     // v1: INT
      Versioned.widenColumn(spark, path, "n_chars", "long")  // v2: meta
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 4000000000L).as("n_chars")), path) // v3: LONG
      ()
    }
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val tableWidenSql: String =
    """WITH u AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, 1 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(n_chars + 4000000000 AS BIGINT), 3
      |  FROM documents WHERE doc_id % 5 = 0),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
      |      FROM u)
      |SELECT doc_id, lang, n_chars FROM r WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  def tableRestore(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "rst", withRestoreTo = 2)
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableRestoreSql: String =
    s"""WITH $versionedLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u WHERE v <= 2)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 AND NOT del ORDER BY doc_id""".stripMargin

  /** Predicate DELETE ([[graft.io.Versioned.deleteWhere]], the
    * retention/GDPR `DELETE WHERE` shape): on top of the v1-v3
    * fixture, tombstone every current doc with n_chars >= 1000 in one
    * commit, then read `current` — the oracle applies the same
    * predicate to its reconstructed v<=3 resolve. Keys already
    * tombstoned at v3 must NOT resurface, and rows upserted at v2
    * are judged on their UPSERTED n_chars (+1000), so the doomed set
    * is exactly the surviving upserts. */
  def tableDeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "delw")
    Memo.once(path + "#delw") {
      Versioned.deleteWhere(spark, path, "doc_id",
        col("n_chars").cast("long") >= 1000L)
      ()
    }
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableDeleteWhereSql: String =
    s"""WITH $versionedLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 AND NOT del AND n_chars < 1000
       |ORDER BY doc_id""".stripMargin

  /** Versioned demo driven ENTIRELY through SQL against the
    * [[graft.sources.GraftCatalog]] face: CREATE TABLE (an empty
    * schema-fixing v1), INSERT INTO twice (bulk load = v2, upserts
    * with `source` set and n_chars+1000 = v3), DELETE FROM by
    * predicate (tombstones = v4). Built once per (dir) per JVM like
    * the Scala-API fixtures; returns the fully-qualified SQL name. */
  private def buildSqlCatalogDemo(spark: SparkSession, dir: String,
      name: String = "sqldemo",
      maintain: Boolean = false): String = {
    val wh = "target/tmp/graft-sql-warehouse"
    // runtime conf: catalogs resolve lazily by name, so setting these
    // before first reference is enough — per session, hence outside
    // the once-per-JVM block
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.${name}_$tag"
    Memo.once(s"$wh/${name}_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_sql_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT, source STRING) TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars, " +
        s"CAST(NULL AS STRING) FROM docs_sql_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars + 1000, " +
        s"source FROM docs_sql_$tag WHERE doc_id % 5 = 0")
      spark.sql(s"DELETE FROM $tbl WHERE lang = 'en'")
      if (maintain) {
        // CALL-driven maintenance: checkpoint-compact (v5), then
        // vacuum the whole pre-checkpoint log away — subsequent reads
        // run off the CHECKPOINT FILES alone (the vacuum base stands
        // in for the reclaimed prefix), so the oracle hash-checks the
        // compacted bytes themselves against the replayed log
        spark.sql(s"CALL graft_sql.system.compact('${name}_$tag')")
        spark.sql(s"CALL graft_sql.system.vacuum('${name}_$tag', 0)")
      }
      ()
    }
    tbl
  }

  /** The SQL-catalog lifecycle (r11 — [[graft.sources.GraftCatalog]]):
    * fixture built by CREATE TABLE / INSERT INTO ×2 / DELETE FROM in
    * plain SQL, then the merge-on-read CURRENT state expressed as a
    * plain-SQL window over the commit-log METADATA columns
    * (`__v`/`__seq`/`__deleted` — V2 metadata columns: invisible to
    * `SELECT *`, selectable by name), exactly the resolve
    * [[graft.io.Versioned.currentOf]] plans. The oracle replays the
    * whole log from the documents table, so a mistranslated DELETE
    * predicate, a double-applied INSERT, or a broken metadata-column
    * surface all hash-mismatch. */
  def tableSqlCurrent(spark: SparkSession, dir: String): DataFrame = {
    val tbl = buildSqlCatalogDemo(spark, dir)
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  /** Shared oracle CTE for the SQL-catalog fixture: v2 = bulk insert
    * (source NULL), v3 = upserts (doc_id%5, n_chars+1000, source). */
  private val sqlCatalogLogSql: String =
    """u AS (
      |  SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source, 2 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, source, 3
      |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  val tableSqlCurrentSql: String =
    s"""WITH $sqlCatalogLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 AND lang <> 'en' ORDER BY doc_id""".stripMargin

  /** MATERIALIZED VIEW from SQL (r11): `CALL create_matview` over the
    * SQL-catalog fixture, the view's resolved state read back as
    * plain SQL (the view is itself a graft table keyed by the group
    * column). The oracle recomputes the per-lang sums from the
    * replayed log — a missed delta fold, a double-counted refresh, or
    * a stale tombstone all hash-mismatch. */
  def matviewSql(spark: SparkSession, dir: String): DataFrame = {
    buildSqlCatalogDemo(spark, dir) // source fixture + catalog confs
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val view = s"mvdemo_$tag"
    Memo.once(s"target/tmp/graft-sql-warehouse/$view") {
      spark.sql(s"DROP TABLE IF EXISTS graft_sql.$view")
      spark.sql(s"CALL graft_sql.system.create_matview('$view', " +
        s"'sqldemo_$tag', 'lang', 'n_chars')")
      ()
    }
    // the view's storage schema is (g, n_rows, sum_<col>...): `g` is
    // the group column under its generic name
    spark.sql(
      s"""SELECT g AS lang, sum_n_chars FROM (
         |  SELECT g, sum_n_chars, __deleted, row_number() OVER (
         |    PARTITION BY g ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM graft_sql.$view)
         |WHERE rk = 1 AND NOT __deleted ORDER BY g""".stripMargin)
  }

  val matviewSqlSql: String =
    s"""WITH $sqlCatalogLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
       |FROM r WHERE rk = 1 AND lang <> 'en'
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** SQL time travel through the catalog: `VERSION AS OF 3` is the
    * pre-DELETE state (both inserts applied, nothing tombstoned) —
    * the catalog's loadTable(ident, version) resolving through the
    * same asOf machinery as the Scala API and the path-based V2 read. */
  def tableSqlAsof(spark: SparkSession, dir: String): DataFrame = {
    val tbl = buildSqlCatalogDemo(spark, dir)
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl VERSION AS OF 3)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  val tableSqlAsofSql: String =
    s"""WITH $sqlCatalogLogSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source
       |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** The versioned table as a V2 STREAMING SOURCE (r11 —
    * [[graft.sources.GraftMicroBatchStream]]): the standard demo log
    * (bulk, upserts, tombstones) is streamed
    * `readStream.format("graft")` — commit-version offsets, whole
    * versions per micro-batch — into a parquet sink, and the SINKED
    * rows are resolved to current state. Equality with the replayed-
    * log oracle certifies the stream delivered exactly the log: a
    * dropped version, a re-delivered batch, or a mangled meta column
    * all break the resolve. */
  def tableStreamRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "strsrc")
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val sink = s"target/tmp/vstream-sink-$tag"
    val ckpt = s"target/tmp/vstream-ckpt-$tag"
    Memo.once(sink) {
      Seq(sink, ckpt).foreach { d =>
        val hp = new org.apache.hadoop.fs.Path(d)
        val hf = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (hf.exists(hp)) hf.delete(hp, true)
      }
      spark.readStream.format("graft").load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      ()
    }
    Versioned.currentOf(spark.read.parquet(sink), "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableStreamReadSql: String = tableCurrentSql

  /** CALL-driven maintenance certified end-to-end (r11 —
    * [[graft.sources.GraftProcedures]]): its OWN table takes the same
    * SQL lifecycle, then `CALL graft_sql.system.compact` (checkpoint
    * v5) and `CALL …vacuum(…, 0)` reclaim the whole pre-checkpoint
    * log. The read below therefore runs off the CHECKPOINT FILES
    * alone (vacuum-base substitution) — the oracle replaying the
    * original log from the documents table hash-checks the compacted
    * bytes themselves: a row lost or doubled by compact/vacuum
    * mismatches. */
  def tableSqlMaintain(spark: SparkSession, dir: String): DataFrame = {
    val tbl = buildSqlCatalogDemo(spark, dir, name = "sqlmaint",
      maintain = true)
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  /** Same final state as the un-maintained table: compaction must be
    * observationally invisible. */
  val tableSqlMaintainSql: String = tableSqlCurrentSql

  /** The r15 one-call ops story certified end-to-end: a dedicated
    * NAMESPACE holds the table, `CALL graft_sql.system.maintain_all`
    * sweeps it (the table's own `maintain.delta_commits = 2` property
    * makes the auto-policy take the first-checkpoint compact over the
    * 3-commit log), then `CALL …vacuum_retain(…, 0)` reclaims the
    * pre-checkpoint history by commit AGE (the time-based face of
    * vacuum). The read below runs off the checkpoint files alone; the
    * oracle replays the original lifecycle from the documents table,
    * so a row lost or doubled by the policy-driven compact, a wrong
    * age cut, or a sweep that touched the wrong table all
    * hash-mismatch. */
  def tableSqlMaintainAll(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ns = s"mntns_$tag"
    val tbl = s"graft_sql.$ns.t"
    Memo.once(s"$wh/$ns/t") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_sql.$ns")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_mnt_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT, source STRING) TBLPROPERTIES " +
        "('key' = 'doc_id', 'maintain.delta_commits' = '2', " +
        "'maintain.delta_bytes_frac' = '1000', " +
        "'maintain.full_rewrite_frac' = '5000', " +
        "'maintain.target_file_bytes' = '134217728')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars, " +
        s"CAST(NULL AS STRING) FROM docs_mnt_$tag")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars + 1000, " +
        s"source FROM docs_mnt_$tag WHERE doc_id % 5 = 0")
      spark.sql(s"DELETE FROM $tbl WHERE lang = 'en'")
      spark.sql(s"CALL graft_sql.system.maintain_all('$ns')")
      spark.sql(s"CALL graft_sql.system.vacuum_retain('$ns.t', 0)")
      ()
    }
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  /** Same final state again: the policy sweep and the age-based
    * retention must both be observationally invisible. */
  val tableSqlMaintainAllSql: String = tableSqlCurrentSql

  /** MERGE INTO through the catalog (r11 — the delta-based row-level
    * operation, [[graft.sources.GraftRowOperation]]): its own table
    * takes CREATE + INSERT, then ONE MERGE statement at the resulting
    * NON-checkpoint head — r12 removed the compact prerequisite: the
    * row-level scan auto-maintains the head checkpoint at delta cost
    * ([[graft.io.Versioned.compactIncremental]]) before reading it.
    * The MERGE mixes all three actions — matched-DELETE (the en rows
    * of the %3 source slice), matched-UPDATE (n_chars summed, source
    * taken), and not-matched-INSERT (the %97 slice under shifted
    * ids). The update rows, tombstones, and inserts land as ONE
    * staged commit written by distributed DeltaWriters; the oracle
    * replays the merge arithmetic from the documents table, so a lost
    * tombstone, a double-applied update, a mis-keyed insert, or a row
    * lost by the auto-maintained checkpoint all hash-mismatch. */
  def tableSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.sqlmerge_$tag"
    Memo.once(s"$wh/sqlmerge_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_sql_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT, source STRING) TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars, " +
        s"CAST(NULL AS STRING) FROM docs_sql_$tag")
      // NO compact here: the MERGE runs at a non-checkpoint head and
      // must auto-maintain its snapshot (the r12 contract under test)
      spark.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT doc_id, lang, n_chars, source FROM docs_sql_$tag
           |  WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000000, lang, n_chars, 'new'
           |  FROM docs_sql_$tag WHERE doc_id % 97 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.lang = 'en' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  n_chars = t.n_chars + s.n_chars, source = s.source
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars, source)
           |  VALUES (s.doc_id, s.lang, s.n_chars, s.source)
           |""".stripMargin)
      ()
    }
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  /** Streaming ingest through the V2 SINK face (r11 —
    * [[graft.sources.GraftStreamingWrite]]): the documents corpus
    * staged as a 3-file dir, streamed `maxFilesPerTrigger=1` with
    * `writeStream…toTable` into a catalog table — THREE micro-batches,
    * each ONE batch-marked commit written by distributed streaming
    * writers (no foreachBatch, no driver frame). The read resolves
    * current state through the metadata-column window; the oracle is
    * the plain documents table, so a dropped batch, a double-applied
    * replay, or a mis-written row all hash-mismatch. */
  def tableSqlStream(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.sqlstream_$tag"
    Memo.once(s"$wh/sqlstream_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val inDir = s"target/tmp/sqlstream-in-$tag"
      val ckpt = s"target/tmp/sqlstream-ckpt-$tag"
      // a stale checkpoint against a freshly dropped table would skip
      // "already committed" batches — reset both together
      val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
      val fsys = ckptPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (fsys.exists(ckptPath)) fsys.delete(ckptPath, true)
      Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(inDir)
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) TBLPROPERTIES ('key' = 'doc_id')")
      val schema = spark.read.parquet(inDir).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(tbl)
        .awaitTermination()
      ()
    }
    spark.sql(
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  val tableSqlStreamSql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** UPDATE through the catalog (r11 — `RewriteUpdateTable` over the
    * same delta-based row-level operation as MERGE): CREATE + INSERT,
    * then ONE UPDATE statement at the NON-checkpoint head (r12: the
    * scan auto-maintains its checkpoint at delta cost) re-stating
    * every German row (n_chars bumped, source set) as appended new-
    * version rows. The oracle replays the SET arithmetic from
    * documents. */
  def tableSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.sqlupd_$tag"
    Memo.once(s"$wh/sqlupd_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_sql_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT, source STRING) TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars, " +
        s"CAST(NULL AS STRING) FROM docs_sql_$tag")
      // NO compact: the UPDATE auto-maintains the checkpoint (r12)
      spark.sql(s"UPDATE $tbl SET n_chars = n_chars + 5000, " +
        "source = 'upd' WHERE lang = 'de'")
      ()
    }
    spark.sql(
      s"""SELECT doc_id, lang, n_chars,
         |  coalesce(source, 'unknown') AS source FROM (
         |  SELECT doc_id, lang, n_chars, source, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  val tableSqlUpdateSql: String =
    """SELECT doc_id, lang,
      |  CAST(CASE WHEN lang = 'de' THEN n_chars + 5000
      |       ELSE n_chars END AS BIGINT) AS n_chars,
      |  CASE WHEN lang = 'de' THEN 'upd' ELSE 'unknown' END AS source
      |FROM documents ORDER BY doc_id""".stripMargin

  /** MERGE ... WITH SCHEMA EVOLUTION on a COLUMN-MAPPED table: the
    * table is created narrow (doc_id, lang), its lang column RENAMED
    * to `language` (column mapping engages), then one evolving MERGE
    * whose source carries `n_chars` — absent from the target — lands
    * it mid-statement (Spark turns the extra column into an AddColumn
    * TableChange, the catalog commits a zero-row schema extension, and
    * the rewritten rows carry values under a fresh salted physical
    * id). The oracle recomputes the final state straight from the
    * documents table: untouched rows read the evolved column as NULL,
    * matched rows carry their source value, and the renamed column's
    * data must surface under the NEW logical name. */
  def tableSqlEvolve(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.sqlevolve_$tag"
    Memo.once(s"$wh/sqlevolve_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_sqlev_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING) " +
        "TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang " +
        s"FROM docs_sqlev_$tag")
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN lang TO language")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING (
           |  SELECT doc_id, lang AS language, n_chars
           |  FROM docs_sqlev_$tag WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000000, lang, n_chars
           |  FROM docs_sqlev_$tag WHERE doc_id % 97 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, language, n_chars)
           |  VALUES (s.doc_id, s.language, s.n_chars)
           |""".stripMargin)
      ()
    }
    spark.sql(
      s"""SELECT doc_id, language, n_chars FROM (
         |  SELECT doc_id, language, n_chars, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  val tableSqlEvolveSql: String =
    """WITH cur AS (
      |  SELECT doc_id, lang AS language,
      |    CASE WHEN doc_id % 3 = 0 THEN n_chars
      |         ELSE CAST(NULL AS BIGINT) END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, lang, n_chars
      |  FROM documents WHERE doc_id % 97 = 0)
      |SELECT doc_id, language, CAST(n_chars AS BIGINT) AS n_chars
      |FROM cur ORDER BY doc_id""".stripMargin

  /** Row-level DML driven ENTIRELY at metadata-only heads of a
    * column-mapped table: INSERT → compact → RENAME COLUMN (data-less
    * head #1) → UPDATE through the mapping → RENAME COLUMN again
    * (data-less head #2) → MERGE through the mapping. This is the
    * lifecycle the r14 `metadataOnlySuffixHead` fix enables (DML
    * planning pins its snapshot at the metadata head instead of
    * aborting on its own committed history, and every commit
    * re-snapshots the post-rename mapping); the oracle replays the
    * logical arithmetic straight off `documents`, so the hash gate
    * certifies both renames stayed in force through both DML
    * statements and neither rolled back the other. */
  def tableRenameDml(spark: SparkSession, dir: String): DataFrame = {
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.renamedml_$tag"
    Memo.once(s"$wh/renamedml_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_rdml_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, n_chars " +
        s"FROM docs_rdml_$tag")
      spark.sql(s"CALL graft_sql.system.compact('renamedml_$tag')")
      // head is now a data-less mapping commit; the UPDATE must plan
      // its snapshot AT the rename (post-rename mapping, no phantom
      // OCC conflict with its own history)
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN n_chars TO chars")
      spark.sql(s"UPDATE $tbl SET chars = chars + 1000 " +
        "WHERE lang = 'de'")
      // a second metadata-only head, then a MERGE through BOTH renames
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN lang TO language")
      spark.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT doc_id, lang AS language, n_chars + 7 AS chars
           |  FROM docs_rdml_$tag WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000000, lang, n_chars
           |  FROM docs_rdml_$tag WHERE doc_id % 101 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET chars = s.chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, language, chars)
           |  VALUES (s.doc_id, s.language, s.chars)
           |""".stripMargin)
      ()
    }
    spark.sql(
      s"""SELECT doc_id, language, chars FROM (
         |  SELECT doc_id, language, chars, __deleted,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY __v DESC, __seq DESC) AS rk
         |  FROM $tbl)
         |WHERE rk = 1 AND NOT __deleted
         |ORDER BY doc_id""".stripMargin)
  }

  val tableRenameDmlSql: String =
    """WITH cur AS (
      |  SELECT doc_id, lang AS language,
      |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
      |         WHEN lang = 'de' THEN n_chars + 1000
      |         ELSE n_chars END AS chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, lang, n_chars
      |  FROM documents WHERE doc_id % 101 = 0)
      |SELECT doc_id, language, CAST(chars AS BIGINT) AS chars
      |FROM cur ORDER BY doc_id""".stripMargin

  val tableSqlMergeSql: String =
    """WITH cur AS (
      |  SELECT d.doc_id, d.lang,
      |    CASE WHEN d.doc_id % 3 = 0 THEN d.n_chars * 2
      |         ELSE d.n_chars END AS n_chars,
      |    CASE WHEN d.doc_id % 3 = 0 THEN d.source
      |         ELSE NULL END AS source
      |  FROM documents d
      |  WHERE NOT (d.doc_id % 3 = 0 AND d.lang = 'en')
      |  UNION ALL
      |  SELECT doc_id + 10000000, lang, n_chars, 'new'
      |  FROM documents WHERE doc_id % 97 = 0)
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  COALESCE(source, 'unknown') AS source
      |FROM cur ORDER BY doc_id""".stripMargin

  /** Incrementally-maintained materialized GROUP-BY view
    * ([[graft.io.MatView]]): per-language row counts + n_chars totals
    * maintained across four source commits (bulk load, upserts,
    * deletes, inserts of a NEW language) by three delta refreshes —
    * the last one folding TWO source versions at once. The oracle
    * recomputes the full group-by over the resolved final state, so
    * the gate certifies incremental == full: upsert deltas shifted
    * totals without rescans, deletes decremented, and the 'xx' group
    * was born from an insert delta. */
  /** Incrementally-maintained JOIN view ([[graft.io.JoinView]]):
    * orders ⋈ customer grouped by nation, maintained at the JOIN-KEY
    * grain (a MatView over orders grouped by o_custkey) and served by
    * joining that dimension-sized state to the customer dim at read
    * time. The lifecycle exercises BOTH sides: fact upserts + deletes
    * + inserts fold through one refresh; then a DIM change (customers
    * moving to nation 99) must be visible at the very next read with
    * ZERO refresh — the property the fk-grain materialization exists
    * for. Prices are floored to exact integers (the MatView integral
    * contract); the oracle replays the whole thing from orders ×
    * customer. */
  def tableJoinView(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{JoinView, Versioned}
    val factSrc = fixturePath(spark, dir, "jvq-fact")
    val dimSrc = fixturePath(spark, dir, "jvq-dim")
    val view = fixturePath(spark, dir, "jvq-view")
    val h = JoinView.handle(factSrc, "o_orderkey", "o_custkey",
      Seq("p"), dimSrc, "c_custkey", "c_nationkey", view)
    Memo.once(view) {
      Versioned.drop(spark, factSrc)
      Versioned.drop(spark, dimSrc)
      Versioned.drop(spark, view)
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice")).cast("long").as("p"))
      val cust = Tables.read(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      Versioned.append(orders, factSrc)
      Versioned.append(cust, dimSrc)
      JoinView.init(spark, factSrc, "o_orderkey", "o_custkey",
        Seq("p"), dimSrc, "c_custkey", "c_nationkey", view)
      // fact deltas: upsert, delete, insert — then ONE refresh
      Versioned.append(orders.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("p") + 1000L).as("p")), factSrc)
      Versioned.delete(orders.filter(col("o_orderkey") % 7 === 0)
        .select("o_orderkey"), factSrc)
      Versioned.append(orders.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_custkey"), (col("p") + 7L).as("p")), factSrc)
      JoinView.refresh(spark, h)
      // DIM change, NO refresh: read-time correctness is the contract
      Versioned.append(cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"),
          lit(99).cast("int").as("c_nationkey")), dimSrc)
      ()
    }
    JoinView.read(spark, h).orderBy("c_nationkey")
  }

  val tableJoinViewSql: String =
    """WITH fact AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) +
      |      CASE WHEN o_orderkey % 5 = 0 THEN 1000 ELSE 0 END AS p
      |  FROM orders WHERE o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_custkey, CAST(FLOOR(o_totalprice) AS BIGINT) + 7
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |dim AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN 99
      |         ELSE c_nationkey END AS c_nationkey
      |  FROM customer)
      |SELECT d.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(f.p) AS BIGINT) AS sum_p
      |FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Dead-letter ingest ([[graft.io.Versioned.appendCheckedQuarantine]]):
    * one checked batch splits into the main table (clean slice) and a
    * quarantine table (violating rows, enriched with the names of the
    * constraints they failed), then the SAME batch replays — the
    * per-table `_BATCH_` idempotency markers must make the replay a
    * complete no-op on both sides. The served frame unions both
    * tables' current state with a provenance tag; the oracle replays
    * the split straight off `documents`, so the hash gate certifies
    * main ≡ clean slice, quarantine ≡ violating slice, and zero
    * duplicates under replay. */
  def tableQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val main = fixturePath(spark, dir, "quar-main")
    val dead = fixturePath(spark, dir, "quar-dead")
    Memo.once(main) {
      Seq(main, dead).foreach(Versioned.drop(spark, _))
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      val checks = Seq(
        "id_ok" -> (col("doc_id") % 10 =!= 3),
        "len_ok" -> (col("n_chars") % 7 =!= 0))
      Versioned.appendCheckedQuarantine(docs, main, checks, dead,
        batchId = 1L, ingestId = "quarq")
      // replay the SAME batch: exactly-once on BOTH tables
      Versioned.appendCheckedQuarantine(docs, main, checks, dead,
        batchId = 1L, ingestId = "quarq")
      ()
    }
    Versioned.current(spark, main, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        lit("main").as("src"), lit("").as("q_violated"))
      .unionByName(Versioned.current(spark, dead, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          lit("quar").as("src"), col("q_violated")))
      .orderBy("doc_id")
  }

  val tableQuarantineSql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  CASE WHEN doc_id % 10 = 3 OR n_chars % 7 = 0
      |       THEN 'quar' ELSE 'main' END AS src,
      |  CASE WHEN doc_id % 10 = 3 OR n_chars % 7 = 0
      |       THEN concat_ws(',',
      |         CASE WHEN doc_id % 10 = 3 THEN 'id_ok' END,
      |         CASE WHEN n_chars % 7 = 0 THEN 'len_ok' END)
      |       ELSE '' END AS q_violated
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The SQL-face twin of [[tableQuarantine]]: the `quarantine.path`
    * TABLE PROPERTY switches the catalog INSERT from refuse-whole to
    * dead-letter mode — violating rows divert to the named sibling
    * quarantine table (enriched with `q_violated`), the clean slice
    * lands, one plain `INSERT INTO … SELECT`. The oracle replays the
    * split straight off `documents`, so the hash gate certifies the
    * property-driven divert produced exactly the declared split. */
  def tableQuarantineViaSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_sql.quarsql_$tag"
    Memo.once(s"$wh/quarsql_$tag") {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_dead")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables.read(spark, dir, "documents")
        .createOrReplaceTempView(s"docs_qsql_$tag")
      spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) TBLPROPERTIES ('key' = 'doc_id', " +
        "'check.id_ok' = 'doc_id % 7 != 2', " +
        "'check.len_ok' = 'n_chars % 5 != 0', " +
        s"'quarantine.path' = 'quarsql_${tag}_dead')")
      spark.sql(s"CREATE TABLE ${tbl}_dead (doc_id BIGINT, " +
        "lang STRING, n_chars BIGINT, q_violated STRING, " +
        "q_batch BIGINT) TBLPROPERTIES ('key' = 'doc_id')")
      spark.sql(s"INSERT INTO $tbl SELECT doc_id, lang, " +
        s"CAST(n_chars AS BIGINT) FROM docs_qsql_$tag")
      ()
    }
    Versioned.current(spark, s"$wh/quarsql_$tag", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        lit("main").as("src"), lit("").as("q_violated"))
      .unionByName(
        Versioned.current(spark, s"$wh/quarsql_${tag}_dead", "doc_id")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            lit("quar").as("src"), col("q_violated")))
      .orderBy("doc_id")
  }

  val tableQuarantineViaSqlSql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  CASE WHEN doc_id % 7 = 2 OR n_chars % 5 = 0
      |       THEN 'quar' ELSE 'main' END AS src,
      |  CASE WHEN doc_id % 7 = 2 OR n_chars % 5 = 0
      |       THEN concat_ws(',',
      |         CASE WHEN doc_id % 7 = 2 THEN 'id_ok' END,
      |         CASE WHEN n_chars % 5 = 0 THEN 'len_ok' END)
      |       ELSE '' END AS q_violated
      |FROM documents ORDER BY doc_id""".stripMargin

  /** SNOWFLAKE JoinView with min/max: orders ⋈ customer ⋈ nation,
    * grouped by TWO attributes from TWO hops (c_nationkey,
    * n_regionkey), with min_p/max_p maintained alongside the sums.
    * The lifecycle forces the interesting tiers: the upsert+delete
    * round removes group EXTREMES (every o_orderkey % 7 row,
    * including per-group maxima), so the min/max refresh must take
    * MatView's scoped-recompute tier — a stale folded max would hash-
    * mismatch; then a customer nation-migration lands WITHOUT any
    * refresh, and the read resolves region through the CURRENT dim
    * chain (both serve-side joins stay dimension-sized). The oracle
    * replays everything from orders × customer × nation. */
  def tableJoinViewMinMax(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{JoinView, Versioned}
    val factSrc = fixturePath(spark, dir, "jvm-fact")
    val custSrc = fixturePath(spark, dir, "jvm-cust")
    val natSrc = fixturePath(spark, dir, "jvm-nat")
    val view = fixturePath(spark, dir, "jvm-view")
    val dims = Seq(
      JoinView.DimLink(custSrc, "c_custkey", "o_custkey",
        Seq("c_nationkey")),
      JoinView.DimLink(natSrc, "n_nationkey", "c_nationkey",
        Seq("n_regionkey")))
    val attrs = Seq("c_nationkey", "n_regionkey")
    val h = JoinView.handle(factSrc, "o_orderkey", "o_custkey",
      Seq("p"), dims, attrs, view, minMaxCols = Seq("p"))
    Memo.once(view) {
      Seq(factSrc, custSrc, natSrc, view)
        .foreach(Versioned.drop(spark, _))
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice")).cast("long").as("p"))
      Versioned.append(orders, factSrc)
      Versioned.append(Tables.read(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")), custSrc)
      Versioned.append(Tables.read(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey")), natSrc)
      JoinView.init(spark, factSrc, "o_orderkey", "o_custkey",
        Seq("p"), dims, attrs, view, minMaxCols = Seq("p"))
      // upsert + extreme-removing delete, then ONE refresh (the
      // delete forces the scoped-recompute min/max tier)
      Versioned.append(orders.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("p") + 1000L).as("p")), factSrc)
      Versioned.delete(orders.filter(col("o_orderkey") % 7 === 0)
        .select("o_orderkey"), factSrc)
      JoinView.refresh(spark, h)
      // dim migration with ZERO refresh: read-time snowflake resolve
      Versioned.append(Tables.read(spark, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"),
          lit(3).cast("int").as("c_nationkey")), custSrc)
      ()
    }
    JoinView.read(spark, h).orderBy("c_nationkey", "n_regionkey")
  }

  val tableJoinViewMinMaxSql: String =
    """WITH fact AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) +
      |      CASE WHEN o_orderkey % 5 = 0 THEN 1000 ELSE 0 END AS p
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |cust AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN 3
      |         ELSE c_nationkey END AS c_nationkey
      |  FROM customer)
      |SELECT c.c_nationkey, n.n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(f.p) AS BIGINT) AS sum_p,
      |  CAST(MIN(f.p) AS BIGINT) AS min_p,
      |  CAST(MAX(f.p) AS BIGINT) AS max_p
      |FROM fact f JOIN cust c ON f.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The snowflake JoinView driven ENTIRELY through the SQL face:
    * catalog tables, `CALL create_joinview_chain` (the hop chain and
    * min/max columns round-trip through the `jv.dims`/`mv.minmax`
    * property codec), SQL INSERT upserts + a DELETE that removes
    * per-group extremes, ONE `CALL refresh_joinview` (the min/max
    * fold must run through the props-rebuilt handle — a dropped
    * minmax list would serve stale extremes and hash-mismatch), then
    * a dim UPDATE visible with ZERO refresh. The oracle replays the
    * whole lifecycle from orders × customer × nation. */
  def tableJoinViewChainSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.JoinView
    val wh = "target/tmp/graft-sql-warehouse"
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (fact, cust, nat, view) = (s"jvchain_fact_$tag",
      s"jvchain_cust_$tag", s"jvchain_nat_$tag", s"jvchain_view_$tag")
    Memo.once(s"$wh/$view") {
      Seq(view, fact, cust, nat).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_sql.$t"))
      Tables.read(spark, dir, "orders")
        .createOrReplaceTempView(s"ord_jvc_$tag")
      Tables.read(spark, dir, "customer")
        .createOrReplaceTempView(s"cus_jvc_$tag")
      Tables.read(spark, dir, "nation")
        .createOrReplaceTempView(s"nat_jvc_$tag")
      spark.sql(s"CREATE TABLE graft_sql.$fact (o_orderkey BIGINT, " +
        "o_custkey BIGINT, p BIGINT) TBLPROPERTIES ('key' = 'o_orderkey')")
      spark.sql(s"INSERT INTO graft_sql.$fact SELECT o_orderkey, " +
        "o_custkey, CAST(FLOOR(o_totalprice) AS BIGINT) " +
        s"FROM ord_jvc_$tag")
      spark.sql(s"CREATE TABLE graft_sql.$cust (c_custkey BIGINT, " +
        "c_nationkey BIGINT) TBLPROPERTIES ('key' = 'c_custkey')")
      spark.sql(s"INSERT INTO graft_sql.$cust SELECT c_custkey, " +
        s"CAST(c_nationkey AS BIGINT) FROM cus_jvc_$tag")
      spark.sql(s"CREATE TABLE graft_sql.$nat (n_nationkey BIGINT, " +
        "n_regionkey BIGINT) TBLPROPERTIES ('key' = 'n_nationkey')")
      spark.sql(s"INSERT INTO graft_sql.$nat SELECT " +
        "CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT) " +
        s"FROM nat_jvc_$tag")
      spark.sql(s"CALL graft_sql.system.create_joinview_chain(" +
        s"'$view', '$fact', 'o_custkey', 'p', " +
        s"'$cust:c_custkey:o_custkey:c_nationkey;" +
        s"$nat:n_nationkey:c_nationkey:n_regionkey', " +
        "'c_nationkey,n_regionkey', 'p')")
      // upsert band + extreme-removing delete, ONE delta refresh
      spark.sql(s"INSERT INTO graft_sql.$fact SELECT o_orderkey, " +
        "o_custkey, CAST(FLOOR(o_totalprice) AS BIGINT) + 2000 " +
        s"FROM ord_jvc_$tag WHERE o_orderkey % 4 = 0")
      spark.sql(s"DELETE FROM graft_sql.$fact WHERE o_orderkey % 9 = 0")
      spark.sql(s"CALL graft_sql.system.refresh_joinview('$view')")
      // dim migration: zero refresh, resolved at serve time
      spark.sql(s"UPDATE graft_sql.$cust SET c_nationkey = 1 " +
        "WHERE c_custkey % 8 = 0")
      ()
    }
    val h = JoinView.handle(s"$wh/$fact", "o_orderkey", "o_custkey",
      Seq("p"),
      Seq(JoinView.DimLink(s"$wh/$cust", "c_custkey", "o_custkey",
          Seq("c_nationkey")),
        JoinView.DimLink(s"$wh/$nat", "n_nationkey", "c_nationkey",
          Seq("n_regionkey"))),
      Seq("c_nationkey", "n_regionkey"), s"$wh/$view",
      minMaxCols = Seq("p"))
    JoinView.read(spark, h).orderBy("c_nationkey", "n_regionkey")
  }

  val tableJoinViewChainSqlSql: String =
    """WITH fact AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) +
      |      CASE WHEN o_orderkey % 4 = 0 THEN 2000 ELSE 0 END AS p
      |  FROM orders WHERE o_orderkey % 9 <> 0),
      |cust AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 8 = 0 THEN 1
      |         ELSE CAST(c_nationkey AS BIGINT) END AS c_nationkey
      |  FROM customer)
      |SELECT c.c_nationkey, CAST(n.n_regionkey AS BIGINT) AS n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(f.p) AS BIGINT) AS sum_p,
      |  CAST(MIN(f.p) AS BIGINT) AS min_p,
      |  CAST(MAX(f.p) AS BIGINT) AS max_p
      |FROM fact f JOIN cust c ON f.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def tableMatView(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{MatView, Versioned}
    // the path carries the session's identity hash (like the at-rest
    // search fixture): the view's refresh state is LIVE per session —
    // two sessions in one JVM must never overwrite each other's
    val src = fixturePath(spark, dir, "mvq-src")
    val view = fixturePath(spark, dir, "mvq-view")
    val h = MatView.Handle(view, src, "doc_id", "lang", Seq("n_chars"))
    Memo.once(view) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, view)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars")), src)
      MatView.init(spark, src, "doc_id", "lang", Seq("n_chars"), view)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).cast("long").as("n_chars")), src)
      MatView.refresh(spark, h)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), src)
      Versioned.append(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("xx").as("lang"),
          col("doc_id").cast("long").as("n_chars")), src)
      MatView.refresh(spark, h) // one refresh folds BOTH versions
      ()
    }
    MatView.read(spark, h).orderBy("lang")
  }

  val tableMatViewSql: String =
    """WITH u AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |    FALSE AS del, 1 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT), FALSE, 2
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL, NULL, TRUE, 3
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, 'xx', CAST(doc_id AS BIGINT), FALSE, 4
      |  FROM documents WHERE doc_id % 11 = 0),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY v DESC) AS rk
      |      FROM u)
      |SELECT lang, COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
      |FROM r WHERE rk = 1 AND NOT del
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The [[tableMatView]] fixture with NON-INVERTIBLE aggregates:
    * min/max n_chars per language maintained by scoped per-group
    * recompute (deltas can't undo a deleted extreme; the refresh
    * recomputes only the touched groups). Same four source commits;
    * the oracle recomputes MIN/MAX over the resolved final state. */
  def tableMatViewMinMax(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{MatView, Versioned}
    val src = fixturePath(spark, dir, "mvq2-src")
    val view = fixturePath(spark, dir, "mvq2-view")
    val h = MatView.Handle(view, src, "doc_id", "lang", Seq("n_chars"),
      minMaxCols = Seq("n_chars"))
    Memo.once(view) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, view)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars")), src)
      MatView.init(spark, src, "doc_id", "lang", Seq("n_chars"), view,
        minMaxCols = Seq("n_chars"))
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).cast("long").as("n_chars")), src)
      MatView.refresh(spark, h)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), src)
      Versioned.append(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("xx").as("lang"),
          col("doc_id").cast("long").as("n_chars")), src)
      MatView.refresh(spark, h)
      ()
    }
    MatView.read(spark, h).orderBy("lang")
  }

  val tableMatViewMinMaxSql: String =
    """WITH u AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |    FALSE AS del, 1 AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT), FALSE, 2
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL, NULL, TRUE, 3
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, 'xx', CAST(doc_id AS BIGINT), FALSE, 4
      |  FROM documents WHERE doc_id % 11 = 0),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY v DESC) AS rk
      |      FROM u)
      |SELECT lang, COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
      |  MIN(n_chars) AS min_n_chars, MAX(n_chars) AS max_n_chars
      |FROM r WHERE rk = 1 AND NOT del
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incrementally-maintained DISTINCT-COUNT view
    * ([[graft.io.SketchView]]): per-language distinct n_chars-rendering
    * estimates from HLL register state maintained across the same four
    * source commits as q_matview — the init fold is append-only
    * (register max at delta cost), the upsert and delete/insert
    * refreshes take the scoped per-group recompute (registers must
    * SHRINK, which no fold can do). The estimate reads ONLY the view
    * (<= 256 register rows per language); the exact count rides along
    * for error exposure. The oracle rebuilds the registers from the
    * resolved final state — maintained-incrementally ≡ recomputed-from-
    * scratch, down to the register bits. */
  def tableDistinctView(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{SketchView, Versioned}
    val src = fixturePath(spark, dir, "skvq-src")
    val view = fixturePath(spark, dir, "skvq-view")
    val h = SketchView.Handle(view, src, "doc_id", "lang", "ncs")
    Memo.once(view) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, view)
      val docs = Tables.read(spark, dir, "documents")
      def ncs(c: org.apache.spark.sql.Column) = c.cast("long").cast("string")
      Versioned.append(docs.select(col("doc_id"), col("lang"),
        ncs(col("n_chars")).as("ncs")), src)
      SketchView.init(spark, src, "doc_id", "lang", "ncs", view)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          ncs(col("n_chars") + 1000).as("ncs")), src)
      SketchView.refresh(spark, h)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), src)
      Versioned.append(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("xx").as("lang"), ncs(col("doc_id")).as("ncs")), src)
      SketchView.refresh(spark, h) // one refresh folds BOTH versions
      ()
    }
    val exact = Versioned.current(spark, src, "doc_id")
      .filter(col("ncs").isNotNull)
      .groupBy("lang").agg(countDistinct(col("ncs")).as("n_distinct"))
    SketchView.estimate(spark, h)
      .join(exact, "lang")
      .select("lang", "n_distinct", "est_distinct")
      .orderBy("lang")
  }

  val tableDistinctViewSql: String = {
    val hll = graft.pipeline.Sketches.hllDistinctSql("res", "lang", "ncs")
    s"""WITH u AS (
       |  SELECT doc_id, lang, CAST(CAST(n_chars AS BIGINT) AS VARCHAR)
       |    AS ncs, FALSE AS del, 1 AS v
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, lang, CAST(CAST(n_chars + 1000 AS BIGINT) AS VARCHAR),
       |    FALSE, 2
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id, NULL, NULL, TRUE, 3
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000000, 'xx', CAST(doc_id AS VARCHAR), FALSE, 4
       |  FROM documents WHERE doc_id % 11 = 0),
       |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |         ORDER BY v DESC) AS rk
       |       FROM u),
       |res AS (SELECT lang, ncs FROM rr
       |        WHERE rk = 1 AND NOT del AND ncs IS NOT NULL),
       |$hll,
       |x AS (SELECT lang, COUNT(DISTINCT ncs) AS n_distinct
       |      FROM res GROUP BY 1)
       |SELECT hll.g AS lang, x.n_distinct, hll.est_distinct
       |FROM hll JOIN x ON hll.g = x.lang ORDER BY 1""".stripMargin
  }

  /** STREAMING lakehouse MV end to end: the documents table arrives as
    * a Structured Streaming file source; ONE `foreachBatch` sink both
    * commits each micro-batch into the Versioned source
    * ([[graft.io.Versioned.appendBatch]] — idempotent on batch id) and
    * folds it into the maintained view ([[graft.io.MatView.refresh]] —
    * idempotent on source version), so the whole ingest→maintain loop
    * is restart-safe. The final view must equal the full GROUP BY over
    * everything streamed, REGARDLESS of how the source files were cut
    * into micro-batches — which is exactly what the DuckDB oracle
    * recomputes. */
  def tableMatViewStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{MatView, Versioned}
    val src = fixturePath(spark, dir, "mvq3-src")
    val view = fixturePath(spark, dir, "mvq3-view")
    val h = MatView.Handle(view, src, "doc_id", "lang", Seq("n_chars"))
    Memo.once(view) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, view)
      // stage the corpus as a 3-file DIRECTORY (streaming file sources
      // monitor directories) and feed one file per micro-batch, so the
      // ingest→refresh loop genuinely folds multiple deltas
      val inDir = fixturePath(spark, dir, "mvq3-in")
      Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      val ingest = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Versioned.appendBatch(b, src, id)
          MatView.refresh(spark, h)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      ingest.awaitTermination()
      ()
    }
    MatView.read(spark, h).orderBy("lang")
  }

  val tableMatViewStreamSql: String =
    """SELECT lang, COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** The [[tableMatView]] lifecycle with VIEW SELF-MAINTENANCE in the
    * middle: after the first two refreshes the view's own history is
    * checkpoint-compacted and vacuumed ([[graft.io.MatView.maintainView]]
    * — the carried `_BATCH_` marker preserves the refresh lineage), then
    * the remaining source commits fold on top. A lineage loss would
    * double-fold the first deltas; the oracle (the same resolved-state
    * group-by as [[tableMatViewSql]]) catches exactly that. */
  def tableMatViewCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{MatView, Versioned}
    val src = fixturePath(spark, dir, "mvq4-src")
    val view = fixturePath(spark, dir, "mvq4-view")
    val h = MatView.Handle(view, src, "doc_id", "lang", Seq("n_chars"))
    Memo.once(view) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, view)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars")), src)
      MatView.init(spark, src, "doc_id", "lang", Seq("n_chars"), view)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).cast("long").as("n_chars")), src)
      MatView.refresh(spark, h)
      MatView.maintainView(spark, h) // compact + vacuum the view itself
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), src)
      Versioned.append(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("xx").as("lang"),
          col("doc_id").cast("long").as("n_chars")), src)
      MatView.refresh(spark, h)
      ()
    }
    MatView.read(spark, h).orderBy("lang")
  }

  /** Same final state as [[tableMatViewSql]] — maintenance must be
    * invisible to the view's contents. */
  val tableMatViewCompactSql: String = tableMatViewSql

  /** Time travel: the resolved state AS OF each version — live doc
    * count and total chars per version (upserts shift totals, deletes
    * shrink the count). */
  def tableAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "asof")
    (1 to 3).map { v =>
      // r11: time travel through the V2 face's versionAsOf option —
      // the same version-dir selection as Versioned.asOf, read by
      // Spark's V2 parquet scan; resolve + hash unchanged
      val cur = Versioned.currentOf(
          spark.read.format("graft").option("versionAsOf", v).load(path),
          "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .head()
      (v, cur.getLong(0), cur.getLong(1))
    }.toDF("version", "n_docs", "total_chars").orderBy("version")
  }

  val tableAsOfSql: String =
    s"""WITH $versionedLogSql,
       |res AS (
       |  SELECT hi.v AS version, u.*,
       |    ROW_NUMBER() OVER (PARTITION BY hi.v, u.doc_id ORDER BY u.v DESC) AS rk
       |  FROM (SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 3) hi
       |  JOIN u ON u.v <= hi.v)
       |SELECT version, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM res WHERE rk = 1 AND NOT del
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CDC between resolved versions (change-data-feed shape): what
    * happened to each key between v1 and v4 — inserts (v4's new keys),
    * updates (v2 upserts that survived v3's deletes, detected by
    * null-safe common-column compare), deletes (v3 tombstones). The
    * oracle derives the same relation from a FULL OUTER JOIN of the
    * two reconstructed resolved states. */
  def tableChanges(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "cdc", withInserts = true)
    Versioned.changes(spark, path, "doc_id", 1, 4)
      .orderBy("doc_id")
  }

  /** The SAME CDC relation at O(delta) cost
    * ([[graft.io.Versioned.changesIncremental]]): the delta slice's
    * newest-row window plus a broadcast-pruned point-lookup of the
    * old state for touched keys only — the V2 scan's runtime IN-set
    * file pruning must appear in the plan (asserted), because at
    * 100 TB the whole point is that the fromV side reads the touched
    * keys' files, not the table. Same oracle as [[tableChanges]]: the
    * incremental and full faces must never disagree. */
  def tableChangesInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "cdc", withInserts = true)
    val out = Versioned.changesIncremental(spark, path, "doc_id", 1, 4)
      .orderBy("doc_id")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("dynamicpruning"),
      "expected the old-state lookup to carry a dynamic-pruning " +
        "runtime filter on the graft scan; plan:\n" + plan)
    out
  }

  /** The SAME CDC relation through the SQL TABLE FUNCTION face
    * ([[graft.plans.GraftExtensions]] `graft_changes`): the TVF
    * splices [[graft.io.Versioned.changes]]'s logical plan into a
    * plain `SELECT … FROM graft_changes(path, key, from, to)` at
    * resolution time — dynamic schema, fully distributed, no
    * fixed-schema CALL procedure could express it. Same oracle as
    * [[tableChanges]]: a drift between the Scala and SQL faces
    * hash-mismatches. */
  def tableChangesSqlFace(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val path = buildVersionedDemo(spark, dir, "cdc", withInserts = true)
    spark.sql(s"SELECT doc_id, change_type " +
      s"FROM graft_changes('$path', 'doc_id', 1, 4) ORDER BY doc_id")
  }

  val tableChangesSql: String =
    s"""WITH $versionedLogSql,
       |u2 AS (
       |  SELECT * FROM u
       |  UNION ALL
       |  SELECT doc_id + 10000000, 'xx', doc_id, NULL, FALSE, 4
       |  FROM documents WHERE doc_id % 11 = 0),
       |ra AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |       FROM u2 WHERE v <= 1),
       |rb AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |       FROM u2 WHERE v <= 4),
       |a AS (SELECT doc_id, lang, n_chars FROM ra WHERE rk = 1 AND NOT del),
       |b AS (SELECT doc_id, lang, n_chars FROM rb WHERE rk = 1 AND NOT del),
       |j AS (
       |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |    CASE WHEN a.doc_id IS NULL THEN 'insert'
       |         WHEN b.doc_id IS NULL THEN 'delete'
       |         WHEN (a.lang IS DISTINCT FROM b.lang)
       |           OR (a.n_chars IS DISTINCT FROM b.n_chars) THEN 'update'
       |         ELSE 'none' END AS change_type
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT doc_id, change_type FROM j
       |WHERE change_type <> 'none' ORDER BY doc_id""".stripMargin

  /** STREAMING CDC end to end ([[graft.io.Versioned.changesStreamTo]]):
    * the 4-version demo table streamed through [[graft.io.Versioned
    * .logStream]] → per-version classification (the O(delta) kernel
    * via [[graft.io.Versioned.changesAuto]]) → exactly-once fold into
    * a Versioned change-feed sink. The result is the FEED itself:
    * one `(doc_id, change_type, change_version)` row per key-state
    * transition per commit — inserts@1, updates@2 (the %5 upsert),
    * deletes@3 (the %7 tombstones), inserts@4 (the brand-new keys) —
    * which the oracle replays generically (per-version resolve pairs
    * classified and unioned). Intermediate states are preserved, not
    * collapsed: insert@1 + delete@3 is two rows where one
    * `changes(0, 4)` would show neither. */
  def tableChangesStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "cdc", withInserts = true)
    val sink = "target/tmp/vtable-cdcfeed-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(sink) {
      Versioned.drop(spark, sink)
      val ckpt = sink + "-ckpt"
      val f = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      Versioned.changesStreamTo(spark, path, "doc_id", sink, ckpt)
        .awaitTermination()
      ()
    }
    // the feed is the sink's LOG (every appended change row), read as
    // explicit committed-version dirs — not a glob, which analyzes
    // eagerly and races the fixture's first build in fresh sessions
    val vs = Versioned.versions(spark, sink)
    spark.read.parquet(vs.map(v => s"$sink/v=$v"): _*)
      .select("doc_id", "change_type", "change_version")
      .orderBy("doc_id", "change_version")
  }

  val tableChangesStreamSql: String =
    s"""WITH $versionedLogSql,
       |u2 AS (
       |  SELECT * FROM u
       |  UNION ALL
       |  SELECT doc_id + 10000000, 'xx', doc_id, NULL, FALSE, 4
       |  FROM documents WHERE doc_id % 11 = 0),
       |vs AS (SELECT vv FROM generate_series(1, 4) t(vv)),
       |ra AS (SELECT vv, doc_id, lang, n_chars, del,
       |         ROW_NUMBER() OVER (PARTITION BY vv, doc_id ORDER BY v DESC) AS rk
       |       FROM vs JOIN u2 ON u2.v <= vv - 1),
       |rb AS (SELECT vv, doc_id, lang, n_chars, del,
       |         ROW_NUMBER() OVER (PARTITION BY vv, doc_id ORDER BY v DESC) AS rk
       |       FROM vs JOIN u2 ON u2.v <= vv),
       |a AS (SELECT vv, doc_id, lang, n_chars FROM ra WHERE rk = 1 AND NOT del),
       |b AS (SELECT vv, doc_id, lang, n_chars FROM rb WHERE rk = 1 AND NOT del),
       |j AS (
       |  SELECT COALESCE(a.vv, b.vv) AS change_version,
       |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |    CASE WHEN a.doc_id IS NULL THEN 'insert'
       |         WHEN b.doc_id IS NULL THEN 'delete'
       |         WHEN (a.lang IS DISTINCT FROM b.lang)
       |           OR (a.n_chars IS DISTINCT FROM b.n_chars) THEN 'update'
       |         ELSE 'none' END AS change_type
       |  FROM a FULL OUTER JOIN b ON a.vv = b.vv AND a.doc_id = b.doc_id)
       |SELECT doc_id, change_type, CAST(change_version AS INT) AS change_version
       |FROM j WHERE change_type <> 'none'
       |ORDER BY doc_id, change_version""".stripMargin

  /** AUTO-DISPATCHING CDC through SQL ([[graft.plans.GraftExtensions]]
    * `graft_changes_auto`): the range (1, 4] on the MERGE demo table
    * contains column-overlay commits, so the strict O(delta) face
    * refuses it — the auto face answers through the full kernel
    * instead of throwing at a cron'd consumer (the dispatch itself is
    * spec-pinned in ChangesStreamSpec for all three refusal paths).
    * Oracle: classify v1's resolved state against v4's merge-resolved
    * state. */
  def tableChangesAuto(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    tableMerge(spark, dir).count() // ensure the shared fixture exists
    val path = "target/tmp/vtable-merge-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    spark.sql(s"SELECT doc_id, change_type " +
      s"FROM graft_changes_auto('$path', 'doc_id', 1, 4) ORDER BY doc_id")
  }

  val tableChangesAutoSql: String =
    """WITH a AS (SELECT doc_id, lang, n_chars FROM documents),
      |b AS (SELECT doc_id,
      |    CASE WHEN doc_id % 14 = 0 THEN 'zz' ELSE lang END AS lang,
      |    CASE WHEN doc_id % 14 = 0 THEN NULL
      |         WHEN doc_id % 3 = 0 THEN n_chars + 5000
      |         ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 14 = 0 OR doc_id % 7 <> 0),
      |j AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN a.doc_id IS NULL THEN 'insert'
      |         WHEN b.doc_id IS NULL THEN 'delete'
      |         WHEN (a.lang IS DISTINCT FROM b.lang)
      |           OR (a.n_chars IS DISTINCT FROM b.n_chars) THEN 'update'
      |         ELSE 'none' END AS change_type
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT doc_id, change_type FROM j
      |WHERE change_type <> 'none' ORDER BY doc_id""".stripMargin

  /** Column-level MERGE (`WHEN MATCHED THEN UPDATE SET` / `WHEN NOT
    * MATCHED THEN INSERT`): v1 = all documents; v2 = a MERGE bumping
    * `n_chars` by 5000 for doc_id % 3 == 0 (the update frame carries NO
    * lang column — base values must survive); v3 = tombstone deletes of
    * doc_id % 7 == 0; v4 = a MERGE setting `lang='zz'` for
    * doc_id % 14 == 0 — keys deleted in v3, so the merge INSERTS them
    * (lang only, n_chars null). The resolve is the merge-aware
    * per-column latest-non-null aggregation ([[graft.io.Versioned]]),
    * still one key shuffle. */
  def tableMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-merge-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "lang", "n_chars"), path)
      Versioned.merge(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + 5000).as("n_chars")), path)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)
      Versioned.merge(docs.filter(col("doc_id") % 14 === 0)
        .select(col("doc_id"), lit("zz").as("lang")), path)
      ()
    }
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  val tableMergeSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 14 = 0 THEN 'zz' ELSE lang END AS lang,
      |  CAST(CASE WHEN doc_id % 14 = 0 THEN NULL
      |            WHEN doc_id % 3 = 0 THEN n_chars + 5000
      |            ELSE n_chars END AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id % 14 = 0 OR doc_id % 7 <> 0
      |ORDER BY doc_id""".stripMargin

  /** Zone-map pruned read: v1 = all documents RANGE-partitioned on
    * doc_id (each file covers a disjoint key slice, so the commit-time
    * footer stats are tight); v2 = an upsert of doc_id % 50 == 0. The
    * read resolves keys in [100, 600] via [[graft.io.Versioned
    * .currentAsOfRange]], which opens ONLY the files whose footer
    * [min,max] intersect the range (VersionedSpec pins the file-count
    * reduction; this row pins that the pruned read loses no rows). */
  def tablePrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-prune-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "n_chars")
        .repartitionByRange(8, col("doc_id")), path)
      Versioned.append(docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), (col("n_chars") + 9000).as("n_chars")), path)
      ()
    }
    Versioned.currentRange(spark, path, "doc_id", 100L, 600L)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  val tablePruneSql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 50 = 0 THEN n_chars + 9000
      |            ELSE n_chars END AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id BETWEEN 100 AND 600
      |ORDER BY doc_id""".stripMargin

  /** Z-order snapshot range read: the demo log (append, upsert,
    * delete) compacted with [[graft.io.Versioned.compactZOrder]] on
    * (doc_id, n_chars) into 8 Morton-clustered files, then scanned
    * with a NON-KEY predicate (n_chars range) through
    * [[graft.io.Versioned.snapshotRange]] — the read that zone-map
    * prunes files on any clustered column, sound only on a checkpoint
    * snapshot where each key is materialized once. The oracle
    * recomputes the resolved state and applies the same range,
    * certifying the pruned scan loses no rows (VersionedSpec pins the
    * file-count reduction). */
  def tableSnapshotRange(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-zsnap-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "lang", "n_chars"), path)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).as("n_chars")), path)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)
      Versioned.compactZOrder(spark, path, "doc_id",
        Seq("doc_id", "n_chars"), nFiles = 8)
      ()
    }
    Versioned.snapshotRange(spark, path,
        Versioned.latestVersion(spark, path), "n_chars", 500L, 1500L)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  val tableSnapshotRangeSql: String =
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    CAST(CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS BIGINT) AS n_chars
      |  FROM documents WHERE doc_id % 7 <> 0)
      |SELECT doc_id, lang, n_chars FROM r
      |WHERE n_chars BETWEEN 500 AND 1500 ORDER BY doc_id""".stripMargin

  /** INCREMENTAL compaction certified byte-for-byte (r12 —
    * [[graft.io.Versioned.compactIncremental]]): the demo log takes an
    * 8-file key-clustered checkpoint, then two NARROW-BAND deltas
    * (upsert doc_id <= 60, delete 61..70), then the incremental fold —
    * which must CARRY the untouched files by manifest reference
    * (required in-fixture) and rewrite only the dirty band. The read
    * resolves off the incremental checkpoint alone (it is the newest
    * base), so the DuckDB oracle replaying the whole log hash-checks
    * BOTH halves of the fold: a row lost from a carried reference or
    * doubled into the rewritten part mismatches. */
  def tableCompactPartial(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = "target/tmp/vtable-incc-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Memo.once(path) {
      Versioned.drop(spark, path)
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          lit(null).cast("string").as("source"))
      Versioned.append(docs, path)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000), path)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)
      Versioned.compact(spark, path, "doc_id", nFiles = 8)
      Versioned.append(docs.filter(col("doc_id") <= 60)
        .withColumn("n_chars", col("n_chars") + 77)
        .withColumn("source", lit("p")), path)
      Versioned.delete(docs.filter(col("doc_id").between(61, 70))
        .select("doc_id"), path)
      val v = Versioned.compactIncremental(spark, path, "doc_id")
      require(new java.io.File(s"$path/v=$v/_MANIFEST.tsv").exists(),
        "incremental checkpoint must carry untouched files by reference")
      ()
    }
    Versioned.current(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableCompactPartialSql: String =
    """SELECT doc_id, lang,
      |  CAST(CASE WHEN doc_id <= 60 THEN n_chars + 77
      |            WHEN doc_id % 5 = 0 THEN n_chars + 1000
      |            ELSE n_chars END AS BIGINT) AS n_chars,
      |  CASE WHEN doc_id <= 60 THEN 'p' ELSE 'unknown' END AS source
      |FROM documents
      |WHERE (doc_id % 7 <> 0 OR doc_id <= 60)
      |  AND doc_id NOT BETWEEN 61 AND 70
      |ORDER BY doc_id""".stripMargin

  /** SHALLOW CLONE certified byte-for-byte (r12 —
    * [[graft.io.Versioned.cloneShallow]]): the demo log (append,
    * upsert %5, delete %7) is cloned ZERO-COPY at its resolved head
    * (auto-folded incrementally — the head is dirty at clone time),
    * then the CLONE alone takes a further upsert (doc_id %11, +50,
    * source 'c'). The read resolves the clone: its base rows come
    * entirely from manifest-referenced SOURCE files, its delta from
    * its own commit — the DuckDB oracle replaying both layers
    * hash-checks that the reference layer lost nothing and the
    * clone's writes never leaked into (or from) the source. */
  def tableClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = s"target/tmp/vtable-clonesrc-$tag"
    val dst = s"target/tmp/vtable-clonedst-$tag"
    Memo.once(dst) {
      Versioned.drop(spark, src)
      Versioned.drop(spark, dst)
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          lit(null).cast("string").as("source"))
      Versioned.append(docs, src)
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000), src)
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), src)
      Versioned.cloneShallow(spark, src, dst, "doc_id")
      // the clone's own delta; the source must never see it
      Versioned.append(docs.filter(col("doc_id") % 11 === 0)
        .withColumn("n_chars", col("n_chars") + 50)
        .withColumn("source", lit("c")), dst)
      ()
    }
    Versioned.current(spark, dst, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"))
      .orderBy("doc_id")
  }

  val tableCloneSql: String =
    """SELECT doc_id, lang,
      |  CAST(CASE WHEN doc_id % 11 = 0 THEN n_chars + 50
      |            WHEN doc_id % 5 = 0 THEN n_chars + 1000
      |            ELSE n_chars END AS BIGINT) AS n_chars,
      |  CASE WHEN doc_id % 11 = 0 THEN 'c' ELSE 'unknown' END AS source
      |FROM documents
      |WHERE doc_id % 7 <> 0 OR doc_id % 11 = 0
      |ORDER BY doc_id""".stripMargin

  /** SCD Type-2 history of the versioned table ([[graft.io.Versioned
    * .history]]): every state each doc took across the demo log
    * (append, upsert, delete), with its validity interval. Shares the
    * `asof` fixture. The oracle re-derives the log from `documents`
    * and applies the same LEAD window — certifying that one
    * key-partitioned window is the whole operator. */
  def tableHistory(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val path = buildVersionedDemo(spark, dir, "asof")
    Versioned.history(spark, path, "doc_id")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("source"), lit("unknown")).as("source"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("doc_id", "valid_from")
  }

  val tableHistorySql: String =
    s"""WITH $versionedLogSql,
       |h AS (SELECT *, LEAD(v) OVER (PARTITION BY doc_id ORDER BY v) AS vnext
       |      FROM u)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  COALESCE(source, 'unknown') AS source,
       |  CAST(v AS INTEGER) AS valid_from,
       |  CAST(vnext - 1 AS INTEGER) AS valid_to,
       |  vnext IS NULL AS is_current
       |FROM h WHERE NOT del ORDER BY doc_id, valid_from""".stripMargin

  /** Skew-salted two-stage aggregation over events: stage 1 partially
    * aggregates on (user_id, salt) — a whale user's rows spread over
    * 16 reduce tasks instead of one — stage 2 folds the partials on
    * user_id alone (16 rows per key, trivially balanced). The oracle
    * is the PLAIN group-by: salting must be invisible in the result.
    * This is the documented escape hatch when a key's row count
    * exceeds what one task should hold and AQE's skew handling can't
    * apply (e.g. a stateful downstream op pinned to the key
    * partitioning) — see SCALING.md's event-skew stress. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val nSalts = 16
    // ts is TIMESTAMP(NANOS) in the driver's parquet; it's pruned away
    // here, but the vectorized reader still needs the legacy flag to
    // accept the file schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_id", "value")
      .withColumn("__salt", pmod(xxhash64(col("event_id")), lit(nSalts)))
      .groupBy("user_id", "__salt")
      .agg(count(lit(1)).as("c"), sum("value").as("s"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), round(sum("s"), 6).as("sum_value"))
      .orderBy("user_id")
  }

  val saltedAggSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  ROUND(SUM(value), 6) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Explicit GROUPING SETS lattice — the corners CUBE/ROLLUP can't
    * express: per-language totals, per-source totals, and the
    * (lang, source) cross, WITHOUT the grand total. One Expand node,
    * like cube/rollup — Catalyst plans all three grouping shapes
    * through a single pass. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")),
          Seq(col("lang"), col("source"))),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))

  val groupingSetsAggSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), (lang, source))
      |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ---- registry ----

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hist2d" -> hist2d _,
    "q_hist3d" -> hist3d _,
    "q_margin" -> margin _,
    "q_joint" -> joint _,
    "q_mi" -> mi _,
    "q_micmi" -> micmi _,
    "q_entropy" -> entropy _,
    "q_cardinality" -> cardinality _,
    "q_selector_mim" -> selectorMim _,
    "q_selector_mim_wide" -> selectorMimWide _,
    "q_selector_mrmr" -> selectorPath("mrmr") _,
    "q_selector_jmi" -> selectorPath("jmi") _,
    "q_selector_mifs" -> selectorPath("mifs", beta = 0.5) _,
    "q_selector_cmim" -> selectorPath("cmim") _,
    "q_selector_icap" -> selectorPath("icap") _,
    "q_selector_if" -> selectorPath("if") _,
    "q_transform_gather" -> transformGather _,
    "q_discretize" -> discretize _,
    "q_count" -> countInstances _,
    "q_rollup" -> rollupQty _,
    "q_schema_evolution" -> schemaEvolution _,
    "q_table_current" -> tableCurrent _,
    "q_matview" -> tableMatView _,
    "q_joinview" -> tableJoinView _,
    "q_joinview_minmax" -> tableJoinViewMinMax _,
    "q_joinview_chain_sql" -> tableJoinViewChainSql _,
    "q_table_quarantine" -> tableQuarantine _,
    "q_table_quarantine_sql" -> tableQuarantineViaSql _,
    "q_matview_minmax" -> tableMatViewMinMax _,
    "q_matview_stream" -> tableMatViewStream _,
    "q_distinct_view" -> tableDistinctView _,
    "q_matview_compact" -> tableMatViewCompact _,
    "q_table_asof" -> tableAsOf _,
    "q_table_changes" -> tableChanges _,
    "q_table_changes_sql" -> tableChangesSqlFace _,
    "q_table_changes_stream" -> tableChangesStream _,
    "q_table_replicate" -> tableReplicate _,
    "q_table_changes_auto" -> tableChangesAuto _,
    "q_table_changes_inc" -> tableChangesInc _,
    "q_table_merge" -> tableMerge _,
    "q_table_prune" -> tablePrune _,
    "q_table_history" -> tableHistory _,
    "q_table_snapshot_range" -> tableSnapshotRange _,
    "q_table_compact_partial" -> tableCompactPartial _,
    "q_table_clone" -> tableClone _,
    "q_table_point" -> tablePoint _,
    "q_table_restore" -> tableRestore _,
    "q_table_rename" -> tableRename _,
    "q_table_rename_v2" -> tableRenameV2 _,
    "q_table_agg_pushdown" -> tableAggPushdown _,
    "q_table_dpp" -> tableDpp _,
    "q_table_limit_pushdown" -> tableLimitPushdown _,
    "q_table_widen" -> tableWiden _,
    "q_table_delete_where" -> tableDeleteWhere _,
    "q_table_sql_current" -> tableSqlCurrent _,
    "q_matview_sql" -> matviewSql _,
    "q_table_sql_asof" -> tableSqlAsof _,
    "q_table_sql_maintain" -> tableSqlMaintain _,
    "q_table_maintain_all" -> tableSqlMaintainAll _,
    "q_table_sql_merge" -> tableSqlMerge _,
    "q_table_sql_evolve" -> tableSqlEvolve _,
    "q_table_rename_dml" -> tableRenameDml _,
    "q_table_sql_stream" -> tableSqlStream _,
    "q_table_stream_read" -> tableStreamRead _,
    "q_table_sql_update" -> tableSqlUpdate _,
    "q_salted_agg" -> saltedAgg _,
    "q_grouping_sets" -> groupingSetsAgg _,
    "q_cube" -> cubeQty _,
    "q_ntile_lang" -> ntileLang _,
    "q_libsvm_roundtrip" -> libsvmRoundtrip _,
    "q_keel_read" -> keelRoundtrip _,
    "q_quantiles" -> quantiles _,
    "q_sparse_hist2d" -> sparseHist2d _,
    "q_sparse_selector_mim" -> sparseSelectorMim _,
    "q_sparse_micmi" -> sparseMicmi _,
    "q_selector_mrmr_wide" -> selectorMrmrWide _,
    "q_profile" -> profile _,
    "q_bucketed_join" -> bucketedJoin _,
    "q_jsonl_roundtrip" -> jsonlRoundtrip _,
    "q_csv_roundtrip" -> csvRoundtrip _,
    "q_partitioned_prune" -> partitionedPrune _)

  val oracles: Map[String, String] = Map(
    "q_hist2d" -> hist2dSql,
    "q_hist3d" -> hist3dSql,
    "q_margin" -> marginSql,
    "q_joint" -> jointSql,
    "q_mi" -> miSql,
    "q_micmi" -> micmiSql,
    "q_entropy" -> entropySql,
    "q_cardinality" -> cardinalitySql,
    "q_selector_mim" -> selectorMimSql,
    "q_selector_mim_wide" -> selectorMimWideSql,
    "q_selector_mrmr" -> selectorMrmrSql,
    "q_selector_jmi" -> selectorJmiSql,
    "q_selector_mifs" -> selectorMifsSql,
    "q_selector_cmim" -> selectorCmimSql,
    "q_selector_icap" -> selectorIcapSql,
    "q_selector_if" -> selectorCmimSql,
    "q_transform_gather" -> transformGatherSql,
    "q_discretize" -> discretizeSql,
    "q_count" -> countInstancesSql,
    "q_rollup" -> rollupQtySql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_table_current" -> tableCurrentSql,
    "q_matview" -> tableMatViewSql,
    "q_joinview" -> tableJoinViewSql,
    "q_joinview_minmax" -> tableJoinViewMinMaxSql,
    "q_joinview_chain_sql" -> tableJoinViewChainSqlSql,
    "q_table_quarantine" -> tableQuarantineSql,
    "q_table_quarantine_sql" -> tableQuarantineViaSqlSql,
    "q_matview_minmax" -> tableMatViewMinMaxSql,
    "q_distinct_view" -> tableDistinctViewSql,
    "q_matview_stream" -> tableMatViewStreamSql,
    "q_matview_compact" -> tableMatViewCompactSql,
    "q_table_asof" -> tableAsOfSql,
    "q_table_changes" -> tableChangesSql,
    "q_table_changes_sql" -> tableChangesSql,
    "q_table_changes_stream" -> tableChangesStreamSql,
    "q_table_replicate" -> tableCurrentSql,
    "q_table_changes_auto" -> tableChangesAutoSql,
    "q_table_changes_inc" -> tableChangesSql,
    "q_table_merge" -> tableMergeSql,
    "q_table_prune" -> tablePruneSql,
    "q_table_history" -> tableHistorySql,
    "q_table_snapshot_range" -> tableSnapshotRangeSql,
    "q_table_compact_partial" -> tableCompactPartialSql,
    "q_table_clone" -> tableCloneSql,
    "q_table_point" -> tablePointSql,
    "q_table_restore" -> tableRestoreSql,
    "q_table_rename" -> tableRenameSql,
    "q_table_rename_v2" -> tableRenameSql,
    "q_table_agg_pushdown" -> tableAggPushdownSql,
    "q_table_dpp" -> tableDppSql,
    "q_table_limit_pushdown" -> tableLimitPushdownSql,
    "q_table_widen" -> tableWidenSql,
    "q_table_delete_where" -> tableDeleteWhereSql,
    "q_table_sql_current" -> tableSqlCurrentSql,
    "q_matview_sql" -> matviewSqlSql,
    "q_table_sql_asof" -> tableSqlAsofSql,
    "q_table_sql_maintain" -> tableSqlMaintainSql,
    "q_table_maintain_all" -> tableSqlMaintainAllSql,
    "q_table_sql_merge" -> tableSqlMergeSql,
    "q_table_sql_evolve" -> tableSqlEvolveSql,
    "q_table_rename_dml" -> tableRenameDmlSql,
    "q_table_sql_stream" -> tableSqlStreamSql,
    "q_table_stream_read" -> tableStreamReadSql,
    "q_table_sql_update" -> tableSqlUpdateSql,
    "q_salted_agg" -> saltedAggSql,
    "q_grouping_sets" -> groupingSetsAggSql,
    "q_cube" -> cubeQtySql,
    "q_ntile_lang" -> ntileLangSql,
    "q_libsvm_roundtrip" -> ioRoundtripSql,
    "q_keel_read" -> ioRoundtripSql,
    "q_quantiles" -> quantilesSql,
    "q_sparse_hist2d" -> sparseHist2dSql,
    "q_sparse_selector_mim" -> sparseSelectorMimSql,
    "q_sparse_micmi" -> sparseMicmiSql,
    "q_selector_mrmr_wide" -> selectorMrmrWideSql,
    "q_profile" -> profileSql,
    "q_bucketed_join" -> bucketedJoinSql,
    "q_jsonl_roundtrip" -> jsonlRoundtripSql,
    "q_csv_roundtrip" -> csvRoundtripSql,
    "q_partitioned_prune" -> partitionedPruneSql)
}
