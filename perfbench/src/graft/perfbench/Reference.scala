package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One column of the byte matrix the reference greedy reads. */
sealed trait RefColumn {
  /** Number of distinct table slots: max value + 1. */
  def card: Int
  def dense: Array[Byte]
}

final case class DenseColumn(values: Array[Byte]) extends RefColumn {
  val card: Int = Reference.maxValue(values) + 1
  def dense: Array[Byte] = values
}

/** Explicit `rows(i) -> values(i)`; every other row holds 0. */
final case class SparseColumn(n: Int, rows: Array[Int], values: Array[Byte])
    extends RefColumn {
  val card: Int = Reference.maxValue(values) + 1
  def dense: Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < rows.length) { out(rows(i)) = values(i); i += 1 }
    out
  }
}

/**
 * Expected selection paths, computed single-threaded on the Spark driver from
 * the generated byte matrix. Nothing here uses `graft.core`: the tables,
 * the MI/CMI sums and the criteria (Brown et al. 2012) are written out
 * again, so a wrong kernel, merge or score in the engine shows as a
 * mismatch instead of agreeing with itself.
 */
object Reference {

  private val Ln2 = math.log(2.0)

  def maxValue(values: Array[Byte]): Int = {
    var m = 0
    var i = 0
    while (i < values.length) { m = math.max(m, values(i) & 0xFF); i += 1 }
    m
  }

  /** counts(x * ys + y) of column `x` against the dense column `y`. */
  private def table2(x: RefColumn, y: Array[Byte], ys: Int): Array[Long] = {
    val t = new Array[Long](x.card * ys)
    x match {
      case DenseColumn(v) =>
        var i = 0
        while (i < v.length) { t((v(i) & 0xFF) * ys + (y(i) & 0xFF)) += 1; i += 1 }
      case SparseColumn(n, rows, vals) =>
        var i = 0
        while (i < n) { t(y(i) & 0xFF) += 1; i += 1 }
        i = 0
        while (i < rows.length) {
          val yv = y(rows(i)) & 0xFF
          t(yv) -= 1
          t((vals(i) & 0xFF) * ys + yv) += 1
          i += 1
        }
    }
    t
  }

  /** counts((x * ys + y) * zs + z). */
  private def table3(x: RefColumn, y: Array[Byte], ys: Int,
      z: Array[Byte], zs: Int): Array[Long] = {
    val t = new Array[Long](x.card * ys * zs)
    x match {
      case DenseColumn(v) =>
        var i = 0
        while (i < v.length) {
          t(((v(i) & 0xFF) * ys + (y(i) & 0xFF)) * zs + (z(i) & 0xFF)) += 1
          i += 1
        }
      case SparseColumn(n, rows, vals) =>
        var i = 0
        while (i < n) { t((y(i) & 0xFF) * zs + (z(i) & 0xFF)) += 1; i += 1 }
        i = 0
        while (i < rows.length) {
          val r = rows(i)
          val yz = (y(r) & 0xFF) * zs + (z(r) & 0xFF)
          t(yz) -= 1
          t((vals(i) & 0xFF) * ys * zs + yz) += 1
          i += 1
        }
    }
    t
  }

  /** I(X;Y) = sum p(x,y) log2(p(x,y) / (p(x) p(y))). */
  private def mutualInfo(t: Array[Long], xs: Int, ys: Int, n: Long): Double = {
    val cx = new Array[Long](xs)
    val cy = new Array[Long](ys)
    for (x <- 0 until xs; y <- 0 until ys) {
      cx(x) += t(x * ys + y); cy(y) += t(x * ys + y)
    }
    var mi = 0.0
    for (x <- 0 until xs; y <- 0 until ys) {
      val c = t(x * ys + y)
      if (c > 0) mi += c.toDouble / n * math.log(c.toDouble * n / (cx(x).toDouble * cy(y))) / Ln2
    }
    mi
  }

  /** (I(X;Y), I(X;Y|Z)) from counts((x * ys + y) * zs + z). */
  private def miCmi(t: Array[Long], xs: Int, ys: Int, zs: Int,
      n: Long): (Double, Double) = {
    val cxy = new Array[Long](xs * ys)
    val cxz = new Array[Long](xs * zs)
    val cyz = new Array[Long](ys * zs)
    val cz = new Array[Long](zs)
    for (x <- 0 until xs; y <- 0 until ys; z <- 0 until zs) {
      val c = t((x * ys + y) * zs + z)
      cxy(x * ys + y) += c; cxz(x * zs + z) += c; cyz(y * zs + z) += c; cz(z) += c
    }
    var cmi = 0.0
    for (x <- 0 until xs; y <- 0 until ys; z <- 0 until zs) {
      val c = t((x * ys + y) * zs + z)
      if (c > 0) {
        cmi += c.toDouble / n *
          math.log(c.toDouble * cz(z) / (cxz(x * zs + z).toDouble * cyz(y * zs + z))) / Ln2
      }
    }
    (mutualInfo(cxy, xs, ys, n), cmi)
  }

  /**
   * Greedy path under `criterion` (mrmr | jmi): (feature, score at
   * selection) in selection order. Ties go to the lowest index.
   */
  def greedy(cols: Array[RefColumn], label: Array[Byte], criterion: String,
      k: Int): Array[(Int, Double)] = {
    val nf = cols.length
    val n = label.length.toLong
    val zs = maxValue(label) + 1
    val rel = Array.tabulate(nf)(f =>
      mutualInfo(table2(cols(f), label, zs), cols(f).card, zs, n))
    val sumMi = new Array[Double](nf)
    val sumCmi = new Array[Double](nf)
    val valid = Array.fill(nf)(true)
    var rounds = 0
    def score(f: Int): Double = criterion match {
      case "mrmr" => if (rounds == 0) rel(f) else rel(f) - sumMi(f) / rounds
      case "jmi" =>
        if (rounds == 0) rel(f) else rel(f) - (sumMi(f) - sumCmi(f)) / rounds
      case other => throw new IllegalArgumentException(s"no reference for $other")
    }
    val path = ArrayBuffer.empty[(Int, Double)]
    while (path.length < math.min(k, nf)) {
      var best = -1
      var bestScore = 0.0
      for (f <- 0 until nf if valid(f)) {
        val s = score(f)
        if (best < 0 || s > bestScore) { best = f; bestScore = s }
      }
      path += ((best, bestScore))
      valid(best) = false
      if (path.length < math.min(k, nf)) {
        val y = cols(best).dense
        val ys = cols(best).card
        for (f <- 0 until nf if valid(f)) {
          val (mi, cmi) = miCmi(table3(cols(f), y, ys, label, zs),
            cols(f).card, ys, zs, n)
          sumMi(f) += mi; sumCmi(f) += cmi
        }
        rounds += 1
      }
    }
    path.toArray
  }

  /**
   * Equal-frequency splits of one whole column with -Inf/+Inf sentinels:
   * the stride walk of Spark 1.6's QuantileDiscretizer that the engine's
   * discretizer documents. Equals the engine's splits whenever its split
   * search sees every row, i.e. at most max(buckets^2, 10000) rows.
   */
  def splits(values: Array[Double], numBuckets: Int): Array[Double] = {
    val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    val distinct = ArrayBuffer.empty[Double]
    val counts = ArrayBuffer.empty[Int]
    sorted.foreach { v =>
      if (distinct.nonEmpty && java.lang.Double.compare(distinct.last, v) == 0) {
        counts(counts.length - 1) += 1
      } else { distinct += v; counts += 1 }
    }
    val numSplits = numBuckets - 1
    val candidates =
      if (distinct.length <= numSplits) distinct.toArray
      else {
        distinct += Double.MaxValue; counts += 1
        val stride = math.ceil(values.length.toDouble / numBuckets)
        val out = ArrayBuffer.empty[Double]
        var current = counts(0)
        var target = stride
        for (i <- 1 until distinct.length) {
          val previous = current
          current += counts(i)
          if (math.abs(previous - target) < math.abs(current - target)) {
            out += distinct(i - 1)
            target += stride
          }
        }
        out.toArray
      }
    val inner = candidates.filterNot(_.isInfinite)
    if (inner.isEmpty) Array(Double.NegativeInfinity, 0.0, Double.PositiveInfinity)
    else Double.NegativeInfinity +: inner :+ Double.PositiveInfinity
  }

  /** Bucket of `v`: the last split closes the last bucket. */
  def bucket(splits: Array[Double], v: Double): Int =
    if (v == splits.last) splits.length - 2
    else {
      val i = java.util.Arrays.binarySearch(splits, v)
      if (i >= 0) i else -i - 2
    }
}
