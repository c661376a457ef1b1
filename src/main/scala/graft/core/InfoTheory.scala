package graft.core

/**
 * Entropy / mutual-information / conditional-mutual-information math over
 * contingency tables.
 *
 * Semantics match the reference's distributed primitives
 * (reference: computeMutualInfo InfoTheory.scala:62-96,
 * computeConditionalMutualInfo InfoTheory.scala:110-176, entropy
 * InfoTheory.scala:629-651) with one structural simplification: every
 * marginal a feature needs is derived from that feature's own histogram
 * in a single executor-side pass, instead of broadcasting separately
 * cached probability tables — same math, fewer moving parts, and each
 * (feature, histogram) record is independent, so the MI/CMI map is
 * embarrassingly parallel.
 *
 * All accumulation in Double (the reference truncates to Float at
 * InfoTheory.scala:90/:169; tests compare with epsilon).
 */
object InfoTheory {

  @inline def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** H(X) from value counts (reference: InfoTheory.scala:638-651). */
  def entropy(freqs: Array[Long], n: Long): Double = {
    var h = 0.0
    var i = 0
    while (i < freqs.length) {
      val q = freqs(i)
      if (q > 0) { val p = q.toDouble / n; h -= p * log2(p) }
      i += 1
    }
    h
  }

  /** I(X;Y) from a 2-D contingency table
    * (reference math: InfoTheory.scala:75-90). */
  def mutualInfo(h: Hist2D, n: Long): Double = {
    val xs = h.xs; val ys = h.ys
    val px = new Array[Long](xs)
    val py = new Array[Long](ys)
    var x = 0
    while (x < xs) {
      var y = 0
      while (y < ys) {
        val c = h(x, y); px(x) += c; py(y) += c; y += 1
      }
      x += 1
    }
    val nd = n.toDouble
    var mi = 0.0
    x = 0
    while (x < xs) {
      if (px(x) > 0) {
        var y = 0
        while (y < ys) {
          val c = h(x, y)
          if (c > 0 && py(y) > 0) {
            val pxy = c / nd
            mi += pxy * log2(pxy * nd * nd / (px(x).toDouble * py(y).toDouble))
          }
          y += 1
        }
      }
      x += 1
    }
    mi
  }

  /**
   * (I(X;Y), I(X;Y|Z)) from a 3-D contingency table in one pass
   * (reference: the fused MI+CMI map, InfoTheory.scala:140-168).
   *
   * I(X;Y) is [[mutualInfo]] over the x-y marginal; CMI via
   * I(X;Y|Z) = sum_xyz p(xyz) * log2( p(z)p(xyz) / (p(xz)p(yz)) ).
   */
  def miAndCmi(h: Hist3D, n: Long): (Double, Double) = {
    val xs = h.xs; val ys = h.ys; val zs = h.zs
    val cxy = new Array[Long](xs * ys)
    val cxz = new Array[Long](xs * zs)
    val cyz = new Array[Long](ys * zs)
    val cz = new Array[Long](zs)
    var z = 0
    while (z < zs) {
      var x = 0
      while (x < xs) {
        var y = 0
        while (y < ys) {
          val c = h(x, y, z)
          if (c > 0) {
            cxy(x * ys + y) += c; cxz(x * zs + z) += c
            cyz(y * zs + z) += c; cz(z) += c
          }
          y += 1
        }
        x += 1
      }
      z += 1
    }
    val mi = mutualInfo(Hist2D(xs, ys, cxy), n)
    val nd = n.toDouble
    var cmi = 0.0
    z = 0
    while (z < zs) {
      if (cz(z) > 0) {
        var xx = 0
        while (xx < xs) {
          if (cxz(xx * zs + z) > 0) {
            var yy = 0
            while (yy < ys) {
              val c = h(xx, yy, z)
              if (c > 0 && cyz(yy * zs + z) > 0) {
                val pxyz = c / nd
                cmi += pxyz * log2(
                  cz(z).toDouble * c /
                    (cxz(xx * zs + z).toDouble * cyz(yy * zs + z).toDouble))
              }
              yy += 1
            }
          }
          xx += 1
        }
      }
      z += 1
    }
    (mi, cmi)
  }
}
