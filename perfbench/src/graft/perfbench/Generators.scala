package graft.perfbench

import java.util.SplittableRandom

/**
 * Seeded row generators. Row `i` depends only on (seed, i), so executors
 * build the Spark input in parallel while the Spark driver builds the same
 * rows for the reference. Each generator plants informative features,
 * noisy copies of them (redundant) and, where the criteria should part,
 * complementary pairs, at seed-chosen feature indices.
 */
object Generators {

  /** SplitMix64 finalizer: a well-mixed 64-bit key from two inputs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Seeded permutation of 0 until n: the planted features' indices. */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val rng = new SplittableRandom(mix(seed, -1L))
    val p = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  def rowRng(seed: Long, i: Int): SplittableRandom =
    new SplittableRandom(mix(seed, i.toLong))
}

/**
 * `paper_fit`: continuous features, balanced binary label (row parity).
 * 12 informative features (label-shifted Gaussians of falling strength),
 * two noisy copies of each, three XOR-like pairs whose second member is
 * informative only jointly with the first, the rest N(0,1) noise.
 */
final case class PaperLayout(seed: Long, nf: Int) {
  private val perm = Generators.permutation(seed, nf)
  private val nInf = 12
  val informative: Array[Int] = perm.slice(0, nInf)
  val copies: Array[Int] = perm.slice(nInf, 3 * nInf)
  val pairA: Array[Int] = perm.slice(3 * nInf, 3 * nInf + 3)
  val pairB: Array[Int] = perm.slice(3 * nInf + 3, 3 * nInf + 6)

  def label(i: Int): Int = i & 1

  def row(i: Int): Array[Double] = {
    val rng = Generators.rowRng(seed, i)
    val sign = if (label(i) == 1) 1.0 else -1.0
    val x = Array.fill(nf)(rng.nextGaussian())
    for (j <- 0 until nInf) x(informative(j)) += sign * 1.2 * math.pow(0.82, j)
    for (c <- copies.indices) {
      val noise = if (c % 2 == 0) 0.3 else 0.8
      x(copies(c)) = x(informative(c / 2)) + noise * x(copies(c))
    }
    for (p <- pairA.indices) {
      x(pairA(p)) += 0.3 * sign
      val s = if (x(pairA(p)) >= 0) sign else -sign
      x(pairB(p)) = s * math.abs(x(pairB(p))) + 0.3 * rng.nextGaussian()
    }
    x
  }
}

/**
 * `sparse_text`: bag-of-words rows over `nf` terms at about 1% density,
 * values 1-4, balanced binary label (row parity). Background terms are
 * uniform: with skewed term frequencies the cached set's sampled size
 * estimate swings from seed to seed. 10 planted terms occur far more
 * often in label-1 rows, and each has a companion term that mostly
 * co-occurs with it.
 */
final case class SparseLayout(seed: Long, nf: Int) {
  private val perm = Generators.permutation(seed, nf)
  val informative: Array[Int] = perm.slice(0, 10)
  val companions: Array[Int] = perm.slice(10, 20)
  private val meanTerms = math.max(2, nf / 100)

  def label(i: Int): Int = i & 1

  /** (sorted term indices, values). */
  def row(i: Int): (Array[Int], Array[Double]) = {
    val rng = Generators.rowRng(seed, i)
    val terms = scala.collection.mutable.TreeMap.empty[Int, Double]
    val count = meanTerms / 2 + rng.nextInt(meanTerms)
    for (_ <- 0 until count) terms(rng.nextInt(nf)) = 1.0 + rng.nextInt(4)
    for (j <- informative.indices) {
      val p = if (label(i) == 1) 0.35 - 0.02 * j else 0.05
      if (rng.nextDouble() < p) {
        terms(informative(j)) = 1.0 + rng.nextInt(4)
        if (rng.nextDouble() < 0.75) terms(companions(j)) = 1.0 + rng.nextInt(4)
      }
    }
    (terms.keysIterator.toArray, terms.valuesIterator.toArray)
  }
}
