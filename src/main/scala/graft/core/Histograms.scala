package graft.core

import org.apache.spark.rdd.RDD

/** Dense 2-D contingency table for one feature: counts(x*ys + y). */
final case class Hist2D(xs: Int, ys: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int): Long = counts(x * ys + y)
  def add(other: Hist2D): Hist2D = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    this
  }
  def total: Long = { var s = 0L; var i = 0; while (i < counts.length) { s += counts(i); i += 1 }; s }
}

/** Dense 3-D contingency table for one feature: counts((z*xs + x)*ys + y). */
final case class Hist3D(xs: Int, ys: Int, zs: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int, z: Int): Long = counts((z * xs + x) * ys + y)
  def add(other: Hist3D): Hist3D = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    this
  }
}

/**
 * Distributed contingency-table builders over the columnar working set.
 *
 * Re-expression of the reference's histogram dataflows
 * (reference: computeHistograms InfoTheory.scala:474-521,
 * computeConditionalHistograms InfoTheory.scala:535-586): each
 * [[ColumnBlock]] yields one tight primitive-array matrix per feature,
 * built against the block's own label column (and, in 3-D, the block's
 * own y column); the keyed merge then shuffles only O(nFeatures x blocks)
 * small matrices (<= xs*|Y|(*|Z|) longs each) — independent of
 * nInstances. Scan parallelism is the number of blocks, so no task ever
 * scans a whole feature column, and no column ever crosses the driver.
 *
 * Sparse columns use implicit-zero accounting (reference semantics:
 * InfoTheory.scala:274-310, :324-390) in O(nonzeros): the block's label
 * (or label x y) counts are built once per block, by its first sparse
 * column; each sparse column seeds its zero row with them, and every
 * explicit entry moves one count from the zero row to its own cell. A
 * (feature, block) pair then costs O(|Y|(*|Z|) + nnz), never more than
 * the table itself.
 */
object Histograms {

  import Columnar.idx

  /**
   * 2-D contingency tables of every feature vs. the class label (the
   * label column itself is not a feature; reference filter at
   * InfoTheory.scala:429-430).
   */
  def histogram2D(col: ColumnarData): RDD[(Int, Hist2D)] = {
    val ys = col.cardinality(col.labelIndex)
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.flatMap { blk =>
      // the block's label counts, built by its first sparse column (dense
      // blocks never need them)
      var yfreq: Array[Long] = null
      Iterator.tabulate(blk.features.length) { f =>
        val xs = cards.value(f)
        val h = Hist2D(xs, ys, new Array[Long](xs * ys))
        blk.features(f) match {
          case DenseBlock(bytes) => accumulate2D(bytes, blk.label, h.counts, ys)
          case sb: SparseBlock =>
            if (yfreq == null) yfreq = labelCounts(blk.label, ys)
            accumulateSparse2D(sb, blk.label, yfreq, h.counts, ys)
        }
        (f, h)
      }
    }.reduceByKey(_.add(_))
  }

  /** Fold one dense column block against a dense y column into
    * counts(x*ys+y). */
  private def accumulate2D(bytes: Array[Byte], ycol: Array[Byte],
      m: Array[Long], ys: Int): Unit = {
    var i = 0
    while (i < bytes.length) {
      m(idx(bytes(i)) * ys + idx(ycol(i))) += 1L
      i += 1
    }
  }

  /** Counts of each y value over a block: out(y). */
  private def labelCounts(ycol: Array[Byte], ys: Int): Array[Long] = {
    val out = new Array[Long](ys)
    var i = 0
    while (i < ycol.length) { out(idx(ycol(i))) += 1L; i += 1 }
    out
  }

  /** Sparse [[accumulate2D]]: the zero row starts at the block's y counts
    * `yfreq`, and each explicit entry moves one count out of it. */
  private def accumulateSparse2D(xb: SparseBlock, ycol: Array[Byte],
      yfreq: Array[Long], m: Array[Long], ys: Int): Unit = {
    var y = 0
    while (y < ys) { m(y) += yfreq(y); y += 1 }
    val rows = xb.rows; val vals = xb.values
    var i = 0
    while (i < rows.length) {
      val y = idx(ycol(rows(i)))
      m(idx(vals(i)) * ys + y) += 1L
      m(y) -= 1L
      i += 1
    }
  }

  /**
   * 3-D contingency tables of every feature x vs. feature `yFeat` (the
   * newly selected feature) and the class label as z, excluding y itself
   * (reference: FilterWitH3 application, InfoTheory.scala:455-456).
   *
   * The y column is NEVER collected, broadcast or shuffled: each
   * [[ColumnBlock]] holds its own y column, densified once per block
   * (O(block rows)). A spilled partition is read back as one whole block,
   * not streamed column by column; the transpose already held that block
   * in task heap while building it, so a task's peak stays O(block).
   * Per-round cost at any scale: one cached scan + the
   * O(nFeatures x blocks) matrix merge — no O(nInstances) term on any
   * single node. On sparse columns the scan is O(nonzeros): each feature
   * costs O(|Y||Z| + nnz) against the block's label x y counts, which are
   * built once per block.
   */
  def histogram3D(col: ColumnarData, yFeat: Int): RDD[(Int, Hist3D)] = {
    require(0 <= yFeat && yFeat < col.nFeatures,
      s"y must be a feature index in [0, ${col.nFeatures}), got $yFeat")
    val ys = col.cardinality(yFeat)
    val zs = col.cardinality(col.labelIndex)
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.flatMap { blk =>
      val ycol = Columnar.densify(blk.features(yFeat))
      // the block's label x y counts, built by its first sparse column
      var yzfreq: Array[Long] = null
      Iterator.range(0, blk.features.length).filter(_ != yFeat).map { f =>
        val xs = cards.value(f)
        val h = Hist3D(xs, ys, zs, new Array[Long](xs * ys * zs))
        blk.features(f) match {
          case DenseBlock(bytes) =>
            accumulate3D(bytes, ycol, blk.label, h.counts, xs, ys)
          case sb: SparseBlock =>
            if (yzfreq == null) yzfreq = labelYCounts(ycol, blk.label, ys, zs)
            accumulateSparse3D(sb, ycol, blk.label, yzfreq, h.counts, xs, ys, zs)
        }
        (f, h)
      }
    }.reduceByKey(_.add(_))
  }

  /** Fold one dense column block against dense y and z columns into
    * counts((z*xs + x)*ys + y). */
  private def accumulate3D(bytes: Array[Byte], ycol: Array[Byte],
      zcol: Array[Byte], m: Array[Long], xs: Int, ys: Int): Unit = {
    var i = 0
    while (i < bytes.length) {
      m((idx(zcol(i)) * xs + idx(bytes(i))) * ys + idx(ycol(i))) += 1L
      i += 1
    }
  }

  /** Counts of each (z, y) pair over a block: out(z*ys + y). */
  private def labelYCounts(ycol: Array[Byte], zcol: Array[Byte],
      ys: Int, zs: Int): Array[Long] = {
    val out = new Array[Long](ys * zs)
    var i = 0
    while (i < ycol.length) { out(idx(zcol(i)) * ys + idx(ycol(i))) += 1L; i += 1 }
    out
  }

  /** Sparse [[accumulate3D]]: each z's zero row starts at the block's
    * (z, y) counts `yzfreq`, and each explicit entry moves one count out
    * of it. */
  private def accumulateSparse3D(xb: SparseBlock, ycol: Array[Byte],
      zcol: Array[Byte], yzfreq: Array[Long], m: Array[Long],
      xs: Int, ys: Int, zs: Int): Unit = {
    var z = 0
    while (z < zs) {
      var y = 0
      while (y < ys) { m((z * xs) * ys + y) += yzfreq(z * ys + y); y += 1 }
      z += 1
    }
    val rows = xb.rows; val vals = xb.values
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val y = idx(ycol(r)); val z = idx(zcol(r))
      m((z * xs + idx(vals(i))) * ys + y) += 1L
      m((z * xs) * ys + y) -= 1L
      i += 1
    }
  }

  /**
   * Per-column value frequencies (the label is column `nFeatures`) in ONE
   * distributed job: each block folds every column into a <= 256-slot
   * array, the keyed merge ships O(nFeatures x blocks) tiny arrays,
   * and only the <= 256-row-per-feature result reaches the driver
   * (reference: computeFrequency, InfoTheory.scala:230-235 — but
   * distributed instead of per-column collects).
   */
  def frequenciesByFeature(col: ColumnarData): Map[Int, Array[Long]] = {
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.flatMap { blk =>
      Iterator.tabulate(blk.features.length + 1) { f =>
        val out = new Array[Long](cards.value(f))
        blk.column(f) match {
          case DenseBlock(bytes) =>
            var i = 0
            while (i < bytes.length) { out(idx(bytes(i))) += 1L; i += 1 }
          case SparseBlock(n, rows, vals) =>
            var i = 0
            while (i < vals.length) { out(idx(vals(i))) += 1L; i += 1 }
            out(0) += n - rows.length
        }
        (f, out)
      }
    }.reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }.collect().toMap
  }

}
