package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

/** Dense 2-D contingency table for one feature: counts(x*ys + y). */
final case class Hist2D(xs: Int, ys: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int): Long = counts(x * ys + y)
  def total: Long = { var s = 0L; var i = 0; while (i < counts.length) { s += counts(i); i += 1 }; s }
}

/** Dense 3-D contingency table for one feature: counts((z*xs + x)*ys + y). */
final case class Hist3D(xs: Int, ys: Int, zs: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int, z: Int): Long = counts((z * xs + x) * ys + y)
}

/**
 * Distributed contingency-table builders over the columnar working set.
 *
 * Re-expression of the reference's histogram dataflows
 * (reference: computeHistograms InfoTheory.scala:474-521,
 * computeConditionalHistograms InfoTheory.scala:535-586), paid per block
 * instead of per feature: the features are split into a few contiguous
 * ranges, and each [[ColumnBlock]] fills one flat count array per range,
 * every feature's table at its own offset, against the block's own label
 * column (and, in 3-D, the block's own y column). The merge shuffles
 * blocks x ranges arrays — independent of nInstances — and unpacks them
 * into per-feature tables on the reduce side. Scan parallelism is the
 * number of blocks, so no task ever scans a whole feature column, and no
 * column ever crosses the driver.
 *
 * Sparse columns use implicit-zero accounting (reference semantics:
 * InfoTheory.scala:274-310, :324-390) in O(nonzeros): the block's y (or
 * label x y) counts are built once per block, by its first sparse column;
 * each sparse column seeds its zero row with them, and every explicit
 * entry moves one count from the zero row to its own cell. A
 * (feature, block) pair then costs O(|Y|(*|Z|) + nnz), never more than
 * the table itself.
 */
object Histograms {

  import Columnar.idx

  /** 2-D contingency tables of every feature vs. the class label (the
    * label column itself is not a feature; reference filter at
    * InfoTheory.scala:429-430). */
  def histogram2D(col: ColumnarData): RDD[(Int, Hist2D)] =
    histogram2D(col, col.labelIndex)

  /**
   * 2-D contingency tables of every feature x vs. column `y`, the label
   * (`col.labelIndex`) or a feature; a feature y is excluded, as in
   * [[histogram3D]]. Against a feature this is one greedy round of a
   * criterion that never reads the conditional term (MIFS, mRMR): each
   * table is the x-y marginal of that round's [[histogram3D]] table, |Z|
   * times smaller. y is densified once per block and never leaves it.
   */
  def histogram2D(col: ColumnarData, y: Int): RDD[(Int, Hist2D)] = {
    require(0 <= y && y <= col.nFeatures,
      s"y must be a column index in [0, ${col.nFeatures}], got $y")
    val cards = col.cardinality
    val ys = cards(y)
    packed(col, col.nFeatures, y, f => cards(f) * ys) { blk =>
      val ycol = Columnar.densify(blk.column(y))
      // the block's y counts, built by its first sparse column (dense
      // blocks never need them)
      var yfreq: Array[Long] = null
      (f, m, off) => blk.features(f) match {
        case DenseBlock(bytes) => accumulate2D(bytes, ycol, m, off, ys)
        case sb: SparseBlock =>
          if (yfreq == null) yfreq = valueCounts(ycol, ys)
          accumulateSparse2D(sb, ycol, yfreq, m, off, ys)
      }
    } { (f, counts) => Hist2D(cards(f), ys, counts) }
  }

  /** Fold one dense column block against a dense y column into
    * m(off + x*ys+y). */
  private def accumulate2D(bytes: Array[Byte], ycol: Array[Byte],
      m: Array[Long], off: Int, ys: Int): Unit = {
    var i = 0
    while (i < bytes.length) {
      m(off + idx(bytes(i)) * ys + idx(ycol(i))) += 1L
      i += 1
    }
  }

  /** Counts of each y value over a block: out(y). */
  private def valueCounts(ycol: Array[Byte], ys: Int): Array[Long] = {
    val out = new Array[Long](ys)
    var i = 0
    while (i < ycol.length) { out(idx(ycol(i))) += 1L; i += 1 }
    out
  }

  /** Sparse [[accumulate2D]]: the zero row starts at the block's y counts
    * `yfreq`, and each explicit entry moves one count out of it. */
  private def accumulateSparse2D(xb: SparseBlock, ycol: Array[Byte],
      yfreq: Array[Long], m: Array[Long], off: Int, ys: Int): Unit = {
    var y = 0
    while (y < ys) { m(off + y) += yfreq(y); y += 1 }
    val rows = xb.rows; val vals = xb.values
    var i = 0
    while (i < rows.length) {
      val y = idx(ycol(rows(i)))
      m(off + idx(vals(i)) * ys + y) += 1L
      m(off + y) -= 1L
      i += 1
    }
  }

  /**
   * 3-D contingency tables of every feature x vs. feature `yFeat` (the
   * newly selected feature) and the class label as z, excluding y itself
   * (reference: FilterWitH3 application, InfoTheory.scala:455-456): one
   * greedy round of a criterion that reads the conditional term (JMI,
   * CMIM, IF, ICAP).
   *
   * The y column is NEVER collected, broadcast or shuffled: each
   * [[ColumnBlock]] holds its own y column, densified once per block
   * (O(block rows)). A spilled partition is read back as one whole block,
   * not streamed column by column; the transpose already held that block
   * in task heap while building it, so a task's peak stays O(block) plus
   * one range's tables. Per-round cost at any scale: one cached scan +
   * the blocks x ranges merge — no O(nInstances) term on any single node.
   * On sparse columns the scan is O(nonzeros): each feature costs
   * O(|Y||Z| + nnz) against the block's label x y counts, which are built
   * once per block.
   */
  def histogram3D(col: ColumnarData, yFeat: Int): RDD[(Int, Hist3D)] = {
    require(0 <= yFeat && yFeat < col.nFeatures,
      s"y must be a feature index in [0, ${col.nFeatures}), got $yFeat")
    val cards = col.cardinality
    val ys = cards(yFeat)
    val zs = cards(col.labelIndex)
    packed(col, col.nFeatures, yFeat, f => cards(f) * ys * zs) { blk =>
      val ycol = Columnar.densify(blk.features(yFeat))
      // the block's label x y counts, built by its first sparse column
      var yzfreq: Array[Long] = null
      (f, m, off) => blk.features(f) match {
        case DenseBlock(bytes) =>
          accumulate3D(bytes, ycol, blk.label, m, off, cards(f), ys)
        case sb: SparseBlock =>
          if (yzfreq == null) yzfreq = labelYCounts(ycol, blk.label, ys, zs)
          accumulateSparse3D(sb, ycol, blk.label, yzfreq, m, off, cards(f), ys, zs)
      }
    } { (f, counts) => Hist3D(cards(f), ys, zs, counts) }
  }

  /** Fold one dense column block against dense y and z columns into
    * m(off + (z*xs + x)*ys + y). */
  private def accumulate3D(bytes: Array[Byte], ycol: Array[Byte],
      zcol: Array[Byte], m: Array[Long], off: Int, xs: Int, ys: Int): Unit = {
    var i = 0
    while (i < bytes.length) {
      m(off + (idx(zcol(i)) * xs + idx(bytes(i))) * ys + idx(ycol(i))) += 1L
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
      zcol: Array[Byte], yzfreq: Array[Long], m: Array[Long], off: Int,
      xs: Int, ys: Int, zs: Int): Unit = {
    var z = 0
    while (z < zs) {
      var y = 0
      while (y < ys) { m(off + (z * xs) * ys + y) += yzfreq(z * ys + y); y += 1 }
      z += 1
    }
    val rows = xb.rows; val vals = xb.values
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val y = idx(ycol(r)); val z = idx(zcol(r))
      m(off + (z * xs + idx(vals(i))) * ys + y) += 1L
      m(off + (z * xs) * ys + y) -= 1L
      i += 1
    }
  }

  /**
   * Per-column value frequencies (the label is column `nFeatures`) in ONE
   * distributed job: each block folds every column into a <= 256-slot
   * slice of its range's array, the merge ships blocks x ranges arrays,
   * and only the <= 256-row-per-feature result reaches the driver
   * (reference: computeFrequency, InfoTheory.scala:230-235 — but
   * distributed instead of per-column collects).
   */
  def frequenciesByFeature(col: ColumnarData): Map[Int, Array[Long]] = {
    val cards = col.cardinality
    packed(col, col.nFeatures + 1, -1, cards(_)) { blk =>
      (f, m, off) => blk.column(f) match {
        case DenseBlock(bytes) =>
          var i = 0
          while (i < bytes.length) { m(off + idx(bytes(i))) += 1L; i += 1 }
        case SparseBlock(n, rows, vals) =>
          var i = 0
          while (i < vals.length) { m(off + idx(vals(i))) += 1L; i += 1 }
          m(off) += n - rows.length
      }
    } { (_, counts) => counts }.collect().toMap
  }

  /**
   * The merge every kernel shares: one shuffle record per (block, column
   * range), not per (block, column).
   *
   * Columns `[0, nCols)` but `skip` are split into
   * `min(nCols, partitions)` contiguous ranges — at most the reduce width
   * `reduceByKey` picks by default, so a pass runs no more tasks. Per block, `fillOf`
   * prepares the block once (densified y, marginals) and returns a fill
   * that adds column f's `size(f)` counts into a range's array at an
   * offset; ranges are filled and emitted one at a time, so a task holds
   * one range's tables, not all of them. Each key occurs once per block,
   * so a map-side combine would merge nothing: without it the shuffle
   * streams each range out as it is filled. The reduce side adds the
   * arrays and unpacks column f's slice through `wrap`.
   */
  private def packed[T](col: ColumnarData, nCols: Int, skip: Int,
      size: Int => Int)(
      fillOf: ColumnBlock => (Int, Array[Long], Int) => Unit)(
      wrap: (Int, Array[Long]) => T): RDD[(Int, T)] = {
    val parts = math.max(1, math.min(nCols, col.data.getNumPartitions))
    // range r holds columns [lo(r), lo(r + 1)); column f's table starts at
    // off(f) in its range's array, and range r's array has len(r) counts
    val lo = Array.tabulate(parts + 1)(r => (r.toLong * nCols / parts).toInt)
    val off = new Array[Int](nCols)
    val len = Array.tabulate(parts) { r =>
      var n = 0L
      var f = lo(r)
      while (f < lo(r + 1)) {
        off(f) = n.toInt
        if (f != skip) n += size(f)
        f += 1
      }
      require(n < Int.MaxValue, s"columns ${lo(r)} to ${lo(r + 1) - 1} need " +
        s"$n counts, more than one array holds")
      n.toInt
    }
    col.data.flatMap { blk =>
      val fill = fillOf(blk)
      Iterator.tabulate(parts) { r =>
        val m = new Array[Long](len(r))
        var f = lo(r)
        while (f < lo(r + 1)) { if (f != skip) fill(f, m, off(f)); f += 1 }
        (r, m)
      }
    }.combineByKey[Array[Long]](identity(_), addInto _, addInto _,
      new HashPartitioner(parts), mapSideCombine = false)
      .flatMap { case (r, m) =>
        Iterator.range(lo(r), lo(r + 1)).filter(_ != skip).map { f =>
          (f, wrap(f, java.util.Arrays.copyOfRange(m, off(f), off(f) + size(f))))
        }
      }
  }

  /** a += b, element-wise. */
  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
