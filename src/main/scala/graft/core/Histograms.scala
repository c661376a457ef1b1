package graft.core

import scala.collection.mutable

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
 * computeConditionalHistograms InfoTheory.scala:535-586): each partition
 * scans its feature blocks against the block-carried label column (and
 * at most one broadcast column) and accumulates tight primitive-array
 * matrices (the partial/combiner stage); the keyed merge then shuffles
 * only O(nFeatures x partitions) small matrices (<= xs*|Y|(*|Z|) longs
 * each) — independent of nInstances. Scan parallelism follows the
 * (feature, block) partitioning, so no task ever scans a whole feature
 * column, and no label column ever crosses the driver.
 *
 * Sparse blocks use implicit-zero accounting (reference semantics:
 * InfoTheory.scala:274-310, :324-390) in O(nonzeros): the block's label
 * (or label x y) counts are built once per block, not per feature; each
 * sparse feature seeds its zero row with them, and every explicit entry
 * moves one count from the zero row to its own cell. A (feature, block)
 * pair then costs O(|Y|(*|Z|) + nnz), never more than the table itself.
 */
object Histograms {

  import Columnar.idx

  /**
   * 2-D contingency tables of every feature vs. the block-carried class
   * label. Excludes the label column itself
   * (reference filter at InfoTheory.scala:429-430).
   */
  def histogram2D(col: ColumnarData): RDD[(Int, Hist2D)] = {
    val ys = col.cardinality(col.labelIndex)
    val labelIdx = col.labelIndex
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.mapPartitions { it =>
      val acc = new mutable.HashMap[Int, Hist2D]
      // label counts of block `yfreqBlock`, built by its first sparse
      // record (dense blocks never need them)
      var yfreqBlock = -1
      var yfreq: Array[Long] = null
      it.foreach { case ((f, block), blk) =>
        if (f != labelIdx) {
          val h = acc.getOrElseUpdate(f, {
            val xs = cards.value(f)
            Hist2D(xs, ys, new Array[Long](xs * ys))
          })
          blk.x match {
            case DenseBlock(bytes) => accumulate2D(bytes, blk.label, h.counts, ys)
            case sb: SparseBlock =>
              if (block != yfreqBlock) {
                yfreq = labelCounts(blk.label, ys)
                yfreqBlock = block
              }
              accumulateSparse2D(sb, blk.label, yfreq, h.counts, ys)
          }
        }
      }
      acc.iterator
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
   * 3-D contingency tables of every feature x vs. column y (the newly
   * selected feature) and the block-carried class label as z, excluding
   * y and the label themselves (reference: FilterWitH3 application,
   * InfoTheory.scala:455-456).
   *
   * The y column is NEVER collected, broadcast or shuffled: block-major
   * co-location (see [[ColumnarData]]) guarantees each partition holds
   * the y blocks of exactly the blocks it scans, so every task reads y
   * partition-locally.
   *
   * The scan is single-pass and streaming: records arrive block-grouped
   * and feature-ordered within a block (the transpose emits features
   * 0..nf in order and the cached partition preserves it), so at most
   * the records PRECEDING a block's y record are stashed (references,
   * not copies) and replayed once y is densified; everything after y
   * streams straight through. Unlike a whole-partition toArray, a
   * spilled-and-reread partition never pins more than the pre-y prefix
   * of one block in task heap. Per-round cost at any scale: one cached
   * scan + the O(nFeatures x blocks) matrix merge — no O(nInstances)
   * term on any single node. On sparse blocks the scan is O(nonzeros):
   * besides densifying y (O(block rows), once per block), each feature
   * costs O(|Y||Z| + nnz) against the block's label x y counts, which
   * are built once per block.
   */
  def histogram3D(col: ColumnarData, yFeat: Int): RDD[(Int, Hist3D)] = {
    val ys = col.cardinality(yFeat)
    val zs = col.cardinality(col.labelIndex)
    val labelIdx = col.labelIndex
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.mapPartitions { it =>
      val acc = new mutable.HashMap[Int, Hist3D]
      var curBlock = -1
      var ycol: Array[Byte] = null
      // label x y counts of curBlock, built by its first sparse record
      var yzfreq: Array[Long] = null
      def fold(f: Int, blk: LabeledBlock, ycol: Array[Byte]): Unit =
        if (f != yFeat && f != labelIdx) {
          val h = acc.getOrElseUpdate(f, {
            val xs = cards.value(f)
            Hist3D(xs, ys, zs, new Array[Long](xs * ys * zs))
          })
          blk.x match {
            case DenseBlock(bytes) =>
              accumulate3D(bytes, ycol, blk.label, h.counts, h.xs, ys)
            case sb: SparseBlock =>
              if (yzfreq == null) yzfreq = labelYCounts(ycol, blk.label, ys, zs)
              accumulateSparse3D(sb, ycol, blk.label, yzfreq, h.counts, h.xs, ys, zs)
          }
        }
      val pending = new mutable.ArrayBuffer[(Int, LabeledBlock)]
      it.foreach { case ((f, block), blk) =>
        if (block != curBlock) {
          if (pending.nonEmpty) throw new IllegalStateException(
            s"block $curBlock lost co-location with feature $yFeat")
          curBlock = block
          ycol = null
          yzfreq = null
        }
        if (f == yFeat) {
          ycol = Columnar.densify(blk.x)
          pending.foreach { case (pf, pblk) => fold(pf, pblk, ycol) }
          pending.clear()
        } else if (ycol != null) fold(f, blk, ycol)
        else pending += ((f, blk))
      }
      if (pending.nonEmpty) throw new IllegalStateException(
        s"block $curBlock lost co-location with feature $yFeat")
      acc.iterator
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
   * Per-feature value frequencies (including the label column) in ONE
   * distributed job: each partition folds its blocks into <= 256-slot
   * arrays, the keyed merge ships O(nFeatures x partitions) tiny arrays,
   * and only the <= 256-row-per-feature result reaches the driver
   * (reference: computeFrequency, InfoTheory.scala:230-235 — but
   * distributed instead of per-column collects).
   */
  def frequenciesByFeature(col: ColumnarData): Map[Int, Array[Long]] = {
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.map { case ((f, _), blk) =>
      val out = new Array[Long](cards.value(f))
      blk.x match {
        case DenseBlock(bytes) =>
          var i = 0
          while (i < bytes.length) { out(idx(bytes(i))) += 1L; i += 1 }
        case SparseBlock(n, rows, vals) =>
          var i = 0
          while (i < vals.length) { out(idx(vals(i))) += 1L; i += 1 }
          out(0) += n - rows.length
      }
      (f, out)
    }.reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }.collect().toMap
  }

}
