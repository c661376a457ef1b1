package graft.core

import scala.collection.mutable

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One column's values for one block of instances (row order preserved). */
sealed trait ColBlock extends Serializable {
  /** Number of instances in the block. */
  def n: Int
}

/** Dense column block: one byte per instance. */
final case class DenseBlock(values: Array[Byte]) extends ColBlock {
  def n: Int = values.length
}

/**
 * Sparse column block: explicit entries at `rows(i) -> values(i)`
 * (rows strictly increasing); every other instance is implicitly 0.
 * Mirrors the reference's implicit-zero histogram accounting
 * (reference: InfoTheory.scala:274-310, :324-390) — on a 0.1%-dense
 * corpus the cached working set shrinks ~1000x vs densification.
 */
final case class SparseBlock(n: Int, rows: Array[Int], values: Array[Byte])
    extends ColBlock

/**
 * Columnar (transposed) working set: the engine's core internal
 * representation, mirroring the reference's `ColumnarData`
 * (reference: InfoSelector.scala:73-75) re-expressed Spark-first.
 *
 * Layout: `RDD[((feature, block), LabeledBlock)]` where `block` is the
 * source partition id and each record carries BOTH that feature's column
 * block and the block's class-label bytes. The label is also kept as its
 * own column at index `nFeatures` (the reference appends it the same
 * way, InfoSelector.scala:431).
 *
 * Scale notes (100 TB design):
 * - BLOCK-MAJOR CO-LOCATION: all columns of one instance block stay in
 *   the block's own partition — the transpose is a pure mapPartitions
 *   (ZERO shuffle; the only exchange anywhere is the optional
 *   parallelism repartition of the raw rows, which ships unsafe rows
 *   once). Every per-block pairing the kernels need (x vs label, x vs
 *   the per-round selected column y) is partition-local by
 *   construction, so NO column is ever collected, broadcast, or
 *   shuffled during selection: at 10^11 rows a collected/broadcast
 *   column (~100 GB) would exceed both driver and executor memory —
 *   here the per-task working set stays O(block), independent of
 *   nInstances.
 * - Scan parallelism = number of blocks, which grows with data volume
 *   (the reference's partitionByRange(0) by feature,
 *   InfoSelector.scala:436, would make one task scan an entire feature
 *   column — a straggler at billions of rows). A feature's partial
 *   histograms merge through a keyed reduce that shuffles only
 *   O(nFeatures x blocks) tiny count matrices (<= 6 KB each for a
 *   256x|Y| table) — independent of nInstances.
 * - The label column rides along with every feature block (in-memory
 *   it's one shared array reference per block, not a copy).
 * - Blocks carry their own id, so block-id keying can never break the
 *   x/y alignment invariant (SURVEY §7 risk 1): alignment is by block
 *   id, never partition placement — and co-location makes the aligned
 *   pairing free.
 */
final case class LabeledBlock(x: ColBlock, label: Array[Byte])

final case class ColumnarData(
    data: RDD[((Int, Int), LabeledBlock)],
    nInstances: Long,
    nFeatures: Int,
    cardinality: Array[Int]) {

  /** Index of the class-label column. */
  def labelIndex: Int = nFeatures

  /** Collect one feature's blocks (block id -> densified bytes).
    * TEST/DEBUG ONLY — the engine never collects a column: the greedy
    * loop's per-round y column is read partition-locally thanks to
    * block-major co-location (see [[Histograms.histogram3D]]). */
  def collectColumn(feature: Int): Map[Int, Array[Byte]] =
    data.filter(_._1._1 == feature)
      .map { case ((_, b), blk) => (b, Columnar.densify(blk.x)) }
      .collect().toMap

  def unpersist(): Unit = data.unpersist(blocking = false)
}

object Columnar {

  /** Byte-domain validation (reference: requireByteValues,
    * InfoSelector.scala:404-416; README.md:22-23 "maximum of 256 distinct
    * values"). We use the unsigned domain [0, 255] — values are histogram
    * indices. Documented divergence: the reference's check accepts
    * [-128, 127], but its own error message says [0, 255] and a negative
    * value would corrupt its histogram indexing (negative array index
    * after toByte); we enforce what the reference can actually process. */
  @inline def toByteChecked(v: Double): Byte = {
    if (v < 0.0 || v > 255.0 || v % 1 != 0.0) {
      throw new IllegalArgumentException(
        s"Info-Theoretic Framework requires integer values in range [0, 255], got $v")
    }
    v.toByte
  }

  @inline def idx(b: Byte): Int = b & 0xFF

  /** Densified view of a column block. */
  def densify(blk: ColBlock): Array[Byte] = blk match {
    case DenseBlock(b) => b
    case SparseBlock(n, rows, vals) =>
      val out = new Array[Byte](n)
      var i = 0
      while (i < rows.length) { out(rows(i)) = vals(i); i += 1 }
      out
  }

  /**
   * Block-local transpose of a `(label, features)` DataFrame into
   * columnar blocks (reference semantics: InfoSelector.scala:421-438),
   * each carrying the block's label bytes.
   *
   * The storage mode follows the input vectors: sparse rows transpose
   * into [[SparseBlock]]s (implicit zeros never materialize — neither in
   * the shuffle nor the cache), dense rows into [[DenseBlock]]s. The
   * label column is always dense.
   *
   * The hot loop reads the vector UDT struct fields straight out of
   * Tungsten InternalRows (`queryExecution.toRdd`): no Row wrapper, no
   * ml.Vector allocation per row — the transpose touches each value
   * exactly once as a primitive.
   */
  def fromLabeledDf(
      df: DataFrame,
      featuresCol: String = "features",
      labelCol: String = "label"): ColumnarData = {

    val projected = df.select(
      org.apache.spark.sql.functions.col(labelCol).cast("double"),
      org.apache.spark.sql.functions.col(featuresCol))
    val spread = spreadToParallelism(projected)
    val first = df.select(featuresCol).head(1).headOption
      .getOrElse(throw new IllegalArgumentException(
        "empty input: the selector needs at least one row"))
      .getAs[Vector](0)
    if (first == null) throw nullIn(featuresCol)
    val nf = first.size
    val nCols = nf + 1
    val rows = spread.queryExecution.toRdd

    val transposed: RDD[((Int, Int), LabeledBlock)] =
      rows.mapPartitionsWithIndex { (pid, it0) =>
        // UnsafeRow reads a null slot as 0 (label) or fails with a bare
        // NPE (features): refuse nulls by column name instead
        val it = it0.map { row =>
          if (row.isNullAt(0)) throw nullIn(labelCol)
          if (row.isNullAt(1)) throw nullIn(featuresCol)
          row
        }.buffered
        if (!it.hasNext) Iterator.empty
        else {
          // ml.VectorUDT layout: struct<type:byte, size:int,
          //   indices:array<int>, values:array<double>>; type 0 = sparse
          val sparseFirst = it.head.getStruct(1, 4).getByte(0) == 0
          if (sparseFirst) transposeSparse(pid, it, nf)
          else transposeDense(pid, it, nf)
        }
      }
    finish(transposed, nCols)
  }

  private def nullIn(column: String) = new IllegalArgumentException(
    s"null value in column $column: the selector's input must be non-null")

  /** Repartitions up to `defaultParallelism` when the input has fewer
    * partitions, so every core scans a block. */
  private def spreadToParallelism(projected: DataFrame): DataFrame = {
    val target = projected.sparkSession.sparkContext.defaultParallelism
    if (projected.queryExecution.toRdd.getNumPartitions < target) {
      projected.repartition(target)
    } else projected
  }

  /** Vector size from the UDT struct (dense: values length; sparse: the
    * size field). */
  @inline private def vecSize(
      s: org.apache.spark.sql.catalyst.InternalRow): Int =
    if (s.getByte(0) == 0) s.getInt(1) else s.getArray(3).numElements()

  /** Dense-mode partition transpose: one byte builder per column. */
  private def transposeDense(pid: Int,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      nf: Int): Iterator[((Int, Int), LabeledBlock)] = {
    val builders = Array.fill(nf)(new mutable.ArrayBuilder.ofByte)
    val labels = new mutable.ArrayBuilder.ofByte
    it.foreach { row =>
      val vec = row.getStruct(1, 4)
      require(vecSize(vec) == nf,
        s"Inconsistent vector size: ${vecSize(vec)} != $nf")
      if (vec.getByte(0) != 0) {
        val vals = vec.getArray(3)
        var j = 0
        while (j < nf) { builders(j) += toByteChecked(vals.getDouble(j)); j += 1 }
      } else {
        val dense = new Array[Byte](nf)
        val ids = vec.getArray(2); val vals = vec.getArray(3)
        val nnz = ids.numElements()
        var j = 0
        while (j < nnz) {
          dense(ids.getInt(j)) = toByteChecked(vals.getDouble(j)); j += 1
        }
        j = 0
        while (j < nf) { builders(j) += dense(j); j += 1 }
      }
      labels += toByteChecked(row.getDouble(0))
    }
    val labelArr = labels.result()
    val out = Iterator.tabulate(nf) { f =>
      ((f, pid), LabeledBlock(DenseBlock(builders(f).result()), labelArr))
    }
    out ++ Iterator.single(
      ((nf, pid), LabeledBlock(DenseBlock(labelArr), labelArr)))
  }

  /**
   * Sparse-mode partition transpose by counting scatter: reading the rows
   * buffers each nonzero as (feature, row, value) and counts it per
   * feature; the counts size one exact-length array pair per feature, and
   * a single pass scatters every entry into its feature's arrays. Entries
   * arrive in row order, so rows stay strictly increasing within each
   * [[SparseBlock]]. Work and memory are O(nonzeros + features), with no
   * sort. Every feature emits a record (possibly with zero explicit
   * entries) so the histogram kernels see every (feature, block) cell —
   * implicit zeros are accounted for in-kernel, never materialized.
   */
  private def transposeSparse(pid: Int,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      nf: Int): Iterator[((Int, Int), LabeledBlock)] = {
    val counts = new Array[Int](nf)
    val feats = new mutable.ArrayBuilder.ofInt
    val rowIds = new mutable.ArrayBuilder.ofInt
    val values = new mutable.ArrayBuilder.ofByte
    val labels = new mutable.ArrayBuilder.ofByte
    var rowIdx = 0
    @inline def add(f: Int, v: Byte): Unit = if (v != 0) {
      counts(f) += 1
      feats += f; rowIds += rowIdx; values += v
    }
    it.foreach { row =>
      val vec = row.getStruct(1, 4)
      require(vecSize(vec) == nf,
        s"Inconsistent vector size: ${vecSize(vec)} != $nf")
      if (vec.getByte(0) == 0) {
        val ids = vec.getArray(2); val vals = vec.getArray(3)
        val nnz = ids.numElements()
        var j = 0
        while (j < nnz) { add(ids.getInt(j), toByteChecked(vals.getDouble(j))); j += 1 }
      } else {
        val vals = vec.getArray(3)
        var j = 0
        while (j < nf) { add(j, toByteChecked(vals.getDouble(j))); j += 1 }
      }
      labels += toByteChecked(row.getDouble(0))
      rowIdx += 1
    }
    val labelArr = labels.result()
    val n = rowIdx
    val rowsOf = Array.tabulate(nf)(f => new Array[Int](counts(f)))
    val valsOf = Array.tabulate(nf)(f => new Array[Byte](counts(f)))
    val fill = new Array[Int](nf)
    val fa = feats.result(); val ra = rowIds.result(); val va = values.result()
    var p = 0
    while (p < fa.length) {
      val f = fa(p); val k = fill(f)
      rowsOf(f)(k) = ra(p); valsOf(f)(k) = va(p)
      fill(f) = k + 1
      p += 1
    }
    Iterator.tabulate(nf) { f =>
      ((f, pid), LabeledBlock(SparseBlock(n, rowsOf(f), valsOf(f)), labelArr))
    } ++ Iterator.single(
      ((nf, pid), LabeledBlock(DenseBlock(labelArr), labelArr)))
  }

  /**
   * Fast-path transpose from integer-valued columns (no ml.Vector
   * construction or UDT serialization on the hot path). `featureCols`
   * become features 0..n-1 in order; `labelCol` becomes column n.
   *
   * Iterates Tungsten InternalRows directly (`queryExecution.toRdd`) —
   * primitive `getInt` reads with zero per-row boxing, and the
   * parallelism repartition happens at the DataFrame level so the
   * exchange ships unsafe rows, not Scala objects.
   */
  def fromIntColumns(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String): ColumnarData = {
    val nf = featureCols.length
    val nCols = nf + 1
    val rows = spreadToParallelism(df.select((featureCols :+ labelCol).map(
      c => org.apache.spark.sql.functions.col(c).cast("int")): _*))
      .queryExecution.toRdd
    val transposed: RDD[((Int, Int), LabeledBlock)] =
      rows.mapPartitionsWithIndex { (pid, it) =>
        val builders = Array.fill(nCols)(new mutable.ArrayBuilder.ofByte)
        var n = 0
        it.foreach { row =>
          var j = 0
          while (j < nCols) {
            // UnsafeRow.getInt silently reads null as 0 — fail loudly
            // instead of corrupting histograms with phantom zeros
            if (row.isNullAt(j)) {
              throw new IllegalArgumentException(
                s"null value in column $j: feature columns must be non-null")
            }
            builders(j) += toByteChecked(row.getInt(j).toDouble); j += 1
          }
          n += 1
        }
        if (n == 0) Iterator.empty
        else {
          val labelArr = builders(nCols - 1).result()
          Iterator.tabulate(nf)(f =>
            ((f, pid), LabeledBlock(DenseBlock(builders(f).result()), labelArr))
          ) ++ Iterator.single(
            ((nf, pid), LabeledBlock(DenseBlock(labelArr), labelArr)))
        }
      }
    finish(transposed, nCols)
  }

  /** Persist (block-major: records stay in their source partition — no
    * shuffle, so each block's columns are co-located with each other by
    * construction) and run the single stats pass: per-feature (max
    * value, instance count) in one job (cardinality pre-pass per
    * reference InfoTheory.scala:415-419 fused with the instance count). */
  private def finish(
      transposed: RDD[((Int, Int), LabeledBlock)],
      nCols: Int): ColumnarData = {
    val partitioned = transposed
      .persist(StorageLevel.MEMORY_AND_DISK)

    val stats = partitioned
      .map { case ((f, _), blk) =>
        val (m, cnt) = blk.x match {
          case DenseBlock(bytes) =>
            var mx = 0
            var i = 0
            while (i < bytes.length) {
              val v = idx(bytes(i)); if (v > mx) mx = v; i += 1
            }
            (mx, bytes.length.toLong)
          case SparseBlock(n, _, vals) =>
            var mx = 0
            var i = 0
            while (i < vals.length) {
              val v = idx(vals(i)); if (v > mx) mx = v; i += 1
            }
            (mx, n.toLong)
        }
        (f, (m, cnt))
      }
      .reduceByKey((a, b) => (math.max(a._1, b._1), a._2 + b._2))
      .collect()
    val cardinality = new Array[Int](nCols)
    var nInstances = 0L
    stats.foreach { case (f, (m, c)) =>
      cardinality(f) = m + 1
      if (f == nCols - 1) nInstances = c
    }
    ColumnarData(partitioned, nInstances, nCols - 1, cardinality)
  }
}
