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
 * One instance block of the working set: every feature's column block and
 * the block's class labels, all row-aligned. Column `features.length` is
 * the label (the reference appends it the same way, InfoSelector.scala:431).
 */
final case class ColumnBlock(features: Array[ColBlock], label: Array[Byte]) {
  /** Number of instances in the block. */
  def n: Int = label.length

  /** Column `f`: feature `f`, or the label when `f == features.length`. */
  def column(f: Int): ColBlock =
    if (f == features.length) DenseBlock(label) else features(f)
}

/**
 * Columnar (transposed) working set: the engine's core internal
 * representation, mirroring the reference's `ColumnarData`
 * (reference: InfoSelector.scala:73-75) re-expressed Spark-first.
 *
 * Layout: one [[ColumnBlock]] per non-empty partition; the block id is the
 * partition index. A block is the unit every kernel pairs columns in
 * (feature vs label, feature vs the round's selected column), so all of a
 * block's columns sit together by construction: the transpose is a pure
 * `mapPartitions` with no shuffle, and no column is ever collected,
 * broadcast or shuffled during selection. Scan parallelism is the number
 * of blocks, which grows with the data (the reference's `partitionByRange`
 * by feature, InfoSelector.scala:436, would make one task scan a whole
 * feature column); histogram merges ship one count array per (block,
 * feature range), independent of nInstances.
 */
final case class ColumnarData(
    data: RDD[ColumnBlock],
    nInstances: Long,
    nFeatures: Int,
    cardinality: Array[Int]) {

  /** Index of the class-label column. */
  def labelIndex: Int = nFeatures

  /** Collect one column's blocks (block id -> densified bytes).
    * TEST/DEBUG ONLY — the engine never collects a column. */
  def collectColumn(feature: Int): Map[Int, Array[Byte]] =
    data.mapPartitionsWithIndex { (b, it) =>
      it.map(blk => (b, Columnar.densify(blk.column(feature))))
    }.collect().toMap

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
   * Block-local transpose of a `(label, features)` DataFrame into one
   * [[ColumnBlock]] per partition (reference semantics:
   * InfoSelector.scala:421-438).
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
      .getOrElse(throw emptyInput)
      .getAs[Vector](0)
    if (first == null) throw nullIn(featuresCol)
    val nf = first.size
    val rows = spread.queryExecution.toRdd

    val transposed: RDD[ColumnBlock] =
      rows.mapPartitions { it0 =>
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
          Iterator.single(
            if (sparseFirst) transposeSparse(it, nf) else transposeDense(it, nf))
        }
      }
    finish(transposed, nf)
  }

  private def emptyInput = new IllegalArgumentException(
    "empty input: the selector needs at least one row")

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
  private def transposeDense(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      nf: Int): ColumnBlock = {
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
    ColumnBlock(builders.map(b => DenseBlock(b.result()): ColBlock),
      labels.result())
  }

  /**
   * Sparse-mode partition transpose by counting scatter: reading the rows
   * buffers each nonzero as (feature, row, value) and counts it per
   * feature; the counts size one exact-length array pair per feature, and
   * a single pass scatters every entry into its feature's arrays. Entries
   * arrive in row order, so rows stay strictly increasing within each
   * [[SparseBlock]]. Work and memory are O(nonzeros + features), with no
   * sort. Every feature gets a column (possibly with zero explicit
   * entries) — implicit zeros are accounted for in-kernel, never
   * materialized.
   */
  private def transposeSparse(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      nf: Int): ColumnBlock = {
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
    ColumnBlock(Array.tabulate(nf)(f => SparseBlock(n, rowsOf(f), valsOf(f))),
      labels.result())
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
    val transposed: RDD[ColumnBlock] =
      rows.mapPartitions { it =>
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
        else Iterator.single(ColumnBlock(
          Array.tabulate(nf)(f => DenseBlock(builders(f).result())),
          builders(nf).result()))
      }
    finish(transposed, nf)
  }

  /** Persist the blocks and run the single stats pass: per-column max
    * value (cardinality pre-pass, reference InfoTheory.scala:415-419)
    * fused with the instance count, one map + fold over the blocks. */
  private def finish(blocks: RDD[ColumnBlock], nf: Int): ColumnarData = {
    val cached = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    val (maxes, nInstances) = cached
      .map(blk => (Array.tabulate(nf + 1)(f => maxValue(blk.column(f))), blk.n.toLong))
      .fold((new Array[Int](nf + 1), 0L)) { case ((ma, na), (mb, nb)) =>
        var f = 0
        while (f <= nf) { ma(f) = math.max(ma(f), mb(f)); f += 1 }
        (ma, na + nb)
      }
    if (nInstances == 0) {
      cached.unpersist(blocking = false)
      throw emptyInput
    }
    ColumnarData(cached, nInstances, nf, maxes.map(_ + 1))
  }

  /** Largest value in a column block (0 when it holds no explicit value). */
  private def maxValue(blk: ColBlock): Int = {
    val vals = blk match {
      case DenseBlock(bytes) => bytes
      case SparseBlock(_, _, values) => values
    }
    var mx = 0
    var i = 0
    while (i < vals.length) { val v = idx(vals(i)); if (v > mx) mx = v; i += 1 }
    mx
  }
}
