package graft.ml

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.ml.{Estimator, GraftMlBridge, Model}
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasInputCol, HasOutputCol, HasSeed}
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

trait FrequencyDiscretizerParams extends Params
    with HasInputCol with HasOutputCol with HasSeed {

  /** Number of equal-frequency buckets per feature
    * (reference: nBins param, FrequencyDiscretizer.scala:106-116). */
  final val numBuckets = new IntParam(this, "numBuckets",
    "number of buckets (>= 2)", ParamValidators.gtEq(2))
  def getNumBuckets: Int = $(numBuckets)

  setDefault(numBuckets -> 2, inputCol -> "features",
    outputCol -> "discFeatures", seed -> this.getClass.getName.hashCode.toLong)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema($(inputCol)).dataType == SQLDataTypes.VectorType,
      s"Column ${$(inputCol)} must be ${SQLDataTypes.VectorType}")
    require(!schema.fieldNames.contains($(outputCol)),
      s"Output column ${$(outputCol)} already exists")
    schema.add($(outputCol), SQLDataTypes.VectorType, nullable = false)
  }
}

/**
 * Equal-frequency (quantile) discretizer over a vector column.
 *
 * Reference-faithful re-expression of the reference discretizer
 * (reference: FrequencyDiscretizer.scala:157-296, itself an adaptation of
 * Spark 1.6's QuantileDiscretizer): Bernoulli-sample
 * max(numBuckets^2, 10000) rows, per-feature sorted value-count split
 * search, +/-Inf sentinel normalization. The reference collects the
 * sample and searches on the driver; here the sampled values are
 * shuffled by feature range and each range's task sorts and searches its
 * own features, so only the splits reach the driver. Fit cost: one count
 * + one sample-and-search job, independent of nInstances.
 */
class FrequencyDiscretizer(override val uid: String)
    extends Estimator[FrequencyDiscretizerModel]
    with FrequencyDiscretizerParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("freqDiscretizer"))

  def setNumBuckets(v: Int): this.type = set(numBuckets, v)
  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setSeed(v: Long): this.type = set(seed, v)

  override def fit(dataset: Dataset[_]): FrequencyDiscretizerModel = {
    transformSchema(dataset.schema, logging = true)
    val vecs = dataset.select(col($(inputCol))).toDF()
    copyValues(new FrequencyDiscretizerModel(uid, fitSampled(vecs))
      .setParent(this))
  }

  /**
   * Reference-parity sample (reference: getSampledInput,
   * FrequencyDiscretizer.scala:172-179), searched on the executors. Each
   * sample partition ships its values as one record per contiguous
   * feature range, `min(nf, partitions)` ranges; range r's reduce task
   * gets every partition's record for r and runs [[findSplitCandidates]]
   * on each of its features. The driver collects a few candidates per
   * feature instead of the sample.
   */
  private def fitSampled(vecs: DataFrame): Array[Array[Double]] = {
    val total = vecs.count()
    require(total > 0, "empty input")
    val requiredSamples = math.max($(numBuckets) * $(numBuckets), 10000)
    val fraction = math.min(requiredSamples.toDouble / total, 1.0)
    val sample = vecs.sample(withReplacement = false, fraction, $(seed))
      .queryExecution.toRdd
    val column = $(inputCol)
    val numSplits = $(numBuckets) - 1
    val parts = sample.getNumPartitions
    val candidates = sample
      .mapPartitions(FrequencyDiscretizer.shipByRange(_, column, parts))
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions(FrequencyDiscretizer.searchRange(_, column, numSplits))
      .collect()
    require(candidates.nonEmpty,
      s"sample of column $column is empty or holds zero-width vectors")
    candidates.sortBy(_._1).map { case (_, c) =>
      val splits = FrequencyDiscretizer.getSplits(c)
      FrequencyDiscretizer.checkSplits(splits)
      splits
    }
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): FrequencyDiscretizer = defaultCopy(extra)
}

/** One sample partition's values of features `[first, first +
  * values.length)`: the nonzeros of feature `first + i` in `values(i)`;
  * the rest of the partition's `rows` sampled rows are zero there. `nf`
  * is the vector width the partition read. */
private[ml] final case class SampleRange(
    nf: Int, first: Int, rows: Int, values: Array[Array[Double]])

object FrequencyDiscretizer extends DefaultParamsReadable[FrequencyDiscretizer] {

  /**
   * Map side of the split search: one partition's sampled vectors, read
   * as primitives straight from the VectorUDT struct, into one growing
   * `double[]` per feature. Zeros (either sign, explicit or implicit) are
   * not stored: they are the rows a feature's array does not cover. The
   * width is read from the partition's first row; a null vector or a row
   * of another width is refused by column name.
   */
  private def shipByRange(rows: Iterator[InternalRow], column: String,
      parts: Int): Iterator[(Int, SampleRange)] = {
    var nf = -1
    var n = 0
    var values: Array[mutable.ArrayBuilder.ofDouble] = null
    rows.foreach { row =>
      if (row.isNullAt(0)) throw new IllegalArgumentException(
        s"null vector in column $column: the discretizer's input must be non-null")
      // ml.VectorUDT layout: struct<type:byte, size:int,
      //   indices:array<int>, values:array<double>>; type 0 = sparse
      val vec = row.getStruct(0, 4)
      val sparse = vec.getByte(0) == 0
      val vals = vec.getArray(3)
      val size = if (sparse) vec.getInt(1) else vals.numElements()
      if (nf < 0) {
        nf = size
        values = Array.fill(nf)(new mutable.ArrayBuilder.ofDouble)
      } else if (size != nf) throw widthMismatch(column, nf, size)
      if (sparse) {
        val ids = vec.getArray(2)
        var k = 0
        while (k < ids.numElements()) {
          val v = vals.getDouble(k)
          if (v != 0.0) values(ids.getInt(k)) += v
          k += 1
        }
      } else {
        var j = 0
        while (j < nf) {
          val v = vals.getDouble(j)
          if (v != 0.0) values(j) += v
          j += 1
        }
      }
      n += 1
    }
    // the range split of Histograms.packed: range r holds features
    // [lo(r), lo(r + 1)); zero-width rows still send range 0 a record, so
    // the reduce side sees their width
    val ranges = if (nf < 0) 0 else math.min(math.max(nf, 1), parts)
    def lo(r: Int) = (r.toLong * nf / ranges).toInt
    Iterator.tabulate(ranges) { r =>
      (r, SampleRange(nf, lo(r), n,
        Array.tabulate(lo(r + 1) - lo(r))(i => values(lo(r) + i).result())))
    }
  }

  /** Reduce side of the split search: every partition's record of one
    * feature range; per feature, its nonzeros after one run of zeros go
    * through [[findSplitCandidates]]. Records of different widths are
    * refused by column name. */
  private def searchRange(records: Iterator[(Int, SampleRange)],
      column: String, numSplits: Int): Iterator[(Int, Array[Double])] = {
    val recs = records.map(_._2).toArray
    recs.foreach { s =>
      if (s.nf != recs.head.nf) throw widthMismatch(column, recs.head.nf, s.nf)
    }
    val rows = recs.iterator.map(_.rows).sum
    val width = if (recs.isEmpty) 0 else recs.head.values.length
    Iterator.tabulate(width) { i =>
      val f = recs.head.first + i
      // the implicit zeros fill the front; each record's nonzeros follow
      val sample = new Array[Double](rows)
      var at = rows
      recs.foreach { s =>
        val v = s.values(i)
        at -= v.length
        System.arraycopy(v, 0, sample, at, v.length)
      }
      (f, findSplitCandidates(sample, numSplits, s"column $column, feature $f"))
    }
  }

  private def widthMismatch(column: String, a: Int, b: Int) =
    new IllegalArgumentException(
      s"vectors of different widths in column $column: $a and $b")

  /** D2: equal-frequency split search over one feature's sample
    * (reference: findSplitCandidates, FrequencyDiscretizer.scala:185-225 —
    * the Spark 1.6 stride-scan algorithm, kept verbatim in semantics),
    * on a sorted copy: its runs are the reference's value counts. A NaN
    * in the sample is refused, naming `where`. */
  private[graft] def findSplitCandidates(samples: Array[Double],
      numSplits: Int, where: String = "the sample"): Array[Double] = {
    val n = samples.length
    // `+ 0.0` turns -0.0 into 0.0: the sort orders -0.0 below 0.0 and
    // would split the zeros into two runs
    val sorted = new Array[Double](n)
    var i = 0
    while (i < n) { sorted(i) = samples(i) + 0.0; i += 1 }
    java.util.Arrays.sort(sorted)
    // the sort places NaN last; counted as mass it would shift the stride
    if (n > 0 && sorted(n - 1).isNaN) throw new IllegalArgumentException(
      s"NaN in $where: the discretizer's input must hold no NaN")
    // distinct values and their run lengths
    val distinct = new Array[Double](n)
    val counts = new Array[Int](n)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && sorted(j) == sorted(i)) j += 1
      distinct(k) = sorted(i)
      counts(k) = j - i
      k += 1
      i = j
    }
    if (k <= numSplits) {
      // few distincts -> every value is a split
      // (reference: FrequencyDiscretizer.scala:196-198)
      java.util.Arrays.copyOf(distinct, k)
    } else {
      // reference FrequencyDiscretizer.scala:200 rounds the stride UP;
      // without the ceil the target-count walk crosses boundaries one
      // distinct value earlier on non-divisible sample sizes
      val stride = math.ceil(n.toDouble / (numSplits + 1))
      val splitsBuilder = new mutable.ArrayBuilder.ofDouble
      var index = 1
      var currentCount = counts(0)
      var targetCount = stride
      while (index <= k) {
        val previousCount = currentCount
        // run k is the reference's (MaxValue, 1) sentinel
        currentCount += (if (index < k) counts(index) else 1)
        val previousGap = math.abs(previousCount - targetCount)
        val currentGap = math.abs(currentCount - targetCount)
        if (previousGap < currentGap) {
          splitsBuilder += distinct(index - 1)
          targetCount += stride
        }
        index += 1
      }
      splitsBuilder.result()
    }
  }

  /** D3: +/-Inf sentinel normalization; default [-Inf, 0, +Inf]
    * (reference: getSplits, FrequencyDiscretizer.scala:231-254). */
  private[graft] def getSplits(candidates: Array[Double]): Array[Double] = {
    val effective =
      if (candidates.isEmpty) candidates
      else {
        val dropHead = candidates.head == Double.NegativeInfinity
        val dropLast = candidates.last == Double.PositiveInfinity
        candidates.slice(if (dropHead) 1 else 0,
          candidates.length - (if (dropLast) 1 else 0))
      }
    if (effective.isEmpty)
      Array(Double.NegativeInfinity, 0.0, Double.PositiveInfinity)
    else
      Double.NegativeInfinity +: effective :+ Double.PositiveInfinity
  }

  /** D4: length >= 3, strictly increasing
    * (reference: checkAllSplits, FrequencyDiscretizer.scala:257-272). */
  private[graft] def checkSplits(splits: Array[Double]): Unit = {
    require(splits.length >= 3,
      s"Splits must have >= 3 entries, got ${splits.length}")
    var i = 0
    while (i < splits.length - 1) {
      require(splits(i) < splits(i + 1),
        s"Splits must be strictly increasing: ${splits.mkString(", ")}")
      i += 1
    }
  }

  /** D5: per-value bucket lookup (reference: binarySearchForBuckets,
    * FrequencyDiscretizer.scala:278-296; Bucketizer conventions). */
  private[graft] def binarySearchForBuckets(
      splits: Array[Double], raw: Double): Double = {
    // `Arrays.binarySearch` orders -0.0 below 0.0; both zeros must
    // land in one bucket
    val value = raw + 0.0
    if (value == splits.last) {
      splits.length - 2
    } else {
      val idx = java.util.Arrays.binarySearch(splits, value)
      if (idx >= 0) idx.toDouble
      else {
        val insertPos = -idx - 1
        if (insertPos == 0 || insertPos == splits.length)
          throw new IllegalArgumentException(
            s"Value $value out of Bucketizer bounds [${splits.head}, ${splits.last}]")
        (insertPos - 1).toDouble
      }
    }
  }
}

/** Model: per-feature bucketize via binary search — narrow, no shuffle
  * (reference transform: FrequencyDiscretizer.scala:301-332). Splits map
  * 1:1 onto Spark `Bucketizer.splitsArray` conventions; the transform is
  * the native [[graft.functions.BucketizeVector]] expression rather than
  * Spark's `Bucketizer` because Bucketizer is a ScalaUDF inside AND only
  * takes double columns (a vector input would need a vector_to_array /
  * array_to_vector sandwich — three per-row object boundaries where the
  * native kernel has none). Followed by an [[InfoThSelectorModel]]
  * transform, [[graft.plans.GatherFirst]] bucketizes only the selected
  * features (a NaN or out-of-range value in a dropped feature then no
  * longer throws; a wrong-width vector is still refused). */
class FrequencyDiscretizerModel(
    override val uid: String,
    val splitsArray: Array[Array[Double]])
    extends Model[FrequencyDiscretizerModel]
    with FrequencyDiscretizerParams with MLWritable {

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.withColumn($(outputCol),
      graft.functions.VectorFunctions.bucketizeVector(
        col($(inputCol)), splitsArray))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): FrequencyDiscretizerModel = {
    val copied = new FrequencyDiscretizerModel(uid, splitsArray)
    copyValues(copied, extra).setParent(parent)
  }

  override def write: MLWriter = new FrequencyDiscretizerModel.Writer(this)
}

object FrequencyDiscretizerModel extends MLReadable[FrequencyDiscretizerModel] {

  private[FrequencyDiscretizerModel] class Writer(
      instance: FrequencyDiscretizerModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMlBridge.saveMetadata(instance, path, sparkSession)
      val data = instance.splitsArray.zipWithIndex.toSeq
        .map { case (s, i) => (i, s.toSeq) }
      sparkSession.createDataFrame(data).toDF("feature", "splits")
        .repartition(1).write
        .parquet(new org.apache.hadoop.fs.Path(path, "data").toString)
    }
  }

  private class Reader extends MLReader[FrequencyDiscretizerModel] {
    override def load(path: String): FrequencyDiscretizerModel =
      GraftMlBridge.loadWithMetadata(path, sparkSession,
          classOf[FrequencyDiscretizerModel]) { uid =>
        val data = sparkSession.read
          .parquet(new org.apache.hadoop.fs.Path(path, "data").toString)
          .select("feature", "splits").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).map(_._2)
        new FrequencyDiscretizerModel(uid, data)
      }
  }

  override def read: MLReader[FrequencyDiscretizerModel] = new Reader
}
