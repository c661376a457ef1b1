package graft.ml

import scala.collection.mutable

import org.apache.spark.ml.{Estimator, GraftMlBridge, Model}
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasInputCol, HasOutputCol, HasSeed}
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
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
 * max(numBuckets^2, 10000) rows, collect, per-feature sorted
 * value-count split search, +/-Inf sentinel normalization. Fit cost:
 * one count + one sampled collect, independent of nInstances.
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

  /** Reference-parity path: Bernoulli sample + collect + stride scan
    * (reference: getSampledInput, FrequencyDiscretizer.scala:172-179). */
  private def fitSampled(vecs: DataFrame): Array[Array[Double]] = {
    val total = vecs.count()
    require(total > 0, "empty input")
    val requiredSamples = math.max($(numBuckets) * $(numBuckets), 10000)
    val fraction = math.min(requiredSamples.toDouble / total, 1.0)
    val sample = vecs.sample(withReplacement = false, fraction, $(seed))
      .collect().map(_.getAs[Vector](0))
    require(sample.nonEmpty, "sample is empty; increase input size")
    val nf = sample.head.size
    Array.tabulate(nf) { j =>
      val colSample = sample.map(_(j))
      val candidates = FrequencyDiscretizer
        .findSplitCandidates(colSample, $(numBuckets) - 1)
      val splits = FrequencyDiscretizer.getSplits(candidates)
      FrequencyDiscretizer.checkSplits(splits)
      splits
    }
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): FrequencyDiscretizer = defaultCopy(extra)
}

object FrequencyDiscretizer extends DefaultParamsReadable[FrequencyDiscretizer] {

  /** D2: equal-frequency split search over one feature's sample
    * (reference: findSplitCandidates, FrequencyDiscretizer.scala:185-225 —
    * the Spark 1.6 stride-scan algorithm, kept verbatim in semantics). */
  private[graft] def findSplitCandidates(
      samples: Array[Double], numSplits: Int): Array[Double] = {
    val valueCountMap = mutable.Map.empty[Double, Int]
    samples.foreach { v => valueCountMap(v) = valueCountMap.getOrElse(v, 0) + 1 }
    val valueCounts = valueCountMap.toSeq.sortBy(_._1).toArray :+
      ((Double.MaxValue, 1))
    val possibleSplits = valueCounts.length - 1
    if (possibleSplits <= numSplits) {
      // few distincts -> every value is a split
      // (reference: FrequencyDiscretizer.scala:196-198)
      valueCounts.dropRight(1).map(_._1)
    } else {
      // reference FrequencyDiscretizer.scala:200 rounds the stride UP;
      // without the ceil the target-count walk crosses boundaries one
      // distinct value earlier on non-divisible sample sizes
      val stride = math.ceil(samples.length.toDouble / (numSplits + 1))
      val splitsBuilder = mutable.ArrayBuilder.make[Double]
      var index = 1
      var currentCount = valueCounts(0)._2
      var targetCount = stride
      while (index < valueCounts.length) {
        val previousCount = currentCount
        currentCount += valueCounts(index)._2
        val previousGap = math.abs(previousCount - targetCount)
        val currentGap = math.abs(currentCount - targetCount)
        if (previousGap < currentGap) {
          splitsBuilder += valueCounts(index - 1)._1
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
      splits: Array[Double], value: Double): Double = {
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
  * native kernel has none). */
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
