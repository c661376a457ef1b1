package graft.ml

import org.apache.hadoop.fs.Path

import org.apache.spark.ml.{Estimator, GraftMlBridge, Model}
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasFeaturesCol, HasLabelCol, HasOutputCol}
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core._

/** Params shared by estimator and model. */
trait InfoThSelectorParams extends Params
    with HasFeaturesCol with HasLabelCol with HasOutputCol {

  /** Number of features to select (reference: nselect param,
    * InfoSelector.scala:101-111). */
  final val numTopFeatures = new IntParam(this, "numTopFeatures",
    "number of features to select (> 0)", ParamValidators.gt(0))
  def getNumTopFeatures: Int = $(numTopFeatures)

  /** Selection criterion: mim|mifs|jmi|mrmr|icap|cmim|if
    * (reference: InfoCriterionFactory.scala:35-63). */
  final val criterion = new Param[String](this, "criterion",
    s"selection criterion, one of ${InfoThCriterionFactory.all.mkString("|")}",
    (s: String) => InfoThCriterionFactory.all.contains(s.toLowerCase))
  def getCriterion: String = $(criterion)

  /** Redundancy weight for MIFS (reference factory beta); finite, since
    * a NaN or infinite weight makes every MIFS score NaN. */
  final val beta = new DoubleParam(this, "beta", "MIFS redundancy weight (finite)",
    (b: Double) => !b.isNaN && !b.isInfinite)
  def getBeta: Double = $(beta)

  setDefault(numTopFeatures -> 10, criterion -> "mrmr", beta -> 0.0,
    outputCol -> "selectedFeatures")

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema($(featuresCol)).dataType == SQLDataTypes.VectorType,
      s"Column ${$(featuresCol)} must be ${SQLDataTypes.VectorType}")
    require(!schema.fieldNames.contains($(outputCol)),
      s"Output column ${$(outputCol)} already exists")
    schema.add($(outputCol), SQLDataTypes.VectorType, nullable = false)
  }
}

/**
 * Greedy information-theoretic feature selector — `spark.ml` Estimator.
 *
 * Spark-native re-expression of the reference selector
 * (reference: InfoSelector.scala fit path, traced in SURVEY §3.1):
 *
 *  1. block-local columnar transpose into one [[graft.core.ColumnBlock]]
 *     per partition (every feature column plus the block's labels; no
 *     shuffle), persisted;
 *  2. one job: 2-D histograms of each feature vs. its block's class
 *     column -> per-feature relevance I(Xi; Y) collected to the driver
 *     (nFeatures rows);
 *  3. driver-side greedy loop (replaces the Flink bulk iteration,
 *     reference InfoSelector.scala:354-364 — criterion state is tiny, so
 *     distributed iteration state buys nothing): per round, one job
 *     builds histograms against the newly selected column — read from
 *     the same block as each candidate, with NO collect and NO broadcast
 *     of any column — and returns (feature, mi, cmi) rows the driver
 *     folds into the criteria. The tables are 3-D (x, selected, class)
 *     only for criteria that read the conditional term (JMI, CMIM, IF,
 *     ICAP); MIFS and mRMR get 2-D (x, selected) tables, |Y| times
 *     smaller, and cmi = 0. MIM, and MIFS at beta = 0 (whose score is its
 *     relevance), short-circuit to top-k relevance (reference
 *     InfoSelector.scala:313-315) with zero extra passes.
 *  4. model holds the sorted selected indices
 *     (reference InfoSelector.scala:491).
 *
 * Total cost: (k+1) scans of the cached columnar set — the reference's
 * own cost model (BASELINE.md) — with per-round driver traffic bounded
 * by O(nFeatures) score rows, independent of nInstances.
 */
class InfoThSelector(override val uid: String)
    extends Estimator[InfoThSelectorModel] with InfoThSelectorParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("infoThSelector"))

  def setNumTopFeatures(v: Int): this.type = set(numTopFeatures, v)
  def setCriterion(v: String): this.type = set(criterion, v.toLowerCase)
  def setBeta(v: Double): this.type = set(beta, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def fit(dataset: Dataset[_]): InfoThSelectorModel = {
    transformSchema(dataset.schema, logging = true)
    val colData = Columnar.fromLabeledDf(dataset.toDF(), $(featuresCol),
      $(labelCol))
    try {
      val selected = InfoThSelector.select(
        colData, $(criterion), $(numTopFeatures), $(beta))
      val model = new InfoThSelectorModel(uid,
        selected.map(_._1).sorted, selected)
      copyValues(model.setParent(this))
    } finally colData.unpersist()
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): InfoThSelector = defaultCopy(extra)
}

object InfoThSelector extends DefaultParamsReadable[InfoThSelector] {

  /** Greedy selection core over a prepared columnar set. Returns
    * (featureIndex, greedyScoreAtSelection) in selection order. */
  private[graft] def select(
      colData: ColumnarData,
      criterionName: String,
      k: Int,
      beta: Double): Array[(Int, Double)] = {

    val n = colData.nInstances
    require(n > 0, "empty input")
    // the param validator accepts any case (a ParamMap bypasses setCriterion)
    val criterionKey = criterionName.toLowerCase

    // Relevances: one histogram pass vs. each block's class column
    // (reference: initializeDense, InfoTheory.scala:409-435). No label
    // collect/broadcast — the label sits inside every block.
    val relevances = Histograms.histogram2D(colData)
      .mapValues(h => InfoTheory.mutualInfo(h, n))
      .collect()

    val nToSelect = math.min(k, colData.nFeatures)

    if (criterionKey == InfoThCriterionFactory.Mim ||
        (criterionKey == InfoThCriterionFactory.Mifs && beta == 0.0)) {
      // MIM short-circuit: pure top-k on relevance, ties broken by
      // lowest index (the reference's tie behavior is nondeterministic
      // — SURVEY §7 risk 4 — we fix it deterministically). MIFS at
      // beta = 0 scores rel - 0.0 * redundancy, exactly its relevance.
      return relevances.sortBy { case (f, r) => (-r, f) }.take(nToSelect)
    }

    val criteria: Array[(Int, InfoThCriterion)] = relevances.map {
      case (f, rel) =>
        f -> InfoThCriterionFactory(criterionKey, beta).init(rel)
    }
    val needsCmi = InfoThCriterionFactory(criterionKey, beta).needsCmi

    val selected = collection.mutable.ArrayBuffer.empty[(Int, Double)]
    while (selected.length < nToSelect) {
      // argmax over valid criteria (reference A10); deterministic ties.
      var best: (Int, InfoThCriterion) = null
      criteria.foreach { case c @ (f, cr) =>
        if (cr.valid && (best == null || cr.score > best._2.score ||
            (cr.score == best._2.score && f < best._1))) best = c
      }
      val (maxFeat, maxCrit) = best
      selected += ((maxFeat, maxCrit.score))
      maxCrit.setValid(false)
      if (selected.length < nToSelect) {
        // One job: histograms vs. the selected column -> (mi, cmi)
        // (reference: getRedundancies, InfoTheory.scala:445-461). Each
        // block pairs its own selected column with its candidates —
        // nothing is collected or broadcast; only the O(nFeatures)
        // (mi, cmi) rows reach the driver. A criterion that never reads
        // cmi gets the 2-D table miAndCmi would take its mi from: the
        // same counts, so the same mi.
        val redundancies =
          if (needsCmi) {
            Histograms.histogram3D(colData, maxFeat)
              .mapValues(h => InfoTheory.miAndCmi(h, n))
              .collect().toMap
          } else {
            Histograms.histogram2D(colData, maxFeat)
              .mapValues(h => (InfoTheory.mutualInfo(h, n), 0.0))
              .collect().toMap
          }
        criteria.foreach { case (f, cr) =>
          if (cr.valid) redundancies.get(f).foreach {
            case (mi, cmi) => cr.update(mi, cmi)
          }
        }
      }
    }
    selected.toArray
  }
}

/**
 * Model: projects `featuresCol` down to the selected indices
 * (reference transform semantics: select(), InfoSelector.scala:229-263 —
 * dense gather / sparse sorted-merge intersection with reindexing).
 * Purely narrow — no shuffle, codegen-adjacent closure over primitives.
 */
class InfoThSelectorModel(
    override val uid: String,
    val selectedFeatures: Array[Int],
    val selectionPath: Array[(Int, Double)])
    extends Model[InfoThSelectorModel] with InfoThSelectorParams
    with MLWritable {

  require(selectedFeatures.sliding(2).forall(s => s.length < 2 || s(0) < s(1)),
    "selectedFeatures must be strictly increasing")

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val indices = selectedFeatures
    val slice = udf { v: Vector => InfoThSelectorModel.gather(v, indices) }
    dataset.withColumn($(outputCol), slice(col($(featuresCol))))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): InfoThSelectorModel = {
    val copied = new InfoThSelectorModel(uid, selectedFeatures, selectionPath)
    copyValues(copied, extra).setParent(parent)
  }

  override def write: MLWriter = new InfoThSelectorModel.Writer(this)
}

object InfoThSelectorModel extends MLReadable[InfoThSelectorModel] {

  /** Vector gather (reference: InfoSelector.scala:229-263). `indices`
    * must be sorted ascending; a vector too narrow to hold the largest
    * index is refused rather than read as zeros. */
  def gather(v: Vector, indices: Array[Int]): Vector = {
    require(indices.isEmpty || v.size > indices.last,
      s"vector of size ${v.size} is narrower than the ${indices.last + 1} " +
        "features the selected indices need")
    v match {
      case dv: DenseVector =>
        val out = new Array[Double](indices.length)
        var i = 0
        while (i < indices.length) { out(i) = dv.values(indices(i)); i += 1 }
        Vectors.dense(out)
      case sv: SparseVector =>
        // sorted-merge intersection, reindexed to the compacted space
        // (reference sparse loop, InfoSelector.scala:242-257)
        val outIdx = collection.mutable.ArrayBuilder.make[Int]
        val outVal = collection.mutable.ArrayBuilder.make[Double]
        var i = 0; var j = 0
        while (i < sv.indices.length && j < indices.length) {
          val a = sv.indices(i); val b = indices(j)
          if (a == b) { outIdx += j; outVal += sv.values(i); i += 1; j += 1 }
          else if (a < b) i += 1
          else j += 1
        }
        Vectors.sparse(indices.length, outIdx.result(), outVal.result())
    }
  }

  private[InfoThSelectorModel] class Writer(instance: InfoThSelectorModel)
      extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMlBridge.saveMetadata(instance, path, sparkSession)
      // the rank keeps the selection order: a reader may get the rows in
      // any order
      val data = instance.selectionPath.zipWithIndex.map {
        case ((f, s), rank) => (rank, f, s)
      }.toSeq
      sparkSession.createDataFrame(data).toDF("rank", "feature", "score")
        .repartition(1).write.parquet(new Path(path, "data").toString)
    }
  }

  private class Reader extends MLReader[InfoThSelectorModel] {
    override def load(path: String): InfoThSelectorModel =
      GraftMlBridge.loadWithMetadata(path, sparkSession,
          classOf[InfoThSelectorModel]) { uid =>
        val raw = sparkSession.read.parquet(new Path(path, "data").toString)
        // a directory written before the rank column is read in file order
        val ranked =
          if (raw.columns.contains("rank")) raw.orderBy("rank") else raw
        val data = ranked.select("feature", "score").collect()
          .map(r => (r.getInt(0), r.getDouble(1)))
        new InfoThSelectorModel(uid, data.map(_._1).sorted, data)
      }
  }

  override def read: MLReader[InfoThSelectorModel] = new Reader
}
