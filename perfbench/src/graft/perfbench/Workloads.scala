package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{ColumnarData, Columnar}
import graft.ml.{FrequencyDiscretizer, InfoThSelector}

/**
 * One benchmark workload: inputs built at set-up, a reference computed
 * once from the same generated rows, and an op that calls the engine's
 * public entry points inside spans and returns its output mismatches.
 */
abstract class Workload(val name: String, val seed: Long) {
  def rows: Int
  def features: Int
  /** Cells the histogram kernels scan per pass: bytes (dense) or nonzeros. */
  def storedCells: Long
  def shape: Seq[(String, Any)]
  /** Spans whose durations add up to one op's fit. */
  def fitSpans: Set[String]

  /** Builds the inputs under `dir` and keeps them for the ops. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Drops what `setup` built. */
  def release(): Unit
  /** Bytes of the cached columnar working set (memory + disk). */
  def workingSetBytes(spark: SparkSession): Long
  def op(spark: SparkSession, span: SpanRecorder): Seq[String]

  /** Copies of the input in the batch one op's transform scores: a batch
    * larger than the training set, so the transform is timed over work
    * and not over one Spark job's fixed cost. */
  def scoringCopies: Int

  protected def scoringBatch(df: DataFrame): DataFrame =
    Seq.fill(scoringCopies)(df).reduce(_ union _)

  // expected outputs, filled by computeExpected()
  protected var expectedPaths = Map.empty[String, Array[(Int, Double)]]
  protected var expectedSum = 0L

  /** Runs the reference greedy over the generated byte matrix. */
  def computeExpected(): Unit

  /** Breaks the expected paths on purpose: every op must then fail. */
  def corruptExpected(): Unit = expectedPaths = expectedPaths.map {
    case (c, p) => c -> p.updated(0, ((p(0)._1 + 1) % features, p(0)._2))
  }

  protected def nproc(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  protected def checkPath(criterion: String,
      got: Array[(Int, Double)]): Option[String] = {
    val want = expectedPaths(criterion)
    if (!got.map(_._1).sameElements(want.map(_._1))) {
      Some(s"$criterion path ${got.map(_._1).mkString(",")} != expected ${want.map(_._1).mkString(",")}")
    } else got.zip(want).collectFirst {
      case ((f, a), (_, b)) if math.abs(a - b) > 1e-9 =>
        s"$criterion score of feature $f: $a != expected $b"
    }
  }

  protected def checkSum(got: (Long, Long)): Option[String] = {
    val want = (rows.toLong * scoringCopies, expectedSum * scoringCopies)
    if (got == want) None else Some(s"transform (rows, checksum) $got != expected $want")
  }

  /** sum over rows of sum_i (i + 1) * value(row, selected(i)). */
  protected def selectedSum(cols: Array[RefColumn],
      path: Array[(Int, Double)]): Long = {
    val sel = path.map(_._1).sorted
    sel.indices.map { i =>
      (i + 1L) * cols(sel(i)).dense.map(b => (b & 0xFF).toLong).sum
    }.sum
  }

  protected def storageBytes(spark: SparkSession, rddId: Int): Long =
    spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId)
      .map(i => i.memSize + i.diskSize).sum

  protected val schema: StructType = StructType(Seq(
    StructField("label", DoubleType, nullable = false),
    StructField("features", SQLDataTypes.VectorType, nullable = false)))
}

object Workload {
  val Names: Seq[String] = Seq("paper_fit", "sparse_text")

  def apply(name: String, seed: Long, smoke: Boolean): Workload = name match {
    case "paper_fit" => new PaperFit(seed, smoke)
    case "sparse_text" => new SparseText(seed, smoke)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }

  /**
   * Materializes the vector column `col` and returns (rows, sum over rows
   * of sum_i (i + 1) * v_i), reading the vector struct straight from the
   * internal rows.
   */
  def checksum(df: DataFrame, col: String): (Long, Long) =
    df.select(col).queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { row =>
        val v = row.getStruct(0, 4)
        val vals = v.getArray(3)
        var j = 0
        if (v.getByte(0) == 0) {
          val ids = v.getArray(2)
          while (j < vals.numElements()) {
            s += (ids.getInt(j) + 1L) * vals.getDouble(j).toLong; j += 1
          }
        } else {
          while (j < vals.numElements()) {
            s += (j + 1L) * vals.getDouble(j).toLong; j += 1
          }
        }
        n += 1
      }
      Iterator.single((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((n, s), (m, t)) => (n + m, s + t) }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }
}

/**
 * The paper's path at ECBDL14 width: parquet -> FrequencyDiscretizer (16
 * buckets) -> InfoThSelector (JMI) -> model transform. At most 10000 rows,
 * so the discretizer's sampled split search sees every row and the
 * reference can recompute its splits exactly.
 */
final class PaperFit(seed: Long, smoke: Boolean) extends Workload("paper_fit", seed) {
  val rows: Int = if (smoke) 600 else 3000
  val features: Int = if (smoke) 64 else 631
  private val buckets = 16
  private val k = if (smoke) 4 else 10
  val scoringCopies: Int = if (smoke) 2 else 8
  require(rows <= 10000, "the reference splits assume the split search samples every row")
  private val layout = PaperLayout(seed, features)
  private var dir: Path = _
  private var expectedSplits: Array[Array[Double]] = _

  def storedCells: Long = rows.toLong * features
  def shape: Seq[(String, Any)] = Seq("rows" -> rows, "features" -> features,
    "buckets" -> buckets, "criterion" -> "jmi", "k" -> k, "classes" -> 2,
    "scoring_copies" -> scoringCopies)
  def fitSpans: Set[String] = Set("read", "disc", "select.jmi")

  def setup(spark: SparkSession, dir: Path): Unit = {
    val l = layout
    val data = spark.sparkContext.parallelize(0 until rows, nproc(spark)).map { i =>
      Row(l.label(i).toDouble, Vectors.dense(l.row(i)))
    }
    spark.createDataFrame(data, schema).write.parquet(dir.toString)
    this.dir = dir
  }

  def release(): Unit = if (dir != null) Workload.deleteTree(dir)

  def computeExpected(): Unit = {
    val matrix = Array.tabulate(rows)(layout.row)
    val label = Array.tabulate(rows)(i => layout.label(i).toByte)
    expectedSplits = Array.tabulate(features)(f =>
      Reference.splits(matrix.map(_(f)), buckets))
    val cols: Array[RefColumn] = Array.tabulate(features) { f =>
      DenseColumn(matrix.map(r => Reference.bucket(expectedSplits(f), r(f)).toByte))
    }
    expectedPaths = Map("jmi" -> Reference.greedy(cols, label, "jmi", k))
    expectedSum = selectedSum(cols, expectedPaths("jmi"))
  }

  private def discretizer = new FrequencyDiscretizer().setNumBuckets(buckets)
    .setInputCol("features").setOutputCol("disc")

  def workingSetBytes(spark: SparkSession): Long = {
    val df = spark.read.parquet(dir.toString)
    val col: ColumnarData = Columnar.fromLabeledDf(
      discretizer.fit(df).transform(df), "disc", "label")
    try storageBytes(spark, col.data.id) finally col.data.unpersist(blocking = true)
  }

  def op(spark: SparkSession, span: SpanRecorder): Seq[String] = {
    val df = span("read", "other") { spark.read.parquet(dir.toString) }
    val (disc, discDf) = span("disc", "disc") {
      val m = discretizer.fit(df)
      (m, m.transform(df))
    }
    val model = span("select.jmi", "select") {
      new InfoThSelector().setCriterion("jmi").setNumTopFeatures(k)
        .setFeaturesCol("disc").setLabelCol("label").setOutputCol("selected")
        .fit(discDf)
    }
    val sum = span("transform", "transform") {
      Workload.checksum(model.transform(scoringBatch(discDf)), "selected")
    }
    val badSplits = disc.splitsArray.indices.find(f =>
      !java.util.Arrays.equals(disc.splitsArray(f), expectedSplits(f)))
    badSplits.map(f => s"discretizer splits of feature $f differ").toSeq ++
      checkPath("jmi", model.selectionPath) ++ checkSum(sum)
  }
}

/**
 * LibSVM/a1a-style sparse rows, persisted at set-up: each op fits
 * InfoThSelector (mRMR) over them, which transposes into sparse blocks,
 * then materializes the sparse gather of the selection.
 */
final class SparseText(seed: Long, smoke: Boolean) extends Workload("sparse_text", seed) {
  val rows: Int = if (smoke) 2000 else 80000
  val features: Int = if (smoke) 500 else 5000
  private val k = if (smoke) 3 else 5
  val scoringCopies: Int = if (smoke) 2 else 16
  private val layout = SparseLayout(seed, features)
  private var source: DataFrame = _
  private var nonzeros = 0L

  def storedCells: Long = nonzeros
  def shape: Seq[(String, Any)] = Seq("rows" -> rows, "features" -> features,
    "nonzeros" -> nonzeros, "values" -> "1-4", "classes" -> 2, "criterion" -> "mrmr",
    "k" -> k, "scoring_copies" -> scoringCopies)
  def fitSpans: Set[String] = Set("select.mrmr")

  def setup(spark: SparkSession, dir: Path): Unit = {
    val l = layout
    val nf = features
    val data = spark.sparkContext.parallelize(0 until rows, nproc(spark)).map { i =>
      val (ids, vals) = l.row(i)
      Row(l.label(i).toDouble, Vectors.sparse(nf, ids, vals))
    }
    source = spark.createDataFrame(data, schema).persist(StorageLevel.MEMORY_AND_DISK)
    source.count()
  }

  def release(): Unit = if (source != null) source.unpersist(blocking = true)

  def computeExpected(): Unit = {
    val entries = Array.fill(features)(new scala.collection.mutable.ArrayBuffer[(Int, Byte)])
    for (i <- 0 until rows) {
      val (ids, vals) = layout.row(i)
      ids.indices.foreach(j => entries(ids(j)) += ((i, vals(j).toByte)))
    }
    nonzeros = entries.map(_.length.toLong).sum
    val cols: Array[RefColumn] = entries.map(e =>
      SparseColumn(rows, e.map(_._1).toArray, e.map(_._2).toArray))
    val label = Array.tabulate(rows)(i => layout.label(i).toByte)
    expectedPaths = Map("mrmr" -> Reference.greedy(cols, label, "mrmr", k))
    expectedSum = selectedSum(cols, expectedPaths("mrmr"))
  }

  def workingSetBytes(spark: SparkSession): Long = {
    val col = Columnar.fromLabeledDf(source, "features", "label")
    try storageBytes(spark, col.data.id) finally col.data.unpersist(blocking = true)
  }

  def op(spark: SparkSession, span: SpanRecorder): Seq[String] = {
    val model = span("select.mrmr", "select") {
      new InfoThSelector().setCriterion("mrmr").setNumTopFeatures(k)
        .setOutputCol("selected").fit(source)
    }
    val sum = span("transform", "transform") {
      Workload.checksum(model.transform(scoringBatch(source)), "selected")
    }
    (checkPath("mrmr", model.selectionPath) ++ checkSum(sum)).toSeq
  }
}
