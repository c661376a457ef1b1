package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression for the embedding dot product.
 *
 * Spark's `zip_with`/`aggregate` higher-order functions are evaluated
 * INTERPRETED (no whole-stage codegen): scoring n_corpus x n_query
 * candidate pairs allocates a lambda frame per element. This expression
 * generates a tight primitive loop instead — the preference order the
 * engine follows everywhere: built-in function > custom codegen
 * Expression > UDF.
 *
 * Semantics: sum over i of a(i)*b(i) in double precision, left-to-right
 * (bitwise-identical to the zip_with/aggregate formulation on
 * well-formed input, so oracle results are unchanged). Arrays of
 * unequal length throw — a malformed embedding must fail the job, not
 * produce a plausible wrong cosine. Null elements count as 0.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if numericElem(lt) && numericElem(rt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product expects numeric arrays, got ${left.dataType} and ${right.dataType}")
    }
  }

  private def numericElem(t: DataType): Boolean = t match {
    case FloatType | DoubleType | IntegerType | LongType | ShortType => true
    case _ => false
  }

  @inline private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"dot_product arrays differ in length: $n vs ${y.numElements()}")
    }
    val lt = elemType(left); val rt = elemType(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else numAt(x, i, lt)
      val yv = if (y.isNullAt(i)) 0.0 else numAt(y, i, rt)
      acc += xv * yv
      i += 1
    }
    acc
  }

  private def numAt(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  private def genGet(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case ShortType => s"(double) $arr.getShort($i)"
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = elemType(left); val rt = elemType(right)
    val lNulls = left.dataType.asInstanceOf[ArrayType].containsNull
    val rNulls = right.dataType.asInstanceOf[ArrayType].containsNull
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val xGet =
        if (lNulls) s"double $xv = $x.isNullAt($i) ? 0.0d : ${genGet(x, i, lt)};"
        else s"double $xv = ${genGet(x, i, lt)};"
      val yGet =
        if (rNulls) s"double $yv = $y.isNullAt($i) ? 0.0d : ${genGet(y, i, rt)};"
        else s"double $yv = ${genGet(y, i, rt)};"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product arrays differ in length: " + $n + " vs " + $y.numElements());
         |}
         |double $acc = 0.0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  $xGet
         |  $yGet
         |  $acc += $xv * $yv;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot_product"
}

/**
 * Top-`nProbe` nearest centroids of a vector by rounded cosine — the
 * IVF assignment/probe kernel as ONE expression.
 *
 * The codebook rides as a plan REFERENCE OBJECT, not as per-element
 * literals: a C-column `array_min(array(struct...))` projection inlines
 * C x dim literal loads and blows Janino's 64 KB method limit at
 * C=256 x dim=64; here the generated code is a constant-size call into
 * [[NearestCentroids.compute]] (a tight JIT-compiled loop), so code
 * size is independent of C and dim.
 *
 * Contract (shared with the DuckDB oracles): the score rounds HALF_UP
 * to 5 decimals exactly like Spark's `round`; ranking is (cosine desc,
 * cid asc), or with `euclidean = true` (squared-distance asc, cid asc)
 * where d = |c|^2 - 2<v,c> + |v|^2 computed in exactly that
 * association (the k-means oracle's algebra). `norms2` holds SQUARED
 * centroid norms (sum v*v, the oracle's cn2). Returns the cids as
 * array<long> in rank order.
 */
case class NearestCentroids(child: Expression,
    codebook: Array[Array[Double]], norms2: Array[Double], cids: Array[Long],
    nProbe: Int, euclidean: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids expects a float/double array, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NearestCentroids.compute(v.asInstanceOf[ArrayData], isFloat,
        codebook, norms2, cids, nProbe, euclidean))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook, "double[][]")
    val cn = ctx.addReferenceObj("cnorms2", norms2, "double[]")
    val ci = ctx.addReferenceObj("cids", cids, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.NearestCentroids.compute($v, $isFloat, $cb, $cn, $ci, $nProbe, $euclidean));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_centroids"
}

object NearestCentroids {

  /** Spark `round(x, 5)` semantics for doubles (HALF_UP via the
    * shortest-decimal BigDecimal; NaN/Inf pass through). */
  def round5(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(5, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Top-n centroid cids of `vec` — (rounded cosine desc, cid asc), or
    * euclidean (rounded |c|^2 - 2<v,c> + |v|^2 asc, cid asc). Called
    * from both interpreted eval and generated code (static forwarder),
    * so the hot loop is identical either way. Scores negate internally
    * so one ascending insertion handles both metrics. */
  def compute(vec: ArrayData, isFloat: Boolean, cb: Array[Array[Double]],
      cnorm2: Array[Double], cids: Array[Long], nProbe: Int,
      euclidean: Boolean): Array[Long] = {
    val dim = vec.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    var n2 = 0.0
    i = 0
    while (i < dim) { n2 += v(i) * v(i); i += 1 }
    val vnorm = math.sqrt(n2)
    val n = math.min(nProbe, cb.length)
    val topScore = new Array[Double](n)
    val topCid = new Array[Long](n)
    var filled = 0
    var c = 0
    while (c < cb.length) {
      val cv = cb(c)
      require(cv.length == dim,
        s"vector dim $dim != codebook dim ${cv.length}")
      var dot = 0.0
      i = 0
      while (i < dim) { dot += v(i) * cv(i); i += 1 }
      // ascending-better score: negated rounded cosine, or rounded d
      val score =
        if (euclidean) round5(cnorm2(c) - 2 * dot + n2)
        else -round5(dot / (vnorm * math.sqrt(cnorm2(c))))
      val cid = cids(c)
      // insertion into the (score asc, cid asc) top-n
      var pos = filled
      while (pos > 0 && (score < topScore(pos - 1) ||
          (score == topScore(pos - 1) && cid < topCid(pos - 1)))) pos -= 1
      if (pos < n) {
        val last = math.min(filled, n - 1)
        var j = last
        while (j > pos) { topScore(j) = topScore(j - 1); topCid(j) = topCid(j - 1); j -= 1 }
        topScore(pos) = score
        topCid(pos) = cid
        if (filled < n) filled += 1
      }
      c += 1
    }
    java.util.Arrays.copyOf(topCid, filled)
  }
}

/**
 * Per-query ADC (asymmetric-distance) totals for one corpus row's PQ
 * codes — the compressed-serve scoring kernel as ONE expression.
 *
 * The per-query subspace distance tables ride as a plan REFERENCE
 * OBJECT (`tables(q)` is the query's m×k table flattened as
 * `s * k + code`), not as per-query literal arrays: the literal
 * formulation inlines Q × m × k doubles into generated code and blows
 * Janino's method limit at realistic codebooks (Q=500, m=8, k=256 is
 * a million literal tokens — the exact failure NearestCentroids'
 * reference-object design exists for). Generated code here is one
 * constant-size call into [[AdcDistances.computeOrNull]].
 *
 * Determinism contract (shared with the DuckDB oracle and the literal
 * formulation it replaces): table entries are pre-rounded to 6 by the
 * builder; the total sums subspaces in ascending order and rounds
 * HALF_UP to 6 — bit-identical to
 * `round(element_at(t0,...) + element_at(t1,...) + ..., 6)`.
 * Input: the row's codes as `array<long>`; output `array<double>`,
 * one distance per query, aligned with the builder's query order.
 */
case class AdcDistances(child: Expression,
    tables: Array[Array[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // a null CODE ELEMENT or out-of-range code nulls the whole row's
  // distance array (aligned with the per-query literal formulation
  // this kernel replaced: `element_at` yields null there). The
  // consumers posexplode the array, so a nulled row simply drops out
  // of every query's candidate set — do NOT rank raw distances with
  // asc() expecting nulls last (Spark's asc is NULLS FIRST). The
  // result is nullable even over a non-null codes column.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_distances expects array<bigint> codes, got $other")
    }

  override protected def nullSafeEval(codes: Any): Any = {
    val out = AdcDistances.computeOrNull(
      codes.asInstanceOf[ArrayData], tables, k)
    if (out == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tb = ctx.addReferenceObj("adcTables", tables, "double[][]")
    val tmp = ctx.freshName("adcOut")
    nullSafeCodeGen(ctx, ev, c =>
      s"""double[] $tmp = graft.functions.AdcDistances.computeOrNull($c, $tb, $k);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): AdcDistances =
    copy(child = newChild)

  override def prettyName: String = "graft_adc_distances"
}

object AdcDistances {

  /** Spark `round(x, 6)` semantics for doubles (HALF_UP via the
    * shortest-decimal BigDecimal; NaN/Inf pass through). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One corpus row's per-query ADC totals; static forwarder shared by
    * interpreted eval and generated code. Null when any code element
    * is null or outside [0, k) — the same rows the literal
    * `element_at` formulation nulled (a null code would otherwise
    * silently read as 0 through `ArrayData.getLong` and score with
    * centroid 0's distance). */
  def computeOrNull(codes: ArrayData, tables: Array[Array[Double]],
      k: Int): Array[Double] = {
    val m = codes.numElements()
    val cs = new Array[Int](m)
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = codes.getLong(s).toInt
      if (c < 0 || c >= k) return null
      cs(s) = c
      s += 1
    }
    val out = new Array[Double](tables.length)
    var q = 0
    while (q < tables.length) {
      val tab = tables(q)
      var d = 0.0
      s = 0
      while (s < m) { d += tab(s * k + cs(s)); s += 1 }
      out(q) = round6(d)
      q += 1
    }
    out
  }
}

/**
 * Packed sign bits of a vector against a family of deterministic
 * pseudo-hyperplanes — the sign-LSH bucket key as ONE codegen'd
 * expression.
 *
 * Replaces the last interpreted-HOF hot loop
 * ([[graft.pipeline.Similarity.lshBucketOffset]]'s per-plane
 * `zip_with` + `aggregate`): the HOF shape re-walks the vector once per
 * plane through interpreted lambda frames, while this kernel computes
 * all plane dots in one tight JIT-compiled pass. The plane family
 * parameters ride as plan reference objects (like
 * [[NearestCentroids]]), so generated code size is independent of the
 * plane count.
 *
 * Bit p (p in [0, planes)) is set iff
 * sum_j vec(j) * ((((a(p)*(j+1) + b(p)) mod 97) - 48) / 48.0) > 0,
 * summed left-to-right in double — bitwise-identical to the HOF
 * formulation. A null ELEMENT nulls the dot under the HOF fold, whose
 * `when(d > 0)` then yields bit 0 for every plane — mirrored here by
 * returning bucket 0. (Divergence, documented: a null ARRAY returns
 * null here, where the HOF chain collapsed it to bucket 0 — a null
 * embedding should not bucket-collide with other null embeddings.)
 */
case class PlaneSigns(child: Expression, a: Array[Long], b: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(a.length == b.length && a.length <= 63,
    s"plane family arrays must match and fit a long bucket, got ${a.length}/${b.length}")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"plane_signs expects a float/double array, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    PlaneSigns.compute(v.asInstanceOf[ArrayData], isFloat, a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ar = ctx.addReferenceObj("planesA", a, "long[]")
    val br = ctx.addReferenceObj("planesB", b, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PlaneSigns.compute($v, $isFloat, $ar, $br);")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneSigns =
    copy(child = newChild)

  override def prettyName: String = "graft_plane_signs"
}

object PlaneSigns {

  /** All plane sign bits in one pass. Static forwarder shared by
    * interpreted eval and generated code. */
  def compute(vec: ArrayData, isFloat: Boolean,
      a: Array[Long], b: Array[Long]): Long = {
    val n = vec.numElements()
    var j = 0
    while (j < n) {
      // null element => null dot under the HOF fold => every bit 0
      if (vec.isNullAt(j)) return 0L
      j += 1
    }
    var bucket = 0L
    var p = 0
    while (p < a.length) {
      var d = 0.0
      j = 0
      while (j < n) {
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        val comp = ((a(p) * (j + 1) + b(p)) % 97 - 48).toDouble / 48.0
        d += x * comp
        j += 1
      }
      if (d > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

/**
 * Per-feature bucketize of an ml VectorUDT column against fixed split
 * arrays — the discretizer model's transform as a NATIVE expression.
 *
 * Spark's own `Bucketizer` is a ScalaUDF inside (per-row boundary
 * crossing: InternalRow -> Vector object -> InternalRow), and it only
 * takes double columns, so a vector input would need a
 * vector_to_array / array_to_vector sandwich (two more UDF crossings).
 * This expression works on the UDT's INTERNAL struct representation
 * directly — (type, size, indices, values) — no Vector object is ever
 * materialized, and the static `compute` is shared by interpreted eval
 * and generated code (the [[NearestCentroids]] pattern).
 *
 * Semantics match [[graft.ml.FrequencyDiscretizer.binarySearchForBuckets]]
 * (Spark Bucketizer conventions): value == last split -> top bucket,
 * out-of-bounds throws. Sparse inputs bucketize their implicit zeros;
 * output is always dense (bucket(0) is generally nonzero).
 */
case class BucketizeVector(child: Expression, splits: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.ml.linalg.SQLDataTypes.VectorType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bucketize_vector expects an ml vector, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    BucketizeVector.compute(
      v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], splits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sp = ctx.addReferenceObj("splits", splits, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BucketizeVector.compute($v, $sp);")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketizeVector =
    copy(child = newChild)

  override def prettyName: String = "graft_bucketize_vector"
}

object BucketizeVector {

  /** Shared eval/codegen kernel over the VectorUDT struct encoding:
    * type (0 = sparse, 1 = dense), size, indices, values. */
  def compute(row: org.apache.spark.sql.catalyst.InternalRow,
      splits: Array[Array[Double]]): org.apache.spark.sql.catalyst.InternalRow = {
    val out: Array[Double] = row.getByte(0) match {
      case 1 => // dense
        val values = row.getArray(3)
        val n = values.numElements()
        require(n == splits.length,
          s"vector size $n != number of split arrays ${splits.length}")
        val o = new Array[Double](n)
        var j = 0
        while (j < n) {
          o(j) = graft.ml.FrequencyDiscretizer
            .binarySearchForBuckets(splits(j), values.getDouble(j))
          j += 1
        }
        o
      case _ => // sparse: explicit entries scatter over bucketized zeros
        val size = row.getInt(1)
        require(size == splits.length,
          s"vector size $size != number of split arrays ${splits.length}")
        val indices = row.getArray(2)
        val values = row.getArray(3)
        val o = new Array[Double](size)
        var j = 0
        while (j < size) {
          o(j) = graft.ml.FrequencyDiscretizer
            .binarySearchForBuckets(splits(j), 0.0)
          j += 1
        }
        var k = 0
        val nnz = indices.numElements()
        while (k < nnz) {
          val idx = indices.getInt(k)
          o(idx) = graft.ml.FrequencyDiscretizer
            .binarySearchForBuckets(splits(idx), values.getDouble(k))
          k += 1
        }
        o
    }
    GatherVector.denseRow(out)
  }
}

/**
 * Gather of an ml VectorUDT column onto fixed selected feature indices
 * — the selector model's transform as a NATIVE expression, in the
 * [[BucketizeVector]] pattern: the static `compute` reads the UDT's
 * internal struct and is shared by interpreted eval and generated code;
 * no `Vector` object is built.
 *
 * Semantics (reference: InfoSelector.scala:229-263): `indices` are
 * strictly increasing. Dense input gathers into a dense vector of
 * `indices.length`; sparse input is the sorted-merge intersection of its
 * indices with `indices`, reindexed to the compacted space (explicit
 * entries, 0.0 and -0.0 included, keep their values bit for bit). With
 * `width` at [[GatherVector.AnyWidth]] a vector too narrow to hold the
 * largest index is refused, naming both sizes. With `width` >= 0 the
 * input must be exactly that wide: the form [[graft.plans.GatherFirst]]
 * writes when it moves the gather under a [[BucketizeVector]], so a
 * wrong-width vector is refused with the bucketize's own message.
 */
case class GatherVector(child: Expression, indices: Array[Int],
    width: Int = GatherVector.AnyWidth)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(indices.indices.forall(i =>
      if (i == 0) indices(0) >= 0 else indices(i - 1) < indices(i)),
    "gather indices must be non-negative and strictly increasing")
  require(width == GatherVector.AnyWidth || indices.isEmpty ||
    indices.last < width, s"gather indices must lie in [0, $width)")

  override def dataType: DataType =
    org.apache.spark.ml.linalg.SQLDataTypes.VectorType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gather_vector expects an ml vector, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    GatherVector.compute(
      v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], indices, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("indices", indices, "int[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.GatherVector.compute($v, $idx, $width);")
  }

  override protected def withNewChildInternal(newChild: Expression): GatherVector =
    copy(child = newChild)

  override def prettyName: String = "graft_gather_vector"
}

object GatherVector {

  /** `width` of a gather that only needs the input to hold its largest
    * index. */
  val AnyWidth: Int = -1

  /** Shared eval/codegen kernel over the VectorUDT struct encoding:
    * type (0 = sparse, 1 = dense), size, indices, values. */
  def compute(row: org.apache.spark.sql.catalyst.InternalRow,
      indices: Array[Int], width: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val k = indices.length
    if (row.getByte(0) == 1) {
      val values = row.getArray(3)
      checkSize(values.numElements(), indices, width)
      val out = new Array[Double](k)
      var i = 0
      while (i < k) { out(i) = values.getDouble(indices(i)); i += 1 }
      denseRow(out)
    } else {
      checkSize(row.getInt(1), indices, width)
      val ids = row.getArray(2)
      val values = row.getArray(3)
      val nnz = ids.numElements()
      var outIdx = new Array[Int](math.min(nnz, k))
      var outVal = new Array[Double](outIdx.length)
      // sorted-merge intersection, reindexed to the compacted space
      var i = 0; var j = 0; var m = 0
      while (i < nnz && j < k) {
        val a = ids.getInt(i); val b = indices(j)
        if (a == b) {
          outIdx(m) = j; outVal(m) = values.getDouble(i)
          m += 1; i += 1; j += 1
        } else if (a < b) i += 1
        else j += 1
      }
      if (m < outIdx.length) {
        outIdx = java.util.Arrays.copyOf(outIdx, m)
        outVal = java.util.Arrays.copyOf(outVal, m)
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.toByte, k,
          org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(outIdx),
          org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(outVal)))
    }
  }

  private def checkSize(size: Int, indices: Array[Int], width: Int): Unit =
    if (width == AnyWidth) {
      require(indices.isEmpty || size > indices.last,
        s"vector of size $size is narrower than the ${indices.last + 1} " +
          "features the selected indices need")
    } else {
      require(size == width, s"vector size $size != number of split arrays $width")
    }

  /** A dense VectorUDT struct over `values`, as one unboxed array. */
  private[functions] def denseRow(values: Array[Double])
      : org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1.toByte, null, null,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(values)))
}

/** Column-level entry points for the native vector expressions. */
object VectorFunctions {

  /** dot(a, b): codegen'd double dot product over numeric arrays. */
  def dotProduct(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** L2 norm via the same codegen'd kernel. */
  def l2Norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotProduct(a, a))

  /** Top-n nearest centroid cids: (rounded-cosine desc, cid asc), or
    * euclidean (rounded squared-distance asc, cid asc). `norms2` =
    * squared centroid norms. */
  def nearestCentroids(vec: Column, codebook: Array[Array[Double]],
      norms2: Array[Double], cids: Array[Long], nProbe: Int,
      euclidean: Boolean = false): Column =
    GraftSqlBridge.column(NearestCentroids(
      GraftSqlBridge.expression(vec), codebook, norms2, cids, nProbe,
      euclidean))

  /** Per-query ADC distances for one corpus row's PQ codes — the
    * tables ride as ONE plan reference object (see [[AdcDistances]]). */
  def adcDistances(codes: Column, tables: Array[Array[Double]],
      k: Int): Column =
    GraftSqlBridge.column(AdcDistances(
      GraftSqlBridge.expression(codes), tables, k))

  /** Packed sign-LSH bucket key over the given plane family (one
    * codegen'd pass over the vector for all planes). */
  def planeSigns(vec: Column, a: Array[Long], b: Array[Long]): Column =
    GraftSqlBridge.column(PlaneSigns(GraftSqlBridge.expression(vec), a, b))

  /** Per-feature vector bucketize against fixed splits (the discretizer
    * transform) — native, no ScalaUDF, no Vector object per row. */
  def bucketizeVector(vec: Column, splits: Array[Array[Double]]): Column =
    GraftSqlBridge.column(BucketizeVector(GraftSqlBridge.expression(vec), splits))

  /** Gather of a vector onto strictly increasing feature indices (the
    * selector transform) — native, no ScalaUDF, no Vector object per
    * row. */
  def gatherVector(vec: Column, indices: Array[Int]): Column =
    GraftSqlBridge.column(GatherVector(GraftSqlBridge.expression(vec), indices))
}
