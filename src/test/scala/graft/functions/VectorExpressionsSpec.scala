package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorExpressionsSpec extends SparkSpec {

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("DotProduct matches the higher-order-function formulation bitwise") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(200)((
      Array.fill(64)(rng.nextFloat()), Array.fill(64)(rng.nextFloat())))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorFunctions.dotProduct($"a", $"b").as("native"),
      hofDot($"a", $"b").as("hof")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "bitwise mismatch")
    }
  }

  test("DotProduct works on double arrays and in interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val e = DotProduct(
      Literal.create(Seq(1.0, 2.0, 3.0), ArrayType(DoubleType, false)),
      Literal.create(Seq(4.0, 5.0, 6.0), ArrayType(DoubleType, false)))
    assert(e.eval(InternalRow.empty) == 32.0)
  }

  test("null elements count as zero; null array yields null") {
    import spark.implicits._
    val df = spark.sql(
      "SELECT array(1.0D, NULL, 3.0D) AS a, array(2.0D, 9.0D, 4.0D) AS b")
    val v = df.select(VectorFunctions.dotProduct(col("a"), col("b"))).head
    assert(v.getDouble(0) == 1.0 * 2.0 + 0.0 + 3.0 * 4.0)
    val nf = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS a, array(1.0D) AS b")
      .select(VectorFunctions.dotProduct(col("a"), col("b"))).head
    assert(nf.isNullAt(0))
  }

  test("norm equals sqrt of self dot product") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("v")
    val n = df.select(VectorFunctions.l2Norm($"v")).head.getDouble(0)
    assert(math.abs(n - 5.0) < 1e-12)
  }

  test("nearestCentroids ranks by rounded cosine desc with cid-asc ties") {
    import spark.implicits._
    // centroids 7 and 9 are colinear with v (identical rounded cosine);
    // 3 is orthogonal. Tie must resolve to the smaller cid.
    val cb = Array(Array(1.0, 0.0), Array(2.0, 0.0), Array(0.0, 1.0))
    val norms = cb.map(c => math.sqrt(c.map(x => x * x).sum))
    val cids = Array(9L, 7L, 3L)
    val df = Seq(Tuple1(Array(5.0f, 0.0f))).toDF("v")
    val top = df.select(VectorFunctions.nearestCentroids(
      $"v", cb, norms, cids, 3)).head.getSeq[Long](0)
    assert(top == Seq(7L, 9L, 3L))
    // nProbe truncates in rank order
    val one = df.select(VectorFunctions.nearestCentroids(
      $"v", cb, norms, cids, 1)).head.getSeq[Long](0)
    assert(one == Seq(7L))
  }

  /** The interpreted-HOF formulation PlaneSigns replaced — kept here to
    * pin bitwise equivalence of the native kernel. */
  private def hofBucket(vec: org.apache.spark.sql.Column,
      nPlanes: Int, offset: Int): org.apache.spark.sql.Column = {
    import graft.pipeline.Dedup
    val bits = (0 until nPlanes).map { i =>
      val comp = (j: org.apache.spark.sql.Column) =>
        (((lit(Dedup.MinhashA(offset + i)) * (j + 1) +
          Dedup.MinhashB(offset + i)) % 97) - 48).cast("double") / 48.0
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") * comp(j)),
        lit(0.0), (acc, v) => acc + v)
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  test("PlaneSigns matches the HOF bucket formulation on every offset") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val rng = new scala.util.Random(17)
    val df = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(32)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    for (offset <- Seq(0, 4, 8); nPlanes <- Seq(4, 8)) {
      val got = df.select(
        VectorFunctions.planeSigns($"vec",
          Dedup.MinhashA.slice(offset, offset + nPlanes),
          Dedup.MinhashB.slice(offset, offset + nPlanes)).as("native"),
        hofBucket($"vec", nPlanes, offset).as("hof")).collect()
      got.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"bucket mismatch at offset=$offset nPlanes=$nPlanes"))
    }
  }

  test("PlaneSigns: null element collapses the bucket to 0 (HOF parity)") {
    import graft.pipeline.Dedup
    val df = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE), 2.0D) AS vec")
    val b = df.select(VectorFunctions.planeSigns(col("vec"),
      Dedup.MinhashA.take(8), Dedup.MinhashB.take(8))).head
    assert(!b.isNullAt(0) && b.getLong(0) == 0L)
  }

  test("AdcDistances: valid codes sum table entries; a null or " +
      "out-of-range code nulls the row's distances (element_at " +
      "parity — never centroid 0's score)") {
    // m=2 subspaces, k=2 codes, 2 queries; tables(q)(s*k + code)
    val tables = Array(
      Array(0.1, 0.2, 0.3, 0.4),   // q0: codes (0,1) -> 0.1 + 0.4
      Array(1.0, 2.0, 3.0, 4.0))   // q1: codes (0,1) -> 1.0 + 4.0
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(0L, 1L)),
        |  (2, array(CAST(NULL AS BIGINT), 1L)),
        |  (3, array(5L, 1L)),
        |  (4, CAST(NULL AS ARRAY<BIGINT>))
        |AS t(id, codes)""".stripMargin)
    val got = df.select(col("id"),
      VectorFunctions.adcDistances(col("codes"), tables, 2).as("d"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(got(1) == Seq(0.5, 5.0), s"got ${got(1)}")
    assert(got(2) == null, "a null code element must null the row " +
      "(it previously read as code 0 through ArrayData.getLong)")
    assert(got(3) == null, "an out-of-range code must null the row")
    assert(got(4) == null)
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val ok = AdcDistances(Literal.create(Seq(0L, 1L),
      ArrayType(LongType, true)), tables, 2).eval(InternalRow.empty)
    assert(ok.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq == Seq(0.5, 5.0))
    assert(AdcDistances(Literal.create(Seq[Any](null, 1L),
      ArrayType(LongType, true)), tables, 2).eval(InternalRow.empty) == null)
  }

  /** Runs `body` with `spark.sql.codegen.factoryMode` (and whole-stage
    * codegen to match) set, restoring both after. */
  private def inCodegenMode[T](mode: String)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), (mode == "CODEGEN_ONLY").toString)
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GatherVector equals a driver-side reference gather, codegen and interpreted") {
    import org.apache.spark.ml.linalg.{DenseVector, SparseVector, SQLDataTypes, Vector, Vectors}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    // the reference: dense gather, sparse sorted-merge reindexed
    def reference(v: Vector, idx: Array[Int]): Vector = v match {
      case d: DenseVector => Vectors.dense(idx.map(d.values))
      case sv: SparseVector =>
        val pos = idx.zipWithIndex.toMap
        val kept = sv.indices.zip(sv.values).flatMap { case (i, x) => pos.get(i).map(_ -> x) }
        Vectors.sparse(idx.length, kept.map(_._1), kept.map(_._2))
    }
    // encoding, size, indices and value bits: -0.0 must stay -0.0
    def exact(v: Vector): (String, Int, Seq[Int], Seq[Long]) = v match {
      case d: DenseVector =>
        ("dense", d.size, Nil, d.values.map(java.lang.Double.doubleToRawLongBits).toSeq)
      case sv: SparseVector =>
        ("sparse", sv.size, sv.indices.toSeq,
          sv.values.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }

    val nf = 11
    val rng = new scala.util.Random(23)
    val vectors: Seq[Vector] = (0 until 60).map { i =>
      val dense = Array.fill(nf)(rng.nextInt(5) match {
        case 0 => 0.0
        case 1 => -0.0
        case _ => rng.nextGaussian()
      })
      if (i % 2 == 0) Vectors.dense(dense)
      else {
        // explicit 0.0 / -0.0 entries stay explicit in the sparse form
        val ids = (0 until nf).filter(_ => rng.nextInt(3) == 0).toArray
        Vectors.sparse(nf, ids, ids.map(dense))
      }
    } ++ Seq(Vectors.sparse(nf, Array(0, nf - 1), Array(-0.0, 0.0)),
      Vectors.sparse(nf, Array.empty[Int], Array.empty[Double]),
      Vectors.dense(Array.tabulate(nf)(_.toDouble)))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", SQLDataTypes.VectorType)))
    // an RDD source, so the projection runs in a task and is not folded
    // into a local relation on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vectors.zipWithIndex.map { case (v, i) => Row(i, v) } :+ Row(vectors.length, null), 3),
      schema)
    val indexLists = Seq(Array.empty[Int], Array(0), Array(nf - 1), Array(0, nf - 1),
      Array(1, 4, 5, 9), Array.range(0, nf))

    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"); idx <- indexLists) {
      val what = s"$mode, indices ${idx.mkString("[", ",", "]")}"
      val out = inCodegenMode(mode) {
        val q = df.select(col("id"), VectorFunctions.gatherVector(col("v"), idx))
        val plan = q.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.WholeStageCodegenExec]) == (mode == "CODEGEN_ONLY"),
          s"$what: plan\n$plan")
        q.collect().map(r => r.getInt(0) -> r.getAs[Vector](1)).toMap
      }
      vectors.indices.foreach { i =>
        assert(exact(out(i)) == exact(reference(vectors(i), idx)),
          s"$what: row $i ${vectors(i)} gathered to ${out(i)}")
      }
      assert(out(vectors.length) == null, s"$what: a null vector gathers to null")
    }
  }
}
