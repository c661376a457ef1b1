package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}

import graft.SparkSpec

class FrequencyDiscretizerSpec extends SparkSpec {

  test("splits are strictly increasing with +/-Inf endpoints") {
    val rng = new scala.util.Random(5)
    val df = spark.createDataFrame((0 until 2000).map { _ =>
      Tuple1(Vectors.dense(rng.nextGaussian(), rng.nextDouble() * 100,
        math.pow(rng.nextDouble(), 4) * 1e6))
    }).toDF("features")
    val model = new FrequencyDiscretizer().setNumBuckets(8).setSeed(1).fit(df)
    model.splitsArray.foreach { s =>
      assert(s.length >= 3)
      assert(s.head == Double.NegativeInfinity)
      assert(s.last == Double.PositiveInfinity)
      assert(s.sliding(2).forall(p => p(0) < p(1)))
    }
    // equal-frequency-ish: each bucket gets a reasonable share
    val out = model.transform(df)
    val col0 = out.select("discFeatures").collect()
      .map(_.getAs[Vector](0)(0))
    val counts = col0.groupBy(identity).view.mapValues(_.length)
    assert(counts.values.max < 2000 / 2)
  }

  test("constant column falls back to default splits [-Inf, 0, Inf]") {
    val df = spark.createDataFrame(
      (0 until 100).map(_ => Tuple1(Vectors.dense(7.7)))).toDF("features")
    val model = new FrequencyDiscretizer().setNumBuckets(4).fit(df)
    val s = model.splitsArray(0)
    // one distinct value 7.7 -> candidates = [7.7] -> [-Inf, 7.7, Inf]
    assert(s.length == 3)
    val out = model.transform(df).select("discFeatures").head.getAs[Vector](0)
    assert(out(0) == 1.0) // 7.7 lands in the upper bucket
  }

  test("low-cardinality column: every value becomes a split") {
    val df = spark.createDataFrame((0 until 300).map { i =>
      Tuple1(Vectors.dense((i % 3).toDouble))
    }).toDF("features")
    val model = new FrequencyDiscretizer().setNumBuckets(10).fit(df)
    val s = model.splitsArray(0)
    assert(s.toSeq == Seq(Double.NegativeInfinity, 0.0, 1.0, 2.0,
      Double.PositiveInfinity))
  }

  test("bucketize via binary search matches Bucketizer conventions") {
    val splits = Array(Double.NegativeInfinity, 0.0, 10.0, Double.PositiveInfinity)
    assert(FrequencyDiscretizer.binarySearchForBuckets(splits, -5.0) == 0.0)
    assert(FrequencyDiscretizer.binarySearchForBuckets(splits, 0.0) == 1.0)
    assert(FrequencyDiscretizer.binarySearchForBuckets(splits, 5.0) == 1.0)
    assert(FrequencyDiscretizer.binarySearchForBuckets(splits, 10.0) == 2.0)
    assert(FrequencyDiscretizer.binarySearchForBuckets(splits, 1e18) == 2.0)
    // top split maps to last bucket
    val finite = Array(0.0, 1.0, 2.0)
    assert(FrequencyDiscretizer.binarySearchForBuckets(finite, 2.0) == 1.0)
    intercept[IllegalArgumentException] {
      FrequencyDiscretizer.binarySearchForBuckets(finite, 5.0)
    }
  }

  test("-0.0 and 0.0 are one value: the splits do not depend on sample " +
      "order and both zeros land in one bucket") {
    def bits(a: Array[Double]) =
      a.map(java.lang.Double.doubleToRawLongBits).toSeq
    val fwd = Array(-0.0, 0.0, 0.0, 1.0, 2.0)
    val a = FrequencyDiscretizer.findSplitCandidates(fwd, 3)
    val b = FrequencyDiscretizer.findSplitCandidates(fwd.reverse, 3)
    assert(bits(a) == bits(b) && bits(a) == bits(Array(0.0, 1.0, 2.0)),
      s"${a.toSeq} vs ${b.toSeq}")
    for (splits <- Seq(Array(Double.NegativeInfinity, 0.0, 1.0,
        Double.PositiveInfinity), Array(Double.NegativeInfinity, -0.0, 1.0,
        Double.PositiveInfinity)))
      assert(FrequencyDiscretizer.binarySearchForBuckets(splits, -0.0) ==
        FrequencyDiscretizer.binarySearchForBuckets(splits, 0.0),
        s"splits ${splits.toSeq}")
    // end to end through the native bucketize kernel, both sample orders
    for (order <- Seq(fwd.toSeq, fwd.reverse.toSeq)) {
      val df = spark.createDataFrame(order.map(v => Tuple1(Vectors.dense(v))))
        .toDF("features")
      val out = new FrequencyDiscretizer().setNumBuckets(4).fit(df)
        .transform(df).select("discFeatures").collect()
        .map(_.getAs[Vector](0)(0))
      val zeros = order.zip(out).filter(_._1 == 0.0).map(_._2).distinct
      assert(zeros.size == 1, s"order $order buckets ${out.toSeq}")
    }
  }

  test("discretized output feeds the selector (end-to-end chain)") {
    val rng = new scala.util.Random(3)
    val rows = (0 until 1000).map { _ =>
      val x = rng.nextGaussian()
      val label = if (x > 0) 1.0 else 0.0
      (label, Vectors.dense(x, rng.nextGaussian(), rng.nextGaussian()))
    }
    val df = spark.createDataFrame(rows).toDF("label", "features")
    val disc = new FrequencyDiscretizer().setNumBuckets(8)
      .setInputCol("features").setOutputCol("disc").setSeed(2).fit(df)
    val model = new InfoThSelector().setFeaturesCol("disc")
      .setCriterion("mrmr").setNumTopFeatures(1).fit(disc.transform(df))
    assert(model.selectedFeatures.toSeq == Seq(0))
  }

  test("reference fidelity: stride rounds UP on non-divisible samples") {
    // Hand-traced against reference FrequencyDiscretizer.scala:200
    // (stride = ceil(10/3) = 4): 10 samples, 5 distinct values, 2
    // splits. Walk: target 4 fires at cumcount 4 -> split 2; target 8
    // fires at cumcount 8 -> split 4. WITHOUT the ceil (stride 3.33)
    // the walk would yield [2, 3, 5] — the pre-r10 divergence.
    val samples = Array(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 4.0, 5.0, 5.0)
    val got = FrequencyDiscretizer.findSplitCandidates(samples, 2)
    assert(got.toSeq == Seq(2.0, 4.0), s"stride walk diverged: ${got.toSeq}")
  }

  test("reference fidelity: distinct == numSplits takes the every-value branch") {
    // Reference counts possibleSplits EXCLUDING the MaxValue sentinel
    // (valueCounts.length - 1); at distinct == numSplits the reference
    // returns every distinct value, not a stride walk.
    val samples = Array(0.0, 0.0, 1.0, 1.0, 2.0, 2.0)
    val got = FrequencyDiscretizer.findSplitCandidates(samples, 3)
    assert(got.toSeq == Seq(0.0, 1.0, 2.0))
  }

  test("model save/load round-trip") {
    val df = spark.createDataFrame((0 until 200).map { i =>
      Tuple1(Vectors.dense(i.toDouble % 17))
    }).toDF("raw")
    val model = new FrequencyDiscretizer().setNumBuckets(4).setSeed(42)
      .setInputCol("raw").setOutputCol("binned").fit(df)
    val dir = java.nio.file.Files.createTempDirectory("graft-disc").toString
    model.write.overwrite().save(dir)
    val loaded = FrequencyDiscretizerModel.load(dir)
    assert(loaded.uid == model.uid)
    assert(loaded.splitsArray.map(_.toSeq).toSeq ==
      model.splitsArray.map(_.toSeq).toSeq)
    // every explicitly set param comes back
    assert(loaded.getNumBuckets == 4)
    assert(loaded.getSeed == 42L)
    assert(loaded.getInputCol == "raw")
    assert(loaded.getOutputCol == "binned")
    // a directory written by the other model class is refused by name
    val e = intercept[IllegalArgumentException] {
      InfoThSelectorModel.load(dir)
    }
    assert(e.getMessage.contains(classOf[FrequencyDiscretizerModel].getName))
  }

  test("splits are Bucketizer-compatible: same buckets from Spark's Bucketizer") {
    import org.apache.spark.ml.feature.Bucketizer
    import org.apache.spark.ml.linalg.Vector
    import spark.implicits._
    val vals = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 8.0, 9.0, 12.0, 20.0)
    val df = spark.createDataFrame(vals.map(v => Tuple1(Vectors.dense(v))))
      .toDF("features")
    val model = new FrequencyDiscretizer().setNumBuckets(4).setSeed(1)
      .setInputCol("features").setOutputCol("disc").fit(df)
    val plain = vals.toDF("raw")
    val viaBucketizer = new Bucketizer().setSplits(model.splitsArray(0))
      .setInputCol("raw").setOutputCol("b").transform(plain)
      .select("b").collect().map(_.getDouble(0)).toSeq
    val viaModel = model.transform(df).select("disc").collect()
      .map(_.getAs[Vector](0)(0)).toSeq
    assert(viaBucketizer == viaModel)
  }

  test("transform is a native expression (no ScalaUDF) and handles sparse input") {
    import org.apache.spark.ml.linalg.Vector
    val df = spark.createDataFrame((0 until 100).map { i =>
      Tuple1(Vectors.dense(i.toDouble % 10, i.toDouble % 7))
    }).toDF("features")
    val model = new FrequencyDiscretizer().setNumBuckets(4).setSeed(5)
      .setInputCol("features").setOutputCol("disc").fit(df)
    val plan = model.transform(df).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"transform plan has a UDF:\n$plan")
    // sparse vectors bucketize their implicit zeros and yield the same
    // answer as the equivalent dense vector
    val sparse = spark.createDataFrame(Seq(
      Tuple1(Vectors.sparse(2, Array(1), Array(6.0))),
      Tuple1(Vectors.sparse(2, Array(), Array()))))
      .toDF("features")
    val dense = spark.createDataFrame(Seq(
      Tuple1(Vectors.dense(0.0, 6.0)),
      Tuple1(Vectors.dense(0.0, 0.0))))
      .toDF("features")
    def buckets(in: org.apache.spark.sql.DataFrame) =
      model.transform(in).select("disc").collect()
        .map(_.getAs[Vector](0).toArray.toSeq).toSeq
    assert(buckets(sparse) == buckets(dense))
  }
}
