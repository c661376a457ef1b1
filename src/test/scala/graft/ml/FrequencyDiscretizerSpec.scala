package graft.ml

import scala.collection.mutable

import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StructField, StructType}

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

  /** Asserts that `body` fails with an IllegalArgumentException, possibly
    * wrapped by a task failure, whose message holds every one of `parts`. */
  private def assertRefuses(parts: String*)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      parts.forall(t.getMessage.contains)),
      s"expected an IllegalArgumentException naming ${parts.mkString(", ")}, got $e")
  }

  /** One "features" vector column whose partition p holds `parts(p)`. */
  private def partitioned(parts: Seq[Seq[Vector]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length)
        .flatMap(_.map(v => Row(v))),
      StructType(Seq(StructField("features", SQLDataTypes.VectorType))))

  test("a NaN in the sample is refused by column and feature index") {
    def withNaN(col1: Seq[Double]) = spark.createDataFrame(
      col1.map(v => Tuple1(Vectors.dense(1.0, v)))).toDF("features")
    // stride branch: counted as mass, the NaNs would move the splits from
    // (3, 6) to (4, 8)
    val strided = Seq(1.0, Double.NaN, 2.0, Double.NaN) ++ (3 to 8).map(_.toDouble)
    assertRefuses("column features", "feature 1", "NaN") {
      new FrequencyDiscretizer().setNumBuckets(3).fit(withNaN(strided))
    }
    // every-value branch: the NaN would be a candidate
    assertRefuses("column features", "feature 1", "NaN") {
      new FrequencyDiscretizer().setNumBuckets(4).fit(withNaN(Seq(1.0, Double.NaN)))
    }
    // +/-Inf stay valid: the sentinels absorb them
    val inf = Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0, Double.PositiveInfinity)
    val s = new FrequencyDiscretizer().setNumBuckets(8).fit(withNaN(inf))
      .splitsArray(1)
    assert(s.toSeq == Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0,
      Double.PositiveInfinity))
  }

  test("a null vector or vectors of different widths are refused by column") {
    val fit = new FrequencyDiscretizer().setInputCol("features")
    val two = Vectors.dense(1.0, 2.0)
    val one = Vectors.dense(1.0)
    val three = Vectors.sparse(3, Array(0), Array(1.0))
    for (firstPartitionOnly <- Seq(true, false)) {
      // one partition: the task that reads both rows refuses; one row per
      // partition: the reduce task that gets both widths refuses
      def df(rows: Vector*) =
        if (firstPartitionOnly) partitioned(Seq(rows))
        else partitioned(rows.map(Seq(_)))
      assertRefuses("column features", "null") { fit.fit(df(two, null)) }
      assertRefuses("column features", "null") { fit.fit(df(null, two)) }
      assertRefuses("column features", "2", "1") { fit.fit(df(two, one)) }
      assertRefuses("column features", "2", "3") { fit.fit(df(two, three)) }
      assertRefuses("column features", "2", "0") {
        fit.fit(df(two, Vectors.dense(Array.empty[Double])))
      }
    }
  }

  /** Driver-side reference over a whole column: distinct values counted
    * and sorted, then the stride walk, then the sentinel normalization. */
  private def referenceSplits(column: Seq[Double], numBuckets: Int): Seq[Double] = {
    val numSplits = numBuckets - 1
    val counts = column.map(_ + 0.0).groupBy(identity).toSeq
      .map { case (v, vs) => (v, vs.size) }.sortWith(_._1 < _._1)
    val candidates =
      if (counts.size <= numSplits) counts.map(_._1)
      else {
        val stride = math.ceil(column.size.toDouble / (numSplits + 1))
        val runs = counts :+ ((Double.MaxValue, 1))
        val out = mutable.ArrayBuffer.empty[Double]
        var cum = runs.head._2
        var target = stride
        for (i <- 1 until runs.size) {
          val prev = cum
          cum += runs(i)._2
          if (math.abs(prev - target) < math.abs(cum - target)) {
            out += runs(i - 1)._1
            target += stride
          }
        }
        out.toSeq
      }
    FrequencyDiscretizer.getSplits(candidates.toArray).toSeq
  }

  test("the executor split search equals a driver-side sort and stride walk") {
    val rng = new scala.util.Random(11)
    val nRows = 1200
    // kind 0: ~21 integers with signed zeros and +/-Inf (every-value branch
    // at 64 buckets); kind 1: continuous with 30% signed zeros (stride
    // branch); kind 2: 90% zero, else 1..5
    def value(kind: Int): Double = {
      def zero = if (rng.nextBoolean()) 0.0 else -0.0
      kind match {
        case 0 =>
          val u = rng.nextDouble()
          if (u < 0.01) Double.NegativeInfinity
          else if (u < 0.02) Double.PositiveInfinity
          else { val v = math.round(rng.nextGaussian() * 3).toDouble; if (v == 0) zero else v }
        case 1 => if (rng.nextDouble() < 0.3) zero else rng.nextGaussian()
        case _ => if (rng.nextDouble() < 0.9) zero else (1 + rng.nextInt(5)).toDouble
      }
    }
    // sparse rows keep about a third of their zeros as explicit entries
    def sparse(row: Array[Double]): Vector = {
      val keep = row.indices.filter(j => row(j) != 0.0 || rng.nextDouble() < 0.3)
      Vectors.sparse(row.length, keep.toArray, keep.map(row).toArray)
    }
    def bits(s: Seq[Double]) = s.map(java.lang.Double.doubleToRawLongBits)
    // nf 1 and 3 run below the partition count, nf 7 above it
    for (nf <- Seq(1, 3, 7)) {
      val matrix = Array.fill(nRows)(Array.tabulate(nf)(j => value(j % 3)))
      val encodings = Seq[(String, Int => Vector)](
        "dense" -> (i => Vectors.dense(matrix(i))),
        "sparse" -> (i => sparse(matrix(i))),
        "mixed" -> (i => if (i % 2 == 0) Vectors.dense(matrix(i)) else sparse(matrix(i))))
      for ((encoding, vec) <- encodings; parts <- if (nf == 7) Seq(1, 3, 8) else Seq(8)) {
        val rows = Seq.tabulate(nRows)(vec)
        // with 8 partitions, partitions 1, 4 and 7 are empty
        val filled = (0 until parts).filter(p => parts < 8 || p % 3 != 1)
        val chunks = Seq.tabulate(parts) { p =>
          val k = filled.indexOf(p)
          if (k < 0) Seq.empty
          else rows.slice(k * nRows / filled.size, (k + 1) * nRows / filled.size)
        }
        val df = partitioned(chunks)
        for (numBuckets <- Seq(2, 64)) {
          val got = new FrequencyDiscretizer().setNumBuckets(numBuckets)
            .setSeed(3).fit(df).splitsArray
          assert(got.length == nf)
          for (f <- 0 until nf) {
            val want = referenceSplits(matrix.map(_(f)).toSeq, numBuckets)
            assert(bits(got(f).toSeq) == bits(want),
              s"nf $nf $encoding parts $parts buckets $numBuckets feature $f: " +
                s"${got(f).toSeq} vs $want")
          }
        }
      }
    }
  }

  test("a sampled fit searches the Bernoulli sample a driver collect would see") {
    // 20 000 rows: the fit samples about half of them
    val rng = new scala.util.Random(17)
    val df = partitioned(Seq.fill(3)(Seq.fill(20000 / 3)(
      Vectors.dense(rng.nextGaussian(), rng.nextInt(40).toDouble))))
    val fraction = 10000.0 / df.count()
    val sample = df.sample(withReplacement = false, fraction, 5L).collect()
      .map(_.getAs[Vector](0))
    assert(sample.length < df.count())
    val got = new FrequencyDiscretizer().setNumBuckets(64).setSeed(5).fit(df)
      .splitsArray
    for (f <- 0 until 2)
      assert(got(f).toSeq == referenceSplits(sample.map(_(f)).toSeq, 64),
        s"feature $f")
  }

  test("the fit collects splits, not the sample, in no more jobs") {
    val rng = new scala.util.Random(13)
    val nf = 200
    val numBuckets = 16
    val df = partitioned(Seq.fill(4)(Seq.fill(500)(
      Vectors.dense(Array.fill(nf)(rng.nextGaussian()))))).cache()
    df.count()
    val work = workOf(new FrequencyDiscretizer().setNumBuckets(numBuckets).fit(df))
    // the fit that collected the sample ran 3 jobs here: the count's two
    // (adaptive execution runs its shuffle stage as a job of its own) and
    // the sample collect
    assert(work.jobs <= 3, s"${work.jobs} jobs")
    val splitBytes = nf * (numBuckets + 1) * 8L
    val sampleBytes = 2000L * nf * 8
    assert(work.resultBytes < splitBytes + work.tasks * 8192L,
      s"${work.resultBytes} result bytes from ${work.tasks} tasks")
    assert(work.resultBytes < sampleBytes / 10)
    df.unpersist()
  }
}
