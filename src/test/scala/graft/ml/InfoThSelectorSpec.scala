package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap

import graft.SparkSpec

class InfoThSelectorSpec extends SparkSpec {

  private def toDf(rows: Seq[(Double, Vector)]) =
    spark.createDataFrame(rows).toDF("label", "features")

  /** label = x0; x1..x3 noise. All criteria must pick 0 first. */
  private lazy val copyFixture = {
    val rng = new scala.util.Random(11)
    toDf((0 until 400).map { _ =>
      val x0 = rng.nextInt(2)
      (x0.toDouble, Vectors.dense(x0.toDouble, rng.nextInt(4).toDouble,
        rng.nextInt(4).toDouble, rng.nextInt(2).toDouble))
    })
  }

  /** label mostly = x0 xor x3 (jointly decisive), with a 15% direct-copy
    * leak from x0 so relevance(x0) clears the noise floor and the greedy
    * start is deterministic. x3 alone stays irrelevant; only the
    * conditional term I(x3; x0 | Y) can surface it. */
  private lazy val xorFixture = {
    val rng = new scala.util.Random(13)
    toDf((0 until 2000).map { _ =>
      val x0 = rng.nextInt(2); val x3 = rng.nextInt(2)
      val label = if (rng.nextDouble() < 0.15) x0 else x0 ^ x3
      (label.toDouble, Vectors.dense(x0.toDouble,
        rng.nextInt(4).toDouble, rng.nextInt(4).toDouble, x3.toDouble))
    })
  }

  test("all criteria put the copy feature first") {
    graft.core.InfoThCriterionFactory.all.foreach { crit =>
      val model = new InfoThSelector().setCriterion(crit)
        .setNumTopFeatures(2).fit(copyFixture)
      assert(model.selectionPath.head._1 == 0,
        s"$crit picked ${model.selectionPath.head._1} first")
      assert(model.selectedFeatures.length == 2)
      assert(model.selectedFeatures.contains(0))
    }
  }

  test("JMI surfaces the xor pair {0, 3} via the conditional term") {
    // CMIM/ICAP floor their modifier at 0 (score <= relevance), so only
    // JMI's +sum(cmi)/k term can lift the xor partner above the noise.
    val model = new InfoThSelector().setCriterion("jmi")
      .setNumTopFeatures(2).fit(xorFixture)
    assert(model.selectionPath.map(_._1).toSeq == Seq(0, 3),
      s"jmi selected ${model.selectionPath.map(_._1).mkString(",")}")
  }

  test("returns min(k, nFeatures) sorted distinct indices") {
    val model = new InfoThSelector().setCriterion("mrmr")
      .setNumTopFeatures(100).fit(copyFixture)
    assert(model.selectedFeatures.toSeq == model.selectedFeatures.toSeq.sorted)
    assert(model.selectedFeatures.distinct.length == model.selectedFeatures.length)
    assert(model.selectedFeatures.length == 4)
  }

  test("MIM selection order is relevance order") {
    val model = new InfoThSelector().setCriterion("mim")
      .setNumTopFeatures(4).fit(copyFixture)
    val scores = model.selectionPath.map(_._2)
    assert(scores.toSeq == scores.toSeq.sortBy(-(_: Double)))
    assert(model.selectionPath.head._1 == 0)
  }

  test("transform gathers selected indices (dense and sparse)") {
    val model = new InfoThSelector().setCriterion("mrmr")
      .setNumTopFeatures(2).fit(copyFixture)
    val out = model.transform(copyFixture)
    val first = out.select("selectedFeatures").head.getAs[Vector](0)
    assert(first.size == 2)

    // gather semantics directly
    val idx = Array(1, 3)
    val dense = InfoThSelectorModel.gather(Vectors.dense(9, 8, 7, 6), idx)
    assert(dense.toArray.toSeq == Seq(8.0, 6.0))
    val sparse = InfoThSelectorModel.gather(
      Vectors.sparse(4, Array(0, 3), Array(5.0, 2.0)), idx)
    assert(sparse.toArray.toSeq == Seq(0.0, 2.0))
    assert(sparse.isInstanceOf[org.apache.spark.ml.linalg.SparseVector])

    // a vector narrower than the largest selected index is refused, dense
    // or sparse, with both sizes named
    Seq(Vectors.dense(9, 8, 7), Vectors.sparse(3, Array(1), Array(5.0))).foreach { v =>
      val e = intercept[IllegalArgumentException](InfoThSelectorModel.gather(v, idx))
      assert(e.getMessage.contains("size 3") && e.getMessage.contains("the 4 "),
        e.getMessage)
    }
  }

  test("criterion case does not change the work: MIM runs the jobs mim does") {
    val est = new InfoThSelector().setNumTopFeatures(3)
    var lower: InfoThSelectorModel = null
    var upper: InfoThSelectorModel = null
    val lowerJobs = jobsRunBy { lower = est.fit(copyFixture, ParamMap(est.criterion -> "mim")) }
    val upperJobs = jobsRunBy { upper = est.fit(copyFixture, ParamMap(est.criterion -> "MIM")) }
    assert(lowerJobs > 0)
    assert(upperJobs == lowerJobs, s"MIM ran $upperJobs jobs, mim $lowerJobs")
    assert(upper.selectionPath.toSeq == lower.selectionPath.toSeq)
  }

  test("MIFS at beta 0 takes the MIM short-circuit") {
    val est = new InfoThSelector().setNumTopFeatures(3)
    var mim: InfoThSelectorModel = null
    var mifs: InfoThSelectorModel = null
    val mimJobs = jobsRunBy { mim = est.fit(copyFixture, ParamMap(est.criterion -> "mim")) }
    val mifsJobs = jobsRunBy {
      mifs = est.fit(copyFixture, ParamMap(est.criterion -> "mifs", est.beta -> 0.0))
    }
    assert(mifsJobs == mimJobs, s"MIFS at beta 0 ran $mifsJobs jobs, MIM $mimJobs")
    assert(mifs.selectionPath.toSeq == mim.selectionPath.toSeq)
  }

  test("a non-finite beta is refused") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { b =>
      intercept[IllegalArgumentException](new InfoThSelector().setBeta(b))
    }
  }

  test("sparse input selects identically to its dense equivalent") {
    // the reference throws on sparse selection (InfoSelector.scala:378-386);
    // we support it via implicit-zero histogram kernels
    val rng = new scala.util.Random(17)
    val rows = (0 until 600).map { _ =>
      val x0 = if (rng.nextInt(4) == 0) 1 + rng.nextInt(2) else 0
      val noise = Array.fill(3)(if (rng.nextInt(5) == 0) rng.nextInt(3) else 0)
      val label = if (rng.nextDouble() < 0.8) (if (x0 > 0) 1 else 0) else rng.nextInt(2)
      (label.toDouble, Array(x0.toDouble) ++ noise.map(_.toDouble))
    }
    val denseDf = toDf(rows.map { case (l, v) => (l, Vectors.dense(v)) })
    val sparseDf = toDf(rows.map { case (l, v) =>
      (l, Vectors.dense(v).toSparse.asInstanceOf[Vector])
    })
    Seq("mrmr", "jmi", "mim").foreach { crit =>
      val d = new InfoThSelector().setCriterion(crit).setNumTopFeatures(3)
        .fit(denseDf)
      val s = new InfoThSelector().setCriterion(crit).setNumTopFeatures(3)
        .fit(sparseDf)
      assert(s.selectionPath.map(_._1).toSeq == d.selectionPath.map(_._1).toSeq,
        s"$crit order differs")
      s.selectionPath.zip(d.selectionPath).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-12, s"$crit score differs: $a vs $b")
      }
    }
  }

  test("all 7 criteria match brute-force greedy, dense+sparse, with ties") {
    // independent in-memory greedy: exact MI and CMI from full contingency
    // counts, and this spec's own score algebra (Brown et al. 2012) over
    // the relevance, sum(mi), sum(cmi), the max loss and the capped loss
    val rng = new scala.util.Random(29)
    val nf = 24
    val n = 800
    val rows = (0 until n).map { _ =>
      val x = Array.fill(nf)(rng.nextInt(4))
      x(2) = x(17) // forced tie: feature 2 is an exact copy of feature 17
      val label = (x(3) + x(17) + (if (rng.nextDouble() < 0.2) 1 else 0)) % 4
      (label.toDouble, x)
    }
    val xs = Array.tabulate(nf)(j => rows.map(_._2(j)))
    val y = rows.map(_._1.toInt)
    val rel = Array.tabulate(nf)(f => graft.core.Brute.mi(xs(f), y))
    val redundancy = collection.mutable.Map.empty[(Int, Int), (Double, Double)]
    def miCmi(f: Int, s: Int) = redundancy.getOrElseUpdate((f, s),
      (graft.core.Brute.mi(xs(f), xs(s)), graft.core.Brute.cmi(xs(f), xs(s), y)))

    def score(crit: String, beta: Double, f: Int, sel: Seq[Int]): Double = {
      val red = sel.map(miCmi(f, _))
      val k = red.length
      val sumMi = red.map(_._1).sum
      val sumCmi = red.map(_._2).sum
      val maxLoss = (0.0 +: red.map { case (mi, cmi) => mi - cmi }).max
      val cappedLoss = red.map { case (mi, cmi) => math.max(0.0, mi - cmi) }.sum
      crit match {
        case "mim" => rel(f)
        case "mifs" => rel(f) - beta * sumMi
        case "jmi" => if (k == 0) rel(f) else rel(f) - (sumMi - sumCmi) / k
        case "mrmr" => if (k == 0) rel(f) else rel(f) - sumMi / k
        case "cmim" | "if" => rel(f) - maxLoss
        case "icap" => rel(f) - cappedLoss
      }
    }
    def bruteGreedy(crit: String, beta: Double, k: Int): Seq[(Int, Double)] = {
      val sel = collection.mutable.ArrayBuffer.empty[(Int, Double)]
      while (sel.length < k) {
        val done = sel.map(_._1).toSeq
        val scored = (0 until nf).filterNot(done.contains)
          .map(f => (f, score(crit, beta, f, done)))
        // highest score, ties to the lowest index
        sel += scored.maxBy { case (f, sc) => (sc, -f) }
      }
      sel.toSeq
    }

    val dense = toDf(rows.map { case (l, x) => (l, Vectors.dense(x.map(_.toDouble))) })
    val sparse = toDf(rows.map { case (l, x) =>
      (l, Vectors.dense(x.map(_.toDouble)).toSparse.asInstanceOf[Vector])
    })
    val configs = Seq("mim" -> 0.0, "mifs" -> 0.0, "mifs" -> 0.5, "jmi" -> 0.0,
      "mrmr" -> 0.0, "cmim" -> 0.0, "icap" -> 0.0, "if" -> 0.0)
    assert(configs.map(_._1).toSet == graft.core.InfoThCriterionFactory.all.toSet)
    for ((crit, beta) <- configs; (kind, df) <- Seq("dense" -> dense, "sparse" -> sparse)) {
      val what = s"$crit (beta $beta, $kind)"
      val expected = bruteGreedy(crit, beta, 6)
      val got = new InfoThSelector().setCriterion(crit).setBeta(beta)
        .setNumTopFeatures(6).fit(df).selectionPath.toSeq
      assert(got.map(_._1) == expected.map(_._1),
        s"$what selected ${got.map(_._1)}, brute force ${expected.map(_._1)}")
      got.zip(expected).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"$what score $a vs brute force $b")
      }
      // the twins score identically until one is picked: 2 must come first
      val twin = got.map(_._1).find(f => f == 2 || f == 17)
      assert(twin == Some(2), s"$what resolved the 2/17 tie to $twin")
    }
  }

  test("chains inside a spark.ml Pipeline (discretize -> select)") {
    import org.apache.spark.ml.Pipeline
    val rng = new scala.util.Random(31)
    val df = toDf((0 until 300).map { _ =>
      val x0 = rng.nextInt(2)
      (x0.toDouble, Vectors.dense(x0 * 10.0, rng.nextDouble() * 100,
        rng.nextDouble() * 100, rng.nextInt(3).toDouble))
    })
    val disc = new FrequencyDiscretizer().setNumBuckets(8).setSeed(7)
      .setInputCol("features").setOutputCol("disc")
    val sel = new InfoThSelector().setCriterion("mrmr").setNumTopFeatures(2)
      .setFeaturesCol("disc").setOutputCol("sel")
    val pipe = new Pipeline().setStages(Array(disc, sel)).fit(df)
    val out = pipe.transform(df)
    assert(out.columns.contains("sel"))
    val first = out.select("sel").head.getAs[Vector](0)
    assert(first.size == 2)
    // the discretized copy feature must win round 1
    val model = pipe.stages(1).asInstanceOf[InfoThSelectorModel]
    assert(model.selectionPath.head._1 == 0)
  }

  test("sparse selection scales to 1000 features without densification") {
    val rng = new scala.util.Random(43)
    val nf = 1000
    val rows = (0 until 400).map { _ =>
      val label = rng.nextInt(2)
      // informative feature 7 fires with the label; 5 random noise nnz
      val idx = (Seq.fill(5)(rng.nextInt(nf)).toSet ++
        (if (label == 1 && rng.nextDouble() < 0.9) Set(7) else Set.empty[Int]))
        .toSeq.sorted.toArray
      val vals = idx.map(_ => (1 + rng.nextInt(3)).toDouble)
      (label.toDouble, Vectors.sparse(nf, idx, vals).asInstanceOf[Vector])
    }
    val model = new InfoThSelector().setCriterion("mim").setNumTopFeatures(5)
      .fit(toDf(rows))
    assert(model.selectedFeatures.length == 5)
    assert(model.selectionPath.head._1 == 7,
      s"expected informative feature 7 first, got ${model.selectionPath.head._1}")
    // the cached working set must hold SparseBlocks, not densified rows
    val df = toDf(rows)
    val colData = graft.core.Columnar.fromLabeledDf(df)
    val kinds = colData.data.flatMap(_.features.toSeq)
      .map(_.getClass.getSimpleName).distinct().collect().toSet
    assert(kinds == Set("SparseBlock"))
    colData.unpersist()
  }

  test("reference benchmark shape: nf=631, ni=8000, dense, mRMR k=10") {
    // the reference's intended benchmark defaults (ECBDL14 subset:
    // test/InfoSelectorTest.scala:100-105 — NF=631, NI=8000, nfeat=10)
    val rng = new scala.util.Random(53)
    val nf = 631
    val rows = (0 until 8000).map { _ =>
      val label = rng.nextInt(2)
      val v = Array.fill(nf)(rng.nextInt(8).toDouble)
      // plant signal: feature 100 tracks the label closely
      v(100) = (if (rng.nextDouble() < 0.85) label * 4 else rng.nextInt(8)).toDouble
      (label.toDouble, Vectors.dense(v))
    }
    val t0 = System.nanoTime()
    val model = new InfoThSelector().setCriterion("mrmr")
      .setNumTopFeatures(10).fit(toDf(rows))
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"fit took $sec%.2f s (11 passes over 8000x631)")
    assert(model.selectedFeatures.length == 10)
    assert(model.selectionPath.head._1 == 100,
      s"expected planted feature 100 first, got ${model.selectionPath.head._1}")
  }

  test("model save/load round-trip") {
    val model = new InfoThSelector().setCriterion("mifs").setBeta(0.25)
      .setNumTopFeatures(2).setFeaturesCol("feats").setLabelCol("lbl")
      .setOutputCol("sel").fit(copyFixture.toDF("lbl", "feats"))
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    model.write.overwrite().save(dir)
    val loaded = InfoThSelectorModel.load(dir)
    assert(loaded.uid == model.uid)
    assert(loaded.selectedFeatures.toSeq == model.selectedFeatures.toSeq)
    assert(loaded.selectionPath.toSeq == model.selectionPath.toSeq)
    // every explicitly set param comes back
    assert(loaded.getCriterion == "mifs")
    assert(loaded.getBeta == 0.25)
    assert(loaded.getNumTopFeatures == 2)
    assert(loaded.getFeaturesCol == "feats")
    assert(loaded.getLabelCol == "lbl")
    assert(loaded.getOutputCol == "sel")
    // a directory written by the other model class is refused by name
    val e = intercept[IllegalArgumentException] {
      FrequencyDiscretizerModel.load(dir)
    }
    assert(e.getMessage.contains(classOf[InfoThSelectorModel].getName))
  }

  test("loaded selection path keeps its order whatever the data row order") {
    val model = new InfoThSelector().setCriterion("mrmr")
      .setNumTopFeatures(4).fit(copyFixture)
    val path = model.selectionPath.toSeq
    assert(path.length == 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    model.write.overwrite().save(dir)
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data").toString
    // the rows read back in reverse selection order
    val written = spark.read.parquet(dataDir)
    val reversed = written.collect().reverse.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(reversed, 1), written.schema)
      .write.mode("overwrite").parquet(dataDir)
    assert(spark.read.parquet(dataDir).select("feature").collect().map(_.getInt(0)).toSeq ==
      path.map(_._1).reverse)
    assert(InfoThSelectorModel.load(dir).selectionPath.toSeq == path)
    // a directory without the rank column is read in file order
    spark.createDataFrame(path).toDF("feature", "score").coalesce(1)
      .write.mode("overwrite").parquet(dataDir)
    assert(InfoThSelectorModel.load(dir).selectionPath.toSeq == path)
  }
}
