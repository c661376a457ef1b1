package graft.core

import org.apache.spark.ml.linalg.{Vector, Vectors}

import graft.SparkSpec

class ColumnarSpec extends SparkSpec {

  private def labeledDf(rows: Seq[(Double, Array[Double])]) = {
    val data = rows.map { case (l, v) => (l, Vectors.dense(v)) }
    spark.createDataFrame(data).toDF("label", "features")
  }

  test("transpose reconstructs columns and infers cardinality") {
    val rows = Seq(
      (0.0, Array(1.0, 4.0)),
      (1.0, Array(2.0, 5.0)),
      (0.0, Array(3.0, 4.0)),
      (1.0, Array(1.0, 6.0)))
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(2))
    assert(col.nFeatures == 2)
    assert(col.nInstances == 4)
    assert(col.labelIndex == 2)
    // cardinality = max+1 per column
    assert(col.cardinality(0) == 4)  // max 3
    assert(col.cardinality(1) == 7)  // max 6
    assert(col.cardinality(2) == 2)  // labels {0,1}
    // multiset of values per feature is preserved
    val f0 = col.collectColumn(0).values.flatten.map(_.toInt).toSeq.sorted
    assert(f0 == Seq(1, 1, 2, 3))
    val lbl = col.collectColumn(2).values.flatten.map(_.toInt).toSeq.sorted
    assert(lbl == Seq(0, 0, 1, 1))
    // within-block alignment: rebuild rows from columns
    val blocks0 = col.collectColumn(0)
    val blocks1 = col.collectColumn(1)
    val blocksL = col.collectColumn(2)
    val rebuilt = blocks0.keys.toSeq.sorted.flatMap { b =>
      blocks0(b).toSeq.lazyZip(blocks1(b).toSeq).lazyZip(blocksL(b).toSeq)
        .map((a, c, l) => (l.toDouble, Array(a.toDouble, c.toDouble)))
    }
    assert(rebuilt.map(r => (r._1, r._2.mkString(","))).sorted.toSeq ==
      rows.map(r => (r._1, r._2.mkString(","))).sorted)
    col.unpersist()
  }

  test("sparse vectors stay sparse and reconstruct with implicit zeros") {
    val data = Seq(
      (1.0, Vectors.sparse(4, Array(1, 3), Array(2.0, 7.0))),
      (0.0, Vectors.sparse(4, Array(0), Array(5.0))))
    val df = spark.createDataFrame(data).toDF("label", "features")
    val col = Columnar.fromLabeledDf(df)
    // feature blocks are SparseBlocks (no densification in the cache)
    val kinds = col.data.flatMap(_.features.toSeq)
      .map(_.getClass.getSimpleName).distinct().collect().toSet
    assert(kinds == Set("SparseBlock"))
    assert(col.collectColumn(0).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 5))
    assert(col.collectColumn(1).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 2))
    assert(col.collectColumn(2).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 0))
    assert(col.collectColumn(3).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 7))
    col.unpersist()
  }

  /** A DataFrame whose partition b holds exactly `blocks(b)`, in order,
    * padded with empty partitions up to `defaultParallelism` so the
    * transpose keeps the partitioning (one block per partition). */
  private def blockedDf(blocks: Seq[Seq[(Double, Vector)]]) = {
    val pad = Seq.fill(math.max(0,
      spark.sparkContext.defaultParallelism - blocks.length))(Seq.empty)
    val parts = blocks ++ pad
    val rdd = spark.sparkContext.parallelize(parts, parts.length).flatMap(rows => rows)
    spark.createDataFrame(rdd).toDF("label", "features")
  }

  test("sparse histograms equal dense histograms on the same data") {
    // 5 blocks of different sizes and label mixes over 7 features:
    // feature 3 is all zero, feature 4 has nonzeros only in block 2
    val rng = new scala.util.Random(11)
    val nf = 7
    def label(b: Int): Int = b match {
      case 0 => 0
      case 1 => rng.nextInt(2)
      case 2 => rng.nextInt(3)
      case 3 => if (rng.nextInt(5) == 0) 0 else 2
      case _ => if (rng.nextInt(5) == 0) 2 else 1
    }
    def value(f: Int, b: Int): Double = (f match {
      case 3 => 0
      case 4 => if (b == 2 && rng.nextInt(2) == 0) 1 + rng.nextInt(3) else 0
      case _ => if (rng.nextInt(5) == 0) 1 + rng.nextInt(2 + f % 3) else 0
    }).toDouble
    val blocks = Seq(40, 75, 60, 90, 55).zipWithIndex.map { case (size, b) =>
      Seq.fill(size)((label(b).toDouble, Array.tabulate(nf)(value(_, b))))
    }
    val sCol = Columnar.fromLabeledDf(blockedDf(blocks.map(_.map {
      case (l, v) => (l, Vectors.dense(v).toSparse: Vector) })))
    val dCol = Columnar.fromLabeledDf(blockedDf(blocks.map(_.map {
      case (l, v) => (l, Vectors.dense(v): Vector) })))
    // the premise: five blocks, pairwise different label counts, sparse
    val labelMix = sCol.collectColumn(sCol.labelIndex).values
      .map(_.groupBy(identity).view.mapValues(_.length).toMap).toSeq
    assert(labelMix.length == 5 && labelMix.distinct.length == 5)
    assert(sCol.data.flatMap(_.features.toSeq)
      .collect().forall(_.isInstanceOf[SparseBlock]))
    assert(sCol.cardinality.toSeq == dCol.cardinality.toSeq)
    assert(sCol.cardinality(3) == 1)

    val h2s = Histograms.histogram2D(sCol).collect().toMap
    val h2d = Histograms.histogram2D(dCol).collect().toMap
    assert(h2s.keySet == (0 until nf).toSet && h2d.keySet == h2s.keySet)
    h2s.foreach { case (f, h) =>
      assert(h.counts.toSeq == h2d(f).counts.toSeq, s"2D mismatch at f=$f")
      assert(h.total == blocks.map(_.length).sum)
    }
    // y = a sparse feature, then y = the all-zero feature
    val n = blocks.map(_.length).sum.toLong
    Seq(1, 3).foreach { yFeat =>
      val h3s = Histograms.histogram3D(sCol, yFeat).collect().toMap
      val h3d = Histograms.histogram3D(dCol, yFeat).collect().toMap
      assert(h3s.keySet == (0 until nf).toSet - yFeat && h3d.keySet == h3s.keySet)
      h3s.foreach { case (f, h) =>
        assert(h.counts.toSeq == h3d(f).counts.toSeq,
          s"3D mismatch at f=$f, y=$yFeat")
      }
      // the 2-D tables vs the same y: equal across layouts, the x-y
      // marginal of the 3-D tables, and the very same mi
      val h2ys = Histograms.histogram2D(sCol, yFeat).collect().toMap
      val h2yd = Histograms.histogram2D(dCol, yFeat).collect().toMap
      assert(h2ys.keySet == h3s.keySet && h2yd.keySet == h3s.keySet)
      h2ys.foreach { case (f, h) =>
        assert(h.counts.toSeq == h2yd(f).counts.toSeq,
          s"2D vs y mismatch at f=$f, y=$yFeat")
        val h3 = h3s(f)
        val marginal = for (x <- 0 until h3.xs; y <- 0 until h3.ys)
          yield (0 until h3.zs).map(h3(x, y, _)).sum
        assert(h.xs == h3.xs && h.ys == h3.ys && h.counts.toSeq == marginal,
          s"2D vs y is not the 3D x-y marginal at f=$f, y=$yFeat")
        assert(InfoTheory.mutualInfo(h, n) == InfoTheory.miAndCmi(h3, n)._1,
          s"2D vs 3D mi differ at f=$f, y=$yFeat")
      }
    }
    // frequencies kernel agrees too
    val fs = Histograms.frequenciesByFeature(sCol)
    val fd = Histograms.frequenciesByFeature(dCol)
    fs.foreach { case (f, a) => assert(a.toSeq == fd(f).toSeq) }
    sCol.unpersist(); dCol.unpersist()
  }

  test("sparse transpose layout: mixed rows, explicit zeros, empty blocks") {
    val nf = 5
    def sp(ids: Array[Int], vals: Array[Double]): Vector = Vectors.sparse(nf, ids, vals)
    def dn(vals: Double*): Vector = Vectors.dense(vals.toArray)
    val blocks = Seq(
      // sparse first (sparse mode), dense rows mixed in; 0.0 stored
      // explicitly at (row 0, feature 2) and (row 2, feature 4); feature
      // 2 and feature 3 end up with no nonzeros in this block
      Seq(
        (0.0, sp(Array(0, 2), Array(3.0, 0.0))),
        (1.0, dn(0, 1, 0, 0, 2)),
        (1.0, sp(Array(1, 4), Array(5.0, 0.0))),
        (0.0, dn(7, 0, 0, 0, 0)),
        (1.0, sp(Array(0, 1, 4), Array(1.0, 2.0, 3.0)))),
      // dense first (dense mode), sparse rows mixed in
      Seq(
        (1.0, dn(0, 4, 0, 1, 0)),
        (0.0, sp(Array(3), Array(0.0))),
        (0.0, sp(Array(0, 4), Array(2.0, 6.0))),
        (1.0, dn(1, 0, 2, 0, 0))),
      // sparse only: every entry of feature 1
      Seq(
        (0.0, sp(Array(1), Array(9.0))),
        (1.0, sp(Array(1, 2), Array(1.0, 1.0))),
        (0.0, sp(Array(1), Array(4.0)))))
    val col = Columnar.fromLabeledDf(blockedDf(blocks))
    val recs = col.data.mapPartitionsWithIndex((b, it) => it.map(b -> _))
      .collect().toMap
    assert(recs.keySet == blocks.indices.toSet)
    blocks.zipWithIndex.foreach { case (rows, b) =>
      val labels = rows.map(_._1.toByte)
      val sparseMode = rows.head._2.isInstanceOf[org.apache.spark.ml.linalg.SparseVector]
      val blk = recs(b)
      assert(blk.features.length == nf, s"columns in block $b")
      assert(blk.label.toSeq == labels, s"label at b=$b")
      (0 until nf).foreach { f =>
        val column = rows.map(_._2(f).toByte)
        blk.features(f) match {
          case SparseBlock(n, rs, vs) =>
            assert(sparseMode, s"SparseBlock in dense-mode block $b")
            assert(n == rows.length)
            assert(rs.toSeq.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
              s"rows not strictly increasing at f=$f, b=$b")
            val nz = column.indices.filter(column(_) != 0)
            assert(rs.toSeq == nz, s"rows at f=$f, b=$b")
            assert(vs.toSeq == nz.map(column), s"values at f=$f, b=$b")
          case DenseBlock(vs) =>
            assert(!sparseMode, s"DenseBlock in sparse-mode block $b")
            assert(vs.toSeq == column, s"values at f=$f, b=$b")
        }
      }
      assert(blk.column(nf) == DenseBlock(blk.label))
    }
    // the cases above are really exercised: empty sparse blocks, one of
    // them (feature 2) holding only a dropped explicit zero
    Seq(2, 3).foreach { f =>
      val blk = recs(0).features(f).asInstanceOf[SparseBlock]
      assert(blk.rows.isEmpty && blk.values.isEmpty && blk.n == 5)
    }
    assert(recs(0).features(4).asInstanceOf[SparseBlock].rows.toSeq == Seq(1, 4))
    col.unpersist()
  }

  test("empty input is refused as empty") {
    val empty = spark.createDataFrame(Seq.empty[(Double, Vector)])
      .toDF("label", "features")
    val e = intercept[IllegalArgumentException](Columnar.fromLabeledDf(empty))
    assert(e.getMessage.contains("empty input"))
    val e2 = intercept[IllegalArgumentException](
      new graft.ml.InfoThSelector().fit(empty))
    assert(e2.getMessage.contains("empty input"))
    val emptyInts = spark.createDataFrame(Seq.empty[(Int, Int)]).toDF("a", "label")
    val e3 = intercept[IllegalArgumentException](
      Columnar.fromIntColumns(emptyInts, Seq("a"), "label"))
    assert(e3.getMessage.contains("empty input"))
  }

  test("block-major co-location: every block's columns share one partition") {
    // one record per non-empty partition holds all nf feature columns and
    // the block's labels, so a block never spans partitions
    val rng = new scala.util.Random(3)
    val rows = Seq.fill(64)((rng.nextInt(2).toDouble,
      Array(rng.nextInt(8).toDouble, rng.nextInt(8).toDouble)))
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(5))
    val perPartition = col.data.mapPartitions(it => Iterator.single(it.toList))
      .collect()
    assert(perPartition.forall(_.length <= 1),
      s"records per partition: ${perPartition.map(_.length).toSeq}")
    val blocks = perPartition.flatten
    assert(blocks.length > 1)
    blocks.foreach { blk =>
      assert(blk.n > 0, "empty block")
      assert(blk.features.length == col.nFeatures)
      assert(blk.features.forall(_.n == blk.label.length))
    }
    // every block's columns are row-aligned with its labels
    val rebuilt = blocks.toSeq.flatMap { blk =>
      val cols = blk.features.map(Columnar.densify)
      blk.label.indices.map(i => (blk.label(i).toDouble,
        cols.map(_(i).toDouble).mkString(",")))
    }
    assert(rebuilt.sorted == rows.map(r => (r._1, r._2.mkString(","))).sorted)
    col.unpersist()
  }

  test("out-of-domain values are rejected") {
    intercept[org.apache.spark.SparkException] {
      Columnar.fromLabeledDf(labeledDf(Seq((0.0, Array(256.0))))).data.count()
    }
    intercept[org.apache.spark.SparkException] {
      Columnar.fromLabeledDf(labeledDf(Seq((0.0, Array(1.5))))).data.count()
    }
  }

  /** Asserts that materializing `fromLabeledDf(df, "x", "y")` fails with
    * an IllegalArgumentException (possibly wrapped by the task failure)
    * that names `column`. */
  private def assertRefusesNull(df: org.apache.spark.sql.DataFrame,
      column: String): Unit = {
    val e = intercept[Exception] {
      Columnar.fromLabeledDf(df, "x", "y").data.count()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains(s"column $column")),
      s"expected an IllegalArgumentException naming $column, got $e")
  }

  private def nullRows(vecs: Seq[org.apache.spark.ml.linalg.Vector]) = {
    // row 1 carries a null label, row 2 a null features vector; row 0 is
    // whole so the null sits past the row used to size the vectors
    val withNullLabel = vecs.zipWithIndex.map { case (v, i) =>
      (if (i == 1) None else Some((i % 2).toDouble), v)
    }
    val withNullVec = vecs.zipWithIndex.map { case (v, i) =>
      ((i % 2).toDouble, if (i == 2) null else v)
    }
    (spark.createDataFrame(withNullLabel).toDF("y", "x").coalesce(1),
      spark.createDataFrame(withNullVec).toDF("y", "x").coalesce(1))
  }

  test("null label or null features vector is refused, dense input") {
    val (nullLabel, nullVec) = nullRows(Seq.tabulate(4)(i =>
      Vectors.dense(i.toDouble, 1.0)))
    assertRefusesNull(nullLabel, "y")
    assertRefusesNull(nullVec, "x")
    // a null in the row that sizes the vectors is refused on the driver
    assertRefusesNull(nullVec.filter("x is null"), "x")
  }

  test("null label or null features vector is refused, sparse input") {
    val (nullLabel, nullVec) = nullRows(Seq.tabulate(4)(i =>
      Vectors.sparse(3, Array(i % 3), Array(2.0))))
    assertRefusesNull(nullLabel, "y")
    assertRefusesNull(nullVec, "x")
  }

  test("histogram3D refuses a y that is not a feature") {
    val col = Columnar.fromLabeledDf(labeledDf(Seq(
      (0.0, Array(1.0, 2.0)), (1.0, Array(0.0, 3.0)))))
    Seq(-1, col.nFeatures, col.nFeatures + 1).foreach { y =>
      val e = intercept[IllegalArgumentException](Histograms.histogram3D(col, y))
      assert(e.getMessage.contains(s"got $y"))
    }
    col.unpersist()
  }

  test("histogram2D takes the label or any feature as y and refuses the rest") {
    val col = Columnar.fromLabeledDf(labeledDf(Seq(
      (0.0, Array(1.0, 2.0, 0.0)), (1.0, Array(0.0, 3.0, 1.0)),
      (1.0, Array(1.0, 3.0, 1.0)))))
    val byLabel = Histograms.histogram2D(col).collect().toMap
    val explicit = Histograms.histogram2D(col, col.nFeatures).collect().toMap
    assert(byLabel.keySet == (0 until col.nFeatures).toSet)
    assert(explicit.keySet == byLabel.keySet)
    byLabel.foreach { case (f, h) =>
      val e = explicit(f)
      assert((h.xs, h.ys) == (e.xs, e.ys) && h.counts.toSeq == e.counts.toSeq,
        s"mismatch at f=$f")
    }
    assert(Histograms.histogram2D(col, 1).keys.collect().toSet == Set(0, 2))
    Seq(-1, col.nFeatures + 1).foreach { y =>
      val e = intercept[IllegalArgumentException](Histograms.histogram2D(col, y))
      assert(e.getMessage.contains(s"got $y"))
    }
    col.unpersist()
  }

  /** A working set built straight from rows `(label, values)` grouped
    * into partitions: partition b holds one block of `parts(b)` (none
    * when it is empty); odd partitions hold sparse blocks. */
  private def directColumnar(parts: Seq[Seq[(Int, Array[Int])]], nf: Int) = {
    val blocks = parts.zipWithIndex.map { case (rows, b) =>
      if (rows.isEmpty) Seq.empty[ColumnBlock]
      else Seq(ColumnBlock(Array.tabulate(nf) { f =>
        val v = rows.map(_._2(f).toByte).toArray
        if (b % 2 == 0) DenseBlock(v)
        else {
          val nz = v.indices.filter(v(_) != 0).toArray
          SparseBlock(v.length, nz, nz.map(v))
        }
      }, rows.map(_._1.toByte).toArray))
    }
    val all = parts.flatten
    val cards = (Array.tabulate(nf)(f => all.map(_._2(f))) :+ all.map(_._1))
      .map(_.max + 1)
    ColumnarData(spark.sparkContext.parallelize(blocks, blocks.length)
      .flatMap(identity), all.length.toLong, nf, cards)
  }

  test("packed column ranges match brute-force tables") {
    val rng = new scala.util.Random(23)
    // (features, rows per partition; 0 = an empty partition): one feature
    // over 5 partitions (one range, two for the frequencies with the
    // label), 7 features over 3 partitions (ranges 0-1, 2-3, 4-6)
    Seq(1 -> Seq(30, 0, 25, 40, 10), 7 -> Seq(50, 0, 60)).foreach { case (nf, sizes) =>
      val parts = sizes.map(s => Seq.fill(s)((rng.nextInt(3),
        Array.fill(nf)(if (rng.nextInt(3) == 0) 0 else rng.nextInt(5)))))
      val col = directColumnar(parts, nf)
      assert(col.data.getNumPartitions == sizes.length)
      val all = parts.flatten
      val xs = Array.tabulate(nf)(f => all.map(_._2(f)))
      val lbl = all.map(_._1)
      def what(f: Int, y: Int) = s"nf=$nf, f=$f, y=$y"
      // y = the label, then a feature in the first and in the last range
      (nf +: Seq(0, nf - 1).distinct).foreach { y =>
        val ycol = if (y == nf) lbl else xs(y)
        val h2 = Histograms.histogram2D(col, y).collect().toMap
        assert(h2.keySet == (0 until nf).toSet - y, what(-1, y))
        h2.foreach { case (f, h) =>
          val b = Brute.hist2d(xs(f), ycol)
          assert((h.xs, h.ys) == (b.xs, b.ys), what(f, y))
          assert(h.counts.toSeq == b.counts.toSeq, what(f, y))
        }
        if (y < nf) {
          val h3 = Histograms.histogram3D(col, y).collect().toMap
          assert(h3.keySet == h2.keySet, what(-1, y))
          h3.foreach { case (f, h) =>
            val b = Brute.hist3d(xs(f), ycol, lbl)
            assert((h.xs, h.ys, h.zs) == (b.xs, b.ys, b.zs), what(f, y))
            assert(h.counts.toSeq == b.counts.toSeq, what(f, y))
          }
        }
      }
      val freqs = Histograms.frequenciesByFeature(col)
      assert(freqs.keySet == (0 to nf).toSet)
      (xs :+ lbl).zipWithIndex.foreach { case (c, f) =>
        assert(freqs(f).toSeq == (0 until col.cardinality(f)).map(v => c.count(_ == v).toLong),
          s"frequencies, nf=$nf, f=$f")
      }
    }
  }

  test("a histogram pass shuffles one record per (block, column range)") {
    val rng = new scala.util.Random(29)
    val nf = 7
    // 3 partitions, one of them empty: 2 blocks x min(7, 3) ranges
    val parts = Seq(40, 0, 35).map(s => Seq.fill(s)((rng.nextInt(2),
      Array.fill(nf)(rng.nextInt(4)))))
    val col = directColumnar(parts, nf)
    val records = workOf(Histograms.histogram2D(col).collect()).shuffleRecordsWritten
    assert(records == 2 * 3, s"$records shuffle records, not blocks x ranges = 6")
  }

  test("histogram2D/3D match brute-force counts") {
    val rng = new scala.util.Random(7)
    val n = 200
    val xs = Seq.fill(n)(rng.nextInt(6))
    val ys = Seq.fill(n)(rng.nextInt(4))
    val lbl = Seq.fill(n)(rng.nextInt(3))
    val rows = (0 until n).map { i =>
      (lbl(i).toDouble, Array(xs(i).toDouble, ys(i).toDouble))
    }
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(3))

    val h2 = Histograms.histogram2D(col).collect().toMap
    assert(h2.keySet == Set(0, 1))
    val expected2 = Brute.hist2d(xs, lbl)
    assert(h2(0).counts.toSeq == expected2.counts.toSeq)
    assert(h2(0).total == n)

    // x vs y=feature1, z=label (y read partition-locally, label rides
    // with the blocks)
    val h3 = Histograms.histogram3D(col, 1)
      .collect().toMap
    assert(h3.keySet == Set(0))
    val expected3 = Brute.hist3d(xs, ys, lbl)
    assert(h3(0).counts.toSeq == expected3.counts.toSeq)

    // distributed MI equals brute MI
    val miDist = h2.map { case (f, h) => f -> InfoTheory.mutualInfo(h, n) }
    assert(math.abs(miDist(0) - Brute.mi(xs, lbl)) < 1e-9)
    val (m, c) = InfoTheory.miAndCmi(h3(0), n)
    assert(math.abs(m - Brute.mi(xs, ys)) < 1e-9)
    assert(math.abs(c - Brute.cmi(xs, ys, lbl)) < 1e-9)
    col.unpersist()
  }
}
