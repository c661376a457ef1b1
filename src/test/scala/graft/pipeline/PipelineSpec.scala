package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.{Plans, Work}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b c d e f"),
    (2L, "a b c d e f"),       // exact dup of 1
    (3L, "a b c d e g"),       // near dup of 1 (5/7 jaccard)
    (4L, "x y z w q r")).toDF("id", "text")

  test("exact dedup maps duplicates to the minimum id") {
    val out = Dedup.exact(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("token-set jaccard finds the near-dup pair with the right value") {
    val out = Dedup.ngramJaccard(docs, "id", "text", 1, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == math.floor(5.0 / 7.0 * 1e6) / 1e6 ||
      out((1L, 3L)) == BigDecimal(5.0 / 7.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!out.contains((1L, 4L)))
  }

  test("word 3-gram shingles") {
    val df = Seq((1L, "a b c d")).toDF("id", "text")
    val sh = Dedup.shingles(df, "id", "text", 3).collect().map(_.getString(1)).toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val out = Dedup.minhashLsh(docs, "id", "text", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))   // identical docs always collide
    assert(!out.exists(p => p._2 == 4L))
  }

  test("winnowNearDup pairs a doc with its truncated copy, not strangers") {
    val base = "the winnowing algorithm selects the minimum hash of every window"
    val df = Seq(
      (1L, base),
      (2L, base.dropRight(12)),            // truncated copy of 1
      (3L, "completely different content with no shared eight char runs"))
      .toDF("id", "text")
    val out = Dedup.winnowNearDup(df, "id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 >= 0.5)
  }

  test("CDC chunking is insertion-robust: a prefix insertion reflows " +
      "one chunk; a fixed-size grid loses every chunk") {
    val base = (0 until 120).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val shifted = "INSERTED " + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
    val fpsA = chunks(1L).map(_.getString(3)).toSet
    val fpsB = chunks(2L).map(_.getString(3)).toSet
    assert(fpsA.size > 5, s"fixture degenerate: ${fpsA.size} chunks")
    val shared = (fpsA & fpsB).size.toDouble / fpsA.size
    assert(shared > 0.6,
      f"CDC shared only $shared%.2f of chunks after a 1-token insertion")
    // the fixed grid shifts everything: ~zero shared 8-token windows
    def grid(text: String): Set[String] =
      text.split(" ").grouped(8).map(_.mkString(" ")).toSet
    val gridShared = (grid(base) & grid(shifted)).size
    assert(gridShared <= 1,
      s"fixture unexpectedly grid-stable: $gridShared shared")
    // chunk boundaries are content-defined: every shared fingerprint's
    // token count matches between the two docs
    val lenA = chunks(1L).map(r => r.getString(3) -> r.getLong(2)).toMap
    val lenB = chunks(2L).map(r => r.getString(3) -> r.getLong(2)).toMap
    (fpsA & fpsB).foreach(fp => assert(lenA(fp) == lenB(fp)))
    // duplicates view surfaces exactly the shared fingerprints
    val dups = Dedup.cdcDuplicates(docs, "doc_id", "text")
      .collect().map(_.getString(0)).toSet
    assert(dups == (fpsA & fpsB))
  }

  test("connectedComponents on an empty pair set returns empty (no crash)") {
    val empty = Seq.empty[(Long, Long)].toDF("ida", "idb")
    assert(Dedup.connectedComponents(empty).collect().isEmpty)
  }

  test("connectedComponents labels chains and leaves singletons out") {
    // graph: 1-2-3 chain, 7-9 pair, 5 absent (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("ida", "idb")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents converges on a long chain (diameter > 1 round)") {
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("ida", "idb")
    val comp = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(0L))
    assert(comp.keySet == (0L until 12L).toSet)
  }

  test("connectedComponents is exact with ids near Long.MaxValue") {
    // a Long sum of these ids wraps; the decimal(38,0) convergence
    // signal must not terminate early or corrupt labels
    val m = Long.MaxValue
    val pairs = Seq((m - 1, m), (m - 2, m - 1), (m - 9, m - 8))
      .toDF("ida", "idb")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(m -> (m - 2), (m - 1) -> (m - 2), (m - 2) -> (m - 2),
      (m - 8) -> (m - 9), (m - 9) -> (m - 9)))
  }

  test("crossJaccard flags cross-corpus overlap, never within-corpus pairs") {
    val train = Seq(
      (1L, "a b c d e f"),    // contains eval doc 10's text exactly
      (2L, "x y z w q r"),    // disjoint from eval
      (3L, "a b c d e f")).toDF("id", "text") // duplicate of train 1
    val eval = Seq(
      (10L, "a b c d e f"),
      (11L, "m n o p s t")).toDF("id", "text")
    val hits = Dedup.crossJaccard(train, eval, "id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both contaminated train docs hit eval 10; train-train and
    // eval-eval pairs never appear
    assert(hits == Set((1L, 10L), (3L, 10L)))
  }

  test("hash split is deterministic and respects cumulative fractions") {
    val df = spark.range(2000).toDF("id")
    val cuts = Seq(("train", 0.8), ("val", 0.9), ("test", 1.0))
    val counts = Splits.assign(df, "id", cuts)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // md5 uniformity at n=2000: generous tolerance, zero flake risk
    assert(math.abs(counts("train") - 1600L) < 120,
      s"train count ${counts("train")}")
    assert(counts("val") + counts("test") == 2000 - counts("train"))
    // deterministic: same assignment on recompute
    val again = Splits.assign(df, "id", cuts)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("editNearDup pairs suffix-edit families, caps hot-prefix blocks") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the dog"),      // suffix edit of 1
      (3L, "the quick brown fox sleeps"),                  // same prefix, far
      (4L, "completely different text here")).toDF("id", "text")
    val pairs = Dedup.editNearDup(d, "id", "text",
        prefixLen = 20, maxBucket = 64, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 == 5) // "lazy dog" -> "dog": 5 deletions
    // a block larger than maxBucket is excluded entirely
    val hot = (0 until 10).map(i => (100L + i, "shared boilerplate prefix doc " + i))
      .toDF("id", "text")
    assert(Dedup.editNearDup(hot, "id", "text", 20, 4, 100).count() == 0)
  }

  test("weightedSample: deterministic, k-bounded, favors heavy rows") {
    val df = spark.range(1, 2001).toDF("id")
      // ids <= 100 get weight 1000, the rest weight 1
      .withColumn("w", when(col("id") <= 100, 1000.0).otherwise(1.0))
    val got = Splits.weightedSample(df, "id", "w", k = 50)
      .select("id").as[Long].collect().toSet
    assert(got.size == 50)
    // heavy rows are 100/2000 of the population but ~98% of total mass;
    // they should dominate the sample decisively
    assert(got.count(_ <= 100) > 30, s"heavy picks: ${got.count(_ <= 100)}")
    val again = Splits.weightedSample(df, "id", "w", k = 50)
      .select("id").as[Long].collect().toSet
    assert(again == got)
  }

  test("exportShards/exportLayout: layout-independent shard membership " +
      "and within-shard order; manifest fingerprints detect mutation") {
    val df = spark.range(1, 1001).toDF("id")
      .withColumn("text", concat(lit("doc"), col("id")))
      .withColumn("n", col("id") % 50)
    val a = Splits.exportLayout(df, "id", nShards = 4)
    // every shard wholly inside ONE partition, contiguous and
    // pos-ordered (shards may share a partition; they never split)
    val perPart = a.select("shard", "pos").rdd
      .mapPartitions(it => Iterator.single(it.map(r =>
        (r.getInt(0), r.getLong(1))).toSeq)).collect()
    val shardHome = perPart.zipWithIndex.flatMap { case (p, i) =>
      p.map(_._1).distinct.map(_ -> i)
    }
    assert(shardHome.map(_._1).distinct.size == shardHome.size,
      s"a shard spans partitions: ${shardHome.toSeq}")
    perPart.filter(_.nonEmpty).foreach { p =>
      assert(p.map(_._1) == p.map(_._1).sorted, "shards not contiguous")
      p.groupBy(_._1).values.foreach(s =>
        assert(s.map(_._2).toSeq == s.map(_._2).toSeq.sorted,
          "pos not sorted within shard"))
    }
    // membership and order survive a hostile input layout
    val b = Splits.exportLayout(
      df.repartition(13, col("n")).sortWithinPartitions(desc("text")),
      "id", nShards = 4)
    assert(a.select("id", "shard", "pos").collect().map(_.toSeq).toSeq ==
      b.select("id", "shard", "pos").collect().map(_.toSeq).toSeq)
    // manifest: stable; any mutated row flips its shard's fingerprint
    val m1 = Splits.exportManifest(df, "id", "text", "n", 4)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(m1.map(_(1).asInstanceOf[Long]).sum == 1000L)
    val mutated = df.withColumn("text",
      when(col("id") === 77, lit("tampered")).otherwise(col("text")))
    val m2 = Splits.exportManifest(mutated, "id", "text", "n", 4)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(m1 != m2)
    assert(m1.zip(m2).count { case (x, y) => x != y } == 1,
      "exactly one shard's manifest row should change")
  }

  test("simhash: identical docs have distance 0, disjoint docs differ") {
    val sigs = Dedup.simhash(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    val pairs = Dedup.simhashNearDup(docs, "id", "text", 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(2.0f, 0.0f, 0.0f)),   // same direction as 1
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Array(-1.0f, 0.0f, 0.0f))). // opposite
    toDF("id", "vec")

  test("cosine: colinear=1, orthogonal=0, opposite=-1") {
    val out = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        round(Similarity.cosine(col("a.vec"), col("b.vec")), 5).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == 0.0)
    assert(out((1L, 4L)) == -1.0)
  }

  test("cosineTopK ranks colinear first") {
    val top = Similarity.cosineTopK(vecs.filter(col("id") === 1L), vecs, 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.head._1 == 2L && top.head._2 == 1.0)
  }

  test("binaryTopK: packing round-trips sign bits exactly; " +
      "cands = corpus degenerates to brute-force cosine") {
    // 64-dim vectors with mixed signs, incl. exact zeros (bit = 0)
    val corpus = (0L until 40L).map { id =>
      id -> Array.tabulate(64) { i =>
        val v = ((id * 37 + i * 17) % 19).toFloat - 9f
        if ((id + i) % 23 == 0) 0f else v / 9f
      }
    }.toDF("id", "vec")
    // packed words reproduce the per-dim sign bits exactly
    val packed = corpus
      .select(col("id"), col("vec"),
        Similarity.binaryQuantize(col("vec"), 64).as("b"))
      .collect()
    packed.foreach { r =>
      val vec = r.getSeq[Float](1)
      val words = r.getSeq[Long](2)
      assert(words.length == 2)
      for (i <- 0 until 64) {
        val bit = (words(i / 32) >> (i % 32)) & 1L
        assert(bit == (if (vec(i) > 0f) 1L else 0L),
          s"id=${r.getLong(0)} dim=$i")
      }
    }
    // with the shortlist as wide as the corpus, the rerank IS brute force
    val qs = corpus.filter(col("id") < 3)
    val bin = Similarity.binaryTopK(qs, corpus, 64, 40, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.cosineTopK(
        qs.select(col("id"), col("vec")), corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bin == brute)
    // a narrow shortlist still returns k rows per query, ham-deterministic
    val narrow = Similarity.binaryTopK(qs, corpus, 64, 8, 5)
      .collect().groupBy(_.getLong(0))
    assert(narrow.values.forall(_.length == 5))
  }

  test("binaryTopKAtRest: serve path matches inline; prefilter scan " +
      "is column-pruned to the packed words; rerank pushes the id list") {
    val corpus = (0L until 60L).map { id =>
      id -> Array.tabulate(64) { i =>
        (((id * 31 + i * 13) % 17).toFloat - 8f) / 8f
      }
    }.toDF("id", "vec")
    val path = "target/tmp/binidx-spec"
    Similarity.binaryIndexWrite(corpus, 64, path)
    val qs = corpus.filter(col("id") < 4)
    // DEFAULT path is fully distributed: building the frame must run
    // ZERO Spark jobs (the old shape collected the shortlist through
    // the driver at call time — a 50M-row round-trip at offline-batch
    // scale). Count the jobs construction runs to pin that.
    val (work, rest) = Work.of(spark)(
      Similarity.binaryTopKAtRest(spark, qs, path, 64, 12, 4))
    // <= 1: the single parquet footer/schema-inference job is
    // metadata-only; the old collect-based shape ran the whole
    // prefilter (shuffle + window + collect — several jobs) here
    assert(work.jobs <= 1,
      s"default binaryTopKAtRest ran ${work.jobs} driver-side jobs " +
        "during construction — shortlist must stay distributed")
    val inline = Similarity.binaryTopK(qs, corpus, 64, 12, 4)
    val inlineSet = inline.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rest.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == inlineSet)
    // the opt-in small-batch id-pushdown path returns the same rows
    val pushed = Similarity.binaryTopKAtRest(spark, qs, path, 64, 12, 4,
      idPushdown = true)
    assert(pushed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == inlineSet)
    // the prefilter reads ONLY (id, bwords) from the index files
    val packedPlan = spark.read.parquet(path).select("id", "bwords")
      .queryExecution.executedPlan.toString
    assert(packedPlan.contains("ReadSchema") && !packedPlan.contains("vec"),
      s"prefilter scan not pruned:\n$packedPlan")
    // the rerank read pushes the bounded id list into the scan
    val ids = Seq(1L, 2L, 3L)
    val rerPlan = spark.read.parquet(path).select("id", "vec")
      .filter(col("id").isin(ids: _*))
      .queryExecution.executedPlan.toString
    assert(rerPlan.contains("PushedFilters") && rerPlan.contains("In(id"),
      s"id pushdown missing:\n$rerPlan")
  }

  test("ivfTopK: probed clusters contain the brute-force winner for aligned data") {
    // 2 clean clusters along axes; centroids = one vector from each
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f)), (1L, Array(0.1f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.2f, 0.0f)), (3L, Array(0.2f, 0.9f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.1f)), (5L, Array(0.0f, 1.0f, 0.1f)))
      .toDF("id", "vec")
    val centroids = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val ivf = Similarity.ivfTopK(corpus.filter(col("id") === 0L), corpus,
      centroids, 1, 2).collect().map(r => r.getLong(1)).toSet
    // probing only cluster 0 must surface the x-axis neighbors, not y
    assert(ivf == Set(2L, 4L))
    // nProbe = all clusters degenerates to brute force
    val full = Similarity.ivfTopK(corpus.filter(col("id") === 0L), corpus,
      centroids, 2, 5).collect().map(_.getLong(1)).toSet
    val brute = Similarity.cosineTopK(corpus.filter(col("id") === 0L), corpus, 5)
      .collect().map(_.getLong(1)).toSet
    assert(full == brute)
  }

  test("ivf bucket-at-rest: same results, no exchange on the corpus side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val rng = new scala.util.Random(23)
    val corpus = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    val centroids = corpus.filter(col("id") < 4)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val queries = corpus.filter(col("id") < 10)
    spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
    // a previous JVM's managed-table dir survives the in-memory catalog
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/spark-warehouse/ivf_idx_spec"))
    Similarity.ivfWriteIndex(corpus, centroids, "ivf_idx_spec", 4)
    val fromIndex = Similarity.ivfTopKAssigned(
      queries, spark.table("ivf_idx_spec"), centroids, 2, 3)
    val direct = Similarity.ivfTopK(queries, corpus, centroids, 2, 3)
    assert(fromIndex.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq ==
      direct.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
    // At test scale the tiny corpus gets broadcast (also shuffle-free).
    // Disable broadcast joins to force the at-scale shape — a shuffled
    // join where the bucketed index side must arrive WITHOUT an
    // exchange: only the probe side may shuffle.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val big = Similarity.ivfTopKAssigned(
        queries, spark.table("ivf_idx_spec"), centroids, 2, 3)
      big.collect()
      // collect() does not descend into AQE wrappers — Plans.nodes does
      import org.apache.spark.sql.execution.SparkPlan
      val plan = big.queryExecution.executedPlan
      val nodes = Plans.nodes(plan)
      def hasBucketedScan(p: SparkPlan): Boolean = Plans.nodes(p).exists {
        case f: FileSourceScanExec => f.bucketedScan
        case _ => false
      }
      assert(hasBucketedScan(plan),
        s"index read did not use a bucketed scan:\n$plan")
      // the JOIN child holding the bucketed scan must contain no
      // exchange (exchanges above the join — e.g. the top-k window's —
      // are unrelated to the index side)
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val scanSides = nodes.collect {
        case j: BaseJoinExec => j.children.filter(hasBucketedScan)
      }.flatten
      assert(scanSides.nonEmpty, s"no join over the bucketed scan:\n$plan")
      scanSides.foreach { side =>
        val shuffled = Plans.nodes(side).collect { case e: ShuffleExchangeExec => e }
        assert(shuffled.isEmpty,
          s"corpus side of the IVF probe join was shuffled:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
  }

  test("kmeans centroids move toward cluster means and keep empty clusters") {
    // two tight clusters on opposite axes; k=2 init picks ids 0 and 1
    // (one from each cluster), so Lloyd converges in one step
    val corpus = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(0.0f, 10.0f)),
      (2L, Array(12.0f, 0.0f)), (3L, Array(0.0f, 12.0f)),
      (4L, Array(14.0f, 0.0f)), (5L, Array(0.0f, 14.0f)))
      .toDF("id", "vec")
    val cent = Similarity.kmeansCentroids(corpus, 2, 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cent.keySet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    assert(cent((0, 0)) == 12.0 && cent((0, 1)) == 0.0)
    assert(cent((1, 0)) == 0.0 && cent((1, 1)) == 12.0)
    // k larger than the distinct-capture count: cluster 2 never captures
    // a point (ids 0..2 all nearer cid 0/1 groups) and must keep its init
    val cent3 = Similarity.kmeansCentroids(corpus, 3, 1).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cent3.keySet.map(_._1) == Set(0, 1, 2))
  }

  test("pq: codes separate clusters and ADC search retrieves the " +
      "query's own cluster first") {
    // 4-dim vectors, 2 subspaces of 2; two tight clusters per subspace.
    // ids 0/1 land in opposite clusters so k=2 init covers both.
    val rng = new scala.util.Random(11)
    def jit() = (rng.nextDouble() * 0.1).toFloat
    val corpus = (0 until 40).map { i =>
      val hi = 10f
      val a = if (i % 2 == 0) Array(hi + jit(), jit(), hi + jit(), jit())
              else Array(jit(), hi + jit(), jit(), hi + jit())
      (i.toLong, a)
    }.toDF("id", "vec")
    val books = Similarity.pqTrainCodebooks(corpus, 2, 2, 2, 2)
    assert(books.length == 2 && books.forall(_.length == 2))
    val codes = Similarity.pqEncode(corpus, books, 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // same-parity ids share codes in both subspaces; opposite differ
    assert(codes(0L) == codes(2L) && codes(1L) == codes(3L))
    assert(codes(0L) != codes(1L))
    // ADC: query = id 0's vector; every even id must outrank every odd
    val q = Seq((0L, Seq(10.0, 0.0, 10.0, 0.0)))
    val top = Similarity.pqSearch(
      Similarity.pqEncode(corpus, books, 2), books, q, 2, 20)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(top.length == 20)
    assert(top.filter(_._2 <= 20).forall(t => t._1 % 2 == 0),
      s"odd-cluster id ranked in the even cluster's top-20: ${top.toSeq}")
  }

  test("ivfPqSearch scores only probed clusters and ranks by ADC distance") {
    // codes for 6 vectors in 2 coarse clusters; 1 subspace, k=2 books
    val codes = Seq(
      (0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 0L),
      (3L, 1L, 0L), (4L, 1L, 1L), (5L, 1L, 0L))
      .toDF("id", "ccid", "code0")
    // one query probing ONLY cluster 0; table: code 0 -> 0.25, code 1 -> 4.0
    val probes = Seq((7L, 0L, Seq(0.25, 4.0))).toDF("qid", "ccid", "t0")
    val got = Similarity.ivfPqSearch(codes, probes, 1, 10).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // cluster-1 vectors never scored; code-0 vectors outrank code-1
    assert(got.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(got.toSeq == Seq((0L, 0.25, 1L), (2L, 0.25, 2L), (1L, 4.0, 3L)))
  }

  test("multi-table LSH candidates are a superset of the single table's") {
    val rng = new scala.util.Random(41)
    val emb = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    val single = Similarity.lshNearDup(emb, 8, -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshNearDupMulti(emb, 2, 8, -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi),
      s"missing: ${(single -- multi).take(5)}")
  }

  test("lshNearDup finds the colinear pair and buckets deterministically") {
    val out = Similarity.lshNearDup(vecs, 8, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))  // identical direction -> same bucket
    val buckets = vecs.withColumn("b", Similarity.lshBucket(col("vec"), 8))
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) != buckets(4L))  // opposite signs -> different bucket
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractFeatures: sizes, entropy and descriptor are deterministic") {
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", Array[Byte](0, 0, 0, 0), Map("w" -> "2")),
      Multimodal.MediaRecord(2L, "image", Array[Byte](0, 1, 2, 3), Map.empty))
      .toDS()
    val out = Multimodal.extractFeatures(recs, new Multimodal.FakeDecoder(4))
      .collect().map(f => f.id -> f).toMap
    assert(out(1L).nBytes == 4 && out(1L).byteEntropy == 0.0)
    assert(out(2L).nBytes == 4 && math.abs(out(2L).byteEntropy - 2.0) < 1e-12)
    assert(out(1L).descriptor.toSeq == Seq(1f, 0f, 0f, 0f))
    assert(out(2L).descriptor.toSeq == Seq(0.25f, 0.25f, 0.25f, 0.25f))
  }

  test("ImageIoDecoder: real PNG decode to mean-luma grid descriptor") {
    // generated fixture: 8x8 PNG, left half black, right half white
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val dec = new Multimodal.ImageIoDecoder(grid = 2)
    val d = dec.decode(png)
    assert(d.length == 4)
    // left cells pure black (0), right cells pure white (1)
    assert(d(0) == 0f && d(2) == 0f)
    assert(math.abs(d(1) - 1f) < 1e-6 && math.abs(d(3) - 1f) < 1e-6)
  }

  private def sineWav(nSamples: Int, amp: Double, rate: Float = 8000f,
      silentTail: Boolean = true): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](nSamples * 2)
    val active = if (silentTail) nSamples / 2 else nSamples
    for (i <- 0 until active) {
      val v = (amp * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("WavDecoder: real WAV decode to a per-segment RMS envelope") {
    // 1 s of 16-bit mono: first half a 0.5-amplitude sine, then silence
    val wav = sineWav(8000, 0.5)
    val d = new Multimodal.WavDecoder(4).decode(wav)
    assert(d.length == 4)
    // sine RMS = amp/sqrt(2) ~ 0.3536; silent segments exactly 0
    assert(math.abs(d(0) - 0.3536) < 0.005, s"seg0 = ${d(0)}")
    assert(math.abs(d(1) - 0.3536) < 0.005, s"seg1 = ${d(1)}")
    assert(d(2) == 0f && d(3) == 0f)
  }

  test("WavDecoder: corrupt payload fails loudly; runs distributed") {
    intercept[IllegalArgumentException] {
      new Multimodal.WavDecoder(4).decode(Array[Byte](1, 2, 3, 4))
    }
    val wav = sineWav(4000, 0.25, silentTail = false)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "audio", wav, Map("fmt" -> "wav")),
      Multimodal.MediaRecord(2L, "audio", wav, Map.empty)).toDS()
    val out = Multimodal.extractFeatures(recs, new Multimodal.WavDecoder(2))
      .collect()
    assert(out.length == 2)
    out.foreach { f =>
      assert(f.descriptor.length == 2)
      f.descriptor.foreach(v => assert(math.abs(v - 0.25 / math.sqrt(2)) < 0.005))
    }
  }

  test("ImageIoDecoder: runs distributed through extractFeatures") {
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", png, Map("fmt" -> "png")),
      Multimodal.MediaRecord(2L, "image", png, Map.empty)).toDS()
    val out = Multimodal.extractFeatures(recs, new Multimodal.ImageIoDecoder(2))
      .collect().map(f => f.id -> f).toMap
    assert(out.size == 2)
    // uniform gray 0x80 -> every grid cell 128/255
    out.values.foreach { f =>
      assert(f.descriptor.length == 4)
      f.descriptor.foreach(v => assert(math.abs(v - 128f / 255f) < 1e-6))
    }
  }

  test("ImageIoDecoder: corrupt payload fails loudly") {
    val dec = new Multimodal.ImageIoDecoder()
    val e = intercept[IllegalArgumentException] {
      dec.decode(Array[Byte](1, 2, 3, 4))
    }
    assert(e.getMessage.contains("undecodable"))
  }

  test("Y4m: encode/parse round-trip uses the container's own framing; " +
      "corrupt streams fail loudly") {
    val planes = (0 until 5).map(f =>
      Array.tabulate(8 * 8)(p => ((f * 40 + p) % 256).toByte))
    val clip = Y4m.encode(8, 8, planes)
    val (w, h, hdrLen) = Y4m.parseHeader(clip)
    assert((w, h) == (8, 8))
    val offs = Y4m.frameOffsets(clip, hdrLen, w, h).toSeq
    assert(offs.length == 5)
    // each recovered luma plane matches what was encoded
    offs.zipWithIndex.foreach { case (off, f) =>
      assert(clip.slice(off, off + 64).toSeq == planes(f).toSeq)
    }
    // distributed framing: every 2nd frame, exact integer luma sums
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", clip, Map.empty)).toDS()
    val rows = Multimodal.y4mFrames(recs, 2).collect()
      .map(r => (r.getInt(1), r.getLong(4))).toMap
    assert(rows.keySet == Set(0, 2, 4))
    (0 until 5 by 2).foreach { f =>
      val expect = (0 until 64).map(p => (f * 40 + p) % 256).sum.toLong
      assert(rows(f) == expect, s"frame $f luma ${rows(f)} != $expect")
    }
    // corrupt cases: bad magic, truncated frame, clobbered marker
    intercept[IllegalArgumentException] {
      Y4m.parseHeader("JUNKSTREAM\n".getBytes("US-ASCII"))
    }
    val truncated = clip.take(clip.length - 10)
    intercept[IllegalArgumentException] {
      Y4m.frameOffsets(truncated, hdrLen, w, h).toSeq
    }
    val clobbered = clip.clone()
    clobbered(offs(1) - 6) = 'X' // overwrite the 2nd FRAME marker
    intercept[IllegalArgumentException] {
      Y4m.frameOffsets(clobbered, hdrLen, w, h).toSeq
    }
    // odd geometry is rejected (4:2:0 contract)
    intercept[IllegalArgumentException] { Y4m.encode(7, 8, Seq.empty) }
  }

  test("sampleFrames: stride sampling of fixed-size frames") {
    val recs = Seq(Multimodal.MediaRecord(1L, "video",
      (0 until 10).map(_.toByte).toArray, Map.empty)).toDS()
    val frames = Multimodal.sampleFrames(recs, frameBytes = 2, stride = 2)
      .collect().map(r => (r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
    assert(frames.toSeq == Seq((0, Seq[Byte](0, 1)), (2, Seq[Byte](4, 5)),
      (4, Seq[Byte](8, 9))))
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("token ops: count, mean length, stopword ratio") {
    val df = Seq((1L, "the cat sat on a mat")).toDF("id", "text")
    val r = df.select(
      TextOps.tokenCount(col("text")),
      TextOps.meanTokenLength(col("text")),
      TextOps.hitRatio(col("text"), TextOps.stopwords)).head
    assert(r.getInt(0) == 6)
    assert(r.getDouble(1) == 2.5)  // 15 chars / 6 tokens
    assert(r.getDouble(2) == 0.5)  // the, on, a
  }

  test("rolling hash is stable and content-sensitive") {
    assert(TextOps.rollingHash("abc") == TextOps.rollingHash("abc"))
    assert(TextOps.rollingHash("abc") != TextOps.rollingHash("abd"))
  }

  test("column rolling fingerprint matches the reference fold") {
    val df = Seq((1L, "hello world"), (2L, ""), (3L, "hello worlD"))
      .toDF("id", "text")
    val got = df.select(col("id"), TextOps.rollingFingerprint(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(s: String): Long = {
      var h = 0L
      s.foreach(c => h = (h * 31 + c.toLong) % TextOps.RollingMod)
      h
    }
    assert(got(1L) == ref("hello world"))
    assert(got(3L) == ref("hello worlD"))
    assert(got(1L) != got(3L))
  }

  test("subword count adds units for long words") {
    val df = Seq((1L, "hi international")).toDF("id", "text")
    // hi -> 1; international (13 chars) -> 1 + floor(12/4) = 4
    assert(df.select(TextOps.subwordCount(col("text"))).head.getLong(0) == 5L)
  }

  test("repetition metrics: duplicate, top-token and top-bigram fractions") {
    val df = Seq(
      (1L, "a a a b"),      // dup 1-2/4=0.5; top tok 3/4; bigrams [aa,aa,ab] -> 2/3
      (2L, "a b c d"),      // all distinct
      (3L, "x")).toDF("id", "text") // single token: bigram frac 0
    val m = df.select(col("id"),
      TextOps.dupTokenFrac(col("text")),
      TextOps.topTokenFrac(col("text")),
      TextOps.topBigramFrac(col("text"))).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((0.5, 0.75, 0.666667)))
    assert(m(2L) == ((0.0, 0.25, 0.333333)))
    assert(m(3L) == ((0.0, 1.0, 0.0)))
  }

  test("quality filter reasons fire first-fail and in order") {
    val longOk = (1 to 30).map(i => s"w$i").mkString(" ") + " the of and"
    val df = Seq(
      (1L, "a b c"),                          // too_short
      (2L, ("x " * 30).trim),                 // repetitive (but ALSO short? 30 tokens -> not short; dup frac 29/30)
      (3L, longOk)).toDF("id", "text")        // passes: 33 distinct tokens, stopwords present
    val m = df.select(col("id"), TextOps.filterReason(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "too_short")
    assert(m(2L) == "repetitive_tokens")
    assert(m(3L) == "ok")
  }

  test("chunk dedup labels repeated chunks with their first occurrence") {
    val df = Seq(
      (1L, "a b c d e f"),   // chunks (size 3): [a b c][d e f]
      (2L, "d e f a b c"),   // same chunks, swapped order
      (3L, "q r s")).toDF("id", "text")
    val out = Dedup.chunkDedup(df, "id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((1L, 0)) == ((1L, 0L)))
    assert(out((1L, 1)) == ((1L, 1L)))
    assert(out((2L, 0)) == ((1L, 1L)))  // "d e f" first seen at doc 1 idx 1
    assert(out((2L, 1)) == ((1L, 0L)))
    assert(out((3L, 0)) == ((3L, 0L)))
  }

  test("pii scrub: counts and redaction") {
    val df = Seq(
      (1L, "mail me at bob.smith@corp.example or 5551234567 thanks"),
      (2L, "no pii here 123456")).toDF("id", "text") // 6 digits: below threshold
    val out = df.select(col("id"),
      TextOps.patternCount(col("text"), TextOps.piiRules(0)._2).as("ne"),
      TextOps.patternCount(col("text"), TextOps.piiRules(1)._2).as("nn"),
      TextOps.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 1L, "mail me at <EMAIL> or <NUM> thanks")))
    assert(out(2L) == ((0L, 0L, "no pii here 123456")))
  }

  test("stratified sample: per-stratum rates hold and resampling is stable") {
    val df = spark.range(4000).toDF("id")
      .withColumn("s", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = Splits.stratifiedSample(df, "id", "s",
      Map("a" -> 0.5, "b" -> 0.1))
    val counts = kept.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("a") - 1000L) < 120, s"a=${counts("a")}")
    assert(math.abs(counts("b") - 200L) < 80, s"b=${counts("b")}")
    assert(kept.collect().map(_.getLong(0)).toSet ==
      Splits.stratifiedSample(df, "id", "s", Map("a" -> 0.5, "b" -> 0.1))
        .collect().map(_.getLong(0)).toSet)
    // unknown stratum defaults to rate 0 -> dropped
    val other = df.withColumn("s", lit("zz"))
    assert(Splits.stratifiedSample(other, "id", "s", Map("a" -> 0.5))
      .count() == 0L)
  }

  /** Brute-force winnowing (Schleimer et al.): same md5-derived 40-bit
    * k-gram hash, leftmost-min per window of w, distinct selections. */
  private def bruteWinnow(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    if (text.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = (1 to text.length - k + 1).map { pos =>
      val hex = md.digest(text.substring(pos - 1, pos - 1 + k)
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(TextOps.WinnowHashHex)
      pos -> java.lang.Long.parseLong(hex, 16)
    }
    val np = hs.length
    (1 to math.max(np - w + 1, 1)).flatMap { j =>
      val win = hs.slice(j - 1, math.min(j - 1 + w, np))
      Some(win.minBy { case (p, h) => (h, p) })
    }.toSet.map { t: (Int, Long) => t }
  }

  test("winnowFingerprints matches a brute-force implementation") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown"),
      (2L, "aaaaaaaaaaaaaaaaaaaa"), // degenerate: all k-grams identical
      (3L, "exactly8"),             // one k-gram, fewer hashes than w
      (4L, "short"))                // below k -> no row
    val out = TextOps.winnowFingerprints(
      texts.toDF("id", "text"), "id", "text", 8, 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val expected = texts.flatMap { case (id, t) =>
      val sel = bruteWinnow(t, 8, 4)
      if (sel.isEmpty) None
      else Some(id -> ((sel.size.toLong, sel.toSeq.map(_._2).sum)))
    }.toMap
    assert(out == expected, s"got $out expected $expected")
    assert(!out.contains(4L))
  }

  test("native winnowPostings kernel matches brute force (values + count), incl. non-ASCII") {
    import org.apache.spark.sql.Row
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown"),
      (2L, "aaaaaaaaaaaaaaaaaaaa"),
      (3L, "exactly8"),
      (4L, "short"),
      (5L, "café au lait café au lait et des croissants")) // multi-byte
    val out = texts.toDF("id", "text")
      .select($"id", graft.functions.TextFunctions
        .winnowPostings($"text", 8, 4).as("arr"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)
        .map(p => (p.getLong(0), p.getLong(1))))
      .toMap
    texts.foreach { case (id, t) =>
      val expected = bruteWinnow(t, 8, 4).map(_._2)
      assert(out(id).map(_._1).toSet == expected, s"doc $id fps")
      assert(out(id).map(_._1).toSeq == out(id).map(_._1).toSeq.sorted.distinct,
        s"doc $id not sorted-distinct")
      out(id).foreach { case (_, n) =>
        assert(n == expected.size.toLong, s"doc $id n")
      }
    }
    assert(out(4L).isEmpty)
    // and the exploded winnowSelections view equals the old contract:
    // distinct (id, fp) rows
    val sel = TextOps.winnowSelections(texts.toDF("id", "text"), "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedSel = texts.flatMap { case (id, t) =>
      bruteWinnow(t, 8, 4).map(_._2).map(id -> _)
    }.toSet
    assert(sel == expectedSel)
  }

  test("pairCombos emits all i<j pairs sorted by id") {
    import org.apache.spark.sql.Row
    val df = Seq(Tuple1(Seq((30L, 3L), (10L, 1L), (20L, 2L))))
      .toDF("docs")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.pairCombos($"docs")).as("p"))
      .select("p.ida", "p.na", "p.idb", "p.nb")
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (10L, 1L, 20L, 2L), (10L, 1L, 30L, 3L), (20L, 2L, 30L, 3L)))
    // empty and singleton lists emit nothing
    val none = Seq(Tuple1(Seq.empty[(Long, Long)]), Tuple1(Seq((1L, 1L))))
      .toDF("docs")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.pairCombos($"docs")).as("p"))
    assert(none.count() == 0L)
  }

  test("winnowing guarantee: k+w-1 char matches share a fingerprint") {
    // two docs embedding the same 11-char run (k=8, w=4) at different
    // offsets must select at least one common k-gram hash
    val common = "SHAREDRUN11"
    val a = s"xxxx${common}yyyyyyyy"
    val b = s"zzzzzzzzzz${common}ww"
    val Seq(fa, fb) = Seq(a, b).map(t => bruteWinnow(t, 8, 4).map(_._2))
    assert((fa intersect fb).nonEmpty)
  }

  test("NormalizeNfc composes decomposed accents; identity on normal text") {
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = UTF8String.fromString("cafe\u0301")
    val composed = UTF8String.fromString("caf\u00e9")
    assert(graft.functions.NormalizeNfc.compute(decomposed) == composed)
    // fast path: already-NFC input returns the same instance, no copy
    val plain = UTF8String.fromString("plain ascii")
    assert(graft.functions.NormalizeNfc.compute(plain) eq plain)
    assert(graft.functions.NormalizeNfc.compute(composed) eq composed)
  }

  test("one-bucket at-rest fold equals a full recompute, incl. cap crossings") {
    import graft.pipeline.Dedup
    val base = Seq(
      (1L, "hot a b c d"),
      (2L, "hot a b c e"),
      (3L, "hot x y z w"),
      (4L, "p q r s")).toDF("doc_id", "text")
    // shard 5 near-dups doc 1; shard 6 pushes 'hot' over maxDf=3 (docs
    // 1-3's capped sizes and the 1-2 intersection change — the
    // non-additive case); shard 7 is unrelated
    val delta = Seq(
      (5L, "a b c d f"),
      (6L, "hot m n"),
      (7L, "zz yy")).toDF("doc_id", "text")
    val threshold = 0.1
    val maxDf = 3L
    val path = "target/tmp/jrest-one-bucket"
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def fullPairs(df: org.apache.spark.sql.DataFrame) =
      pairsOf(Dedup.ngramJaccard(df, "doc_id", "text", 1, threshold, maxDf))
    // one bucket: every token and id hashes to it, so no probe prunes
    val st = Dedup.jaccardRestMerge(
      Dedup.jaccardRestInit(base, "doc_id", "text", threshold, maxDf,
        path, nBuckets = 1),
      delta, "doc_id", "text")
    val union = base.unionByName(delta)
    val merged = pairsOf(Dedup.jaccardRestPairs(spark, st))
    assert(merged == fullPairs(union))
    assert(merged.nonEmpty)
    // the crossing actually happened and re-scored an old pair
    val mergedDf = spark.read.parquet(s"$path/dflog")
      .groupBy("tok").agg(sum("dfc")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mergedDf("hot") == 4L)
    val oldPair12 = fullPairs(base)
      .find(p => p._1 == 1L && p._2 == 2L).get._3
    val newPair12 = merged
      .find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(oldPair12 != newPair12,
      s"fixture never exercised the rescore path ($oldPair12)")
    // df table matches the recomputed one exactly
    assert(mergedDf == union
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    Dedup.jaccardRestDrop(spark, path)
  }

  test("at-rest jaccard: init + two folds equal full recomputes, incl. cap crossing") {
    import graft.pipeline.Dedup
    val base = Seq(
      (1L, "hot a b c d"),
      (2L, "hot a b c e"),
      (3L, "hot x y z w"),
      (4L, "p q r s")).toDF("doc_id", "text")
    // shard 1 = the one-bucket spec's fixture: a near-dup, a cap
    // crossing ('hot' passes maxDf=3), and an unrelated doc
    val delta1 = Seq(
      (5L, "a b c d f"),
      (6L, "hot m n"),
      (7L, "zz yy")).toDF("doc_id", "text")
    // shard 2 touches shard-1 docs (8 near-dups 5) and base docs
    val delta2 = Seq(
      (8L, "a b c d g"),
      (9L, "p q r t")).toDF("doc_id", "text")
    val threshold = 0.1
    val maxDf = 3L
    val path = "target/tmp/jrest-spec"
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def fullPairs(df: org.apache.spark.sql.DataFrame) =
      pairsOf(Dedup.ngramJaccard(df, "doc_id", "text", 1, threshold, maxDf))
    val st0 = Dedup.jaccardRestInit(base, "doc_id", "text", threshold, maxDf,
      path, nBuckets = 8)
    assert(pairsOf(Dedup.jaccardRestPairs(spark, st0)) == fullPairs(base))
    val st1 = Dedup.jaccardRestMerge(st0, delta1, "doc_id", "text")
    val got1 = pairsOf(Dedup.jaccardRestPairs(spark, st1))
    assert(got1 == fullPairs(base.unionByName(delta1)))
    assert(got1.nonEmpty)
    // the crossing actually exercised the rescore path (1-2 changed)
    val pre12 = fullPairs(base).find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(got1.find(p => p._1 == 1L && p._2 == 2L).get._3 != pre12)
    // second fold on the reopened state (the durable-handle path)
    val st1r = Dedup.jaccardRestOpen(spark, path)
    assert(st1r == st1)
    val st2 = Dedup.jaccardRestMerge(st1r, delta2, "doc_id", "text")
    val got2 = pairsOf(Dedup.jaccardRestPairs(spark, st2))
    assert(got2 == fullPairs(base.unionByName(delta1).unionByName(delta2)))
    // compaction rewrites every log resolved: same pairs, and a
    // POST-compact fold still equals the full recompute
    val stC = Dedup.jaccardRestCompact(spark, st2)
    assert(pairsOf(Dedup.jaccardRestPairs(spark, stC)) == got2)
    val delta3 = Seq((10L, "a b c d h"), (11L, "hot v")).toDF("doc_id", "text")
    val st3 = Dedup.jaccardRestMerge(stC, delta3, "doc_id", "text")
    assert(pairsOf(Dedup.jaccardRestPairs(spark, st3)) == fullPairs(
      base.unionByName(delta1).unionByName(delta2).unionByName(delta3)))
    Dedup.jaccardRestDrop(spark, path)
  }

  test("jaccardRest retention: fold/compact cycles keep storage bounded, " +
      "vacuum sweeps only stale compaction staging") {
    import java.nio.file.{Files, Paths}
    val path = "target/tmp/jrest-vacuum-spec"
    Dedup.jaccardRestDrop(spark, path)
    val threshold = 0.1
    val maxDf = 10L
    def pairsOf(st: Dedup.JaccardRest) =
      Dedup.jaccardRestPairs(spark, st).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def fileCount(): Int = {
      val root = Paths.get(path)
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).count().toInt finally s.close()
    }
    var st = Dedup.jaccardRestInit(
      Seq((0L, "a b c d e"), (1L, "a b c d f")).toDF("doc_id", "text"),
      "doc_id", "text", threshold, maxDf, path, nBuckets = 8)
    var all = Seq((0L, "a b c d e"), (1L, "a b c d f"))
    var postCompactCounts = Seq.empty[Int]
    (1 to 4).foreach { cycle =>
      val shard = Seq((cycle * 10L, s"a b c d x$cycle"),
        (cycle * 10L + 1, s"q$cycle r$cycle"))
      all = all ++ shard
      st = Dedup.jaccardRestMerge(st, shard.toDF("doc_id", "text"),
        "doc_id", "text")
      st = Dedup.jaccardRestCompact(spark, st)
      Dedup.jaccardRestVacuum(spark, st)
      postCompactCounts = postCompactCounts :+ fileCount()
      // resolve stays equal to the full recompute after every cycle
      assert(pairsOf(st) == Dedup.ngramJaccard(all.toDF("doc_id", "text"),
          "doc_id", "text", 1, threshold, maxDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    }
    // bounded: once every hash bucket is populated the post-compact
    // file count PLATEAUS — it tracks resolved data layout (<= nBuckets
    // files per bucketed log), never fold history. Fold-linear
    // accumulation would keep the sequence strictly climbing.
    assert(postCompactCounts.takeRight(2).distinct.size == 1,
      s"file counts still climbing: $postCompactCounts")
    // vacuum: a stale crashed staging dir goes, a fresh one survives
    val stale = Paths.get(path, ".compact-pairs")
    Files.createDirectories(stale)
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200L * 1000))
    val fresh = Paths.get(path, ".compact-sizes")
    Files.createDirectories(fresh)
    val swept = Dedup.jaccardRestVacuum(spark, st)
    assert(swept.exists(_.endsWith(".compact-pairs")))
    assert(!Files.exists(stale))
    assert(Files.exists(fresh))
    Dedup.jaccardRestDrop(spark, path)
  }

  test("at-rest init refuses an input with no postings or nBuckets <= 0, " +
      "keeping the existing set") {
    val path = "target/tmp/jrest-refuse-init"
    val good = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    def pairsAt() = Dedup.jaccardRestPairs(spark, Dedup.jaccardRestOpen(spark, path))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Dedup.jaccardRestInit(good, "doc_id", "text", 0.1, 10L, path, nBuckets = 4)
    val before = pairsAt()
    assert(before.nonEmpty)
    def refused(df: org.apache.spark.sql.DataFrame, nBuckets: Int,
        names: String): Unit = {
      val e = intercept[IllegalArgumentException](Dedup.jaccardRestInit(
        df, "doc_id", "text", 0.1, 10L, path, nBuckets))
      assert(e.getMessage.contains(names), e.getMessage)
      assert(pairsAt() == before, "the refused init touched the existing set")
    }
    refused(good.limit(0), 4, "no postings")
    refused(Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text"),
      4, "no postings")
    refused(good, 0, "nBuckets")
    refused(good, -3, "nBuckets")
    Dedup.jaccardRestDrop(spark, path)
  }

  test("at-rest init and fold refuse a null or repeated id within a shard") {
    val path = "target/tmp/jrest-refuse-ids"
    def init(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardRestInit(df, "doc_id", "text", 0.1, 10L, path, nBuckets = 4)
    // id 1 twice would score against doc 2 as one doc of 5 tokens
    // (jaccard 0.75) — neither row's score, nor their union's
    val repeated = Seq((1L, "a b c"), (1L, "a d"), (2L, "a b"))
      .toDF("doc_id", "text")
    val nullId = Seq((Option.empty[Long], "a b c"), (Some(2L), "a b"))
      .toDF("doc_id", "text")
    def refused(body: => Any, id: String): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("'doc_id'") && e.getMessage.contains(s"($id)"),
        e.getMessage)
    }
    refused(init(repeated), "1")
    refused(init(nullId), "null")
    val st = init(Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text"))
    def state() = (Dedup.jaccardRestOpen(spark, path),
      spark.read.parquet(s"$path/post_tok").count(),
      Dedup.jaccardRestPairs(spark, st).collect().toSet)
    val before = state()
    refused(Dedup.jaccardRestMerge(st,
      Seq((3L, "a b c"), (3L, "x"), (4L, "a")).toDF("doc_id", "text"),
      "doc_id", "text"), "3")
    refused(Dedup.jaccardRestMerge(st,
      Seq((Option.empty[Long], "a b c"), (Some(4L), "a")).toDF("doc_id", "text"),
      "doc_id", "text"), "null")
    assert(state() == before, "a refused fold appended to the set")
    Dedup.jaccardRestDrop(spark, path)
  }

  test("an interrupted at-rest fold leaves a marker that refuses reuse " +
      "until the set is rebuilt") {
    import java.nio.file.{Files, Paths}
    val path = "target/tmp/jrest-interrupted"
    val marker = Paths.get(path, "_FOLD_IN_PROGRESS")
    val base = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val shard1 = Seq((3L, "a b c f")).toDF("doc_id", "text")
    val shard2 = Seq((4L, "a b c g")).toDF("doc_id", "text")
    val st0 = Dedup.jaccardRestInit(base, "doc_id", "text", 0.1, 10L, path,
      nBuckets = 4)
    val st1 = Dedup.jaccardRestMerge(st0, shard1, "doc_id", "text")
    assert(!Files.exists(marker), "an honest fold left its marker")
    // the next fold dies after appending the shard: its pairs log is a
    // plain file, so the pairs write fails
    val pairsDir = new java.io.File(path, "pairs")
    org.apache.commons.io.FileUtils.deleteDirectory(pairsDir)
    Files.write(pairsDir.toPath, Array[Byte](1))
    intercept[Exception](Dedup.jaccardRestMerge(st1, shard2, "doc_id", "text"))
    assert(Files.exists(marker), "the interrupted fold left no marker")
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(path) && e.getMessage.contains("rebuilt"),
        e.getMessage)
    }
    refused(Dedup.jaccardRestOpen(spark, path))
    refused(Dedup.jaccardRestMerge(st1, shard2, "doc_id", "text"))
    refused(Dedup.jaccardRestPairs(spark, st1))
    refused(Dedup.jaccardRestCompact(spark, st1))
    // rebuilding drops the half-folded set, marker included
    val all = base.unionByName(shard1).unionByName(shard2)
    Dedup.jaccardRestInit(all, "doc_id", "text", 0.1, 10L, path, nBuckets = 4)
    assert(!Files.exists(marker))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsOf(Dedup.jaccardRestPairs(spark, Dedup.jaccardRestOpen(spark, path))) ==
      pairsOf(Dedup.ngramJaccard(all, "doc_id", "text", 1, 0.1, 10L)))
    Dedup.jaccardRestDrop(spark, path)
  }

  test("dupSpanCoverage counts tokens under shared 3-gram spans only") {
    // docs 1 and 2 share the opening 4 tokens (two overlapping 3-grams
    // covering tokens 1..4); doc 3 is disjoint
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "p q r s t u v k")).toDF("id", "text")
    val out = Dedup.dupSpanCoverage(df, "id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((8L, 4L, 0.5)))
    assert(out(2L) == ((8L, 4L, 0.5)))
    assert(out(3L) == ((8L, 0L, 0.0)))
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("pair counts over words") {
    val df = Seq((1L, "abab cd c")).toDF("id", "text")
    val m = Bpe.pairCounts(df, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // abab: ab, ba, ab; cd: cd; c: none
    assert(m == Map("ab" -> 2L, "ba" -> 1L, "cd" -> 1L))
  }

  test("mergeFold merges greedily left-to-right without overlap") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("b", "a"))
      .toDF("syms")
    val out = df.select(Bpe.mergeFold(col("syms"), "a", "a")).collect()
      .map(_.getSeq[String](0).toList).toSet
    assert(out == Set(List("aa", "a"), List("aa", "aa"), List("b", "a")))
  }

  test("train learns the dominant pair first; segment applies the table") {
    val df = Seq((1L, "abab abab cdcd ab")).toDF("id", "text")
    val merges = Bpe.train(df, "text", 2)
    // "ab" occurs 5 times (2+2+1) beating "ba" (2) and "cd" (2);
    // after merging (a,b), pair ("ab","ab") appears twice -> next merge
    assert(merges.head == ("a", "b"))
    assert(merges.length == 2)
    assert(Bpe.segment("abab", Seq(("a", "b"))) == Seq("ab", "ab"))
    assert(Bpe.segment("abab", merges) ==
      (if (merges(1) == ("ab", "ab")) Seq("abab") else Seq("ab", "ab")))
    // driver-side segment agrees with the distributed fold
    val folded = Seq(Seq("a", "b", "a", "b")).toDF("syms")
      .select(Bpe.mergeFold(col("syms"), "a", "b")).head.getSeq[String](0)
    assert(folded == Bpe.segment("abab", Seq(("a", "b"))))
  }

  test("merges never increase total symbol count on the corpus") {
    val df = Seq((1L, "the quick brown fox the quick")).toDF("id", "text")
    val before = Bpe.corpusSymbols(df, "text")
      .select(sum(size(col("syms")))).head.getLong(0)
    val merges = Bpe.train(df, "text", 3)
    assert(merges.nonEmpty)
    var syms = Bpe.corpusSymbols(df, "text")
    merges.foreach { case (x, y) =>
      syms = syms.select(Bpe.mergeFold(col("syms"), x, y).as("syms"))
    }
    val after = syms.select(sum(size(col("syms")))).head.getLong(0)
    assert(after < before)
  }

  test("q_bpe_encode oracle equivalence: greedy merge chain == " +
      "delimiter-encoded REPLACE chain (randomized)") {
    // The DuckDB oracle encodes syms as '|'+join('||')+'|' and applies
    // each merge as a literal left-to-right non-overlapping replace —
    // the exact semantics of java.lang.String.replace, so the oracle's
    // transform can be simulated here and checked against the real
    // distributed MergePair fold on adversarial inputs (runs, chained
    // merges, merged symbols re-matching later rules).
    def oracleEncode(word: String, merges: Seq[(String, String)]): Int = {
      var s = "|" + word.split("").mkString("||") + "|"
      merges.foreach { case (x, y) =>
        s = s.replace(s"|$x||$y|", s"|$x$y|")
      }
      1 + (s.length - s.replace("||", "").length) / 2
    }
    val merges = Seq("a" -> "a", "a" -> "b", "ab" -> "b", "b" -> "a",
      "aa" -> "ab", "ba" -> "ba")
    val rnd = new scala.util.Random(7)
    val words = Seq("a", "b", "aaaa", "aaab", "abab", "aabb", "bbbb",
      "ababa", "aaaaaaa") ++
      (1 to 200).map(_ => (1 to (1 + rnd.nextInt(9)))
        .map(_ => if (rnd.nextBoolean()) "a" else "b").mkString)
    val df = words.toDF("w")
    val encoded = merges.foldLeft(split(col("w"), ""): org.apache.spark.sql.Column) {
      case (c, (x, y)) => Bpe.mergeFold(c, x, y)
    }
    val got = df.select(col("w"), size(encoded)).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    words.foreach { w =>
      assert(got(w) == oracleEncode(w, merges),
        s"word [$w]: mergeFold=${got(w)} oracle=${oracleEncode(w, merges)}")
    }
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  test("semanticNearDup: within-cluster duplicates collapse, cross-cluster don't") {
    // cluster 0: x-axis (ids 0,2,4 colinear); cluster 1: y-axis (1,3)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(0.0f, 3.0f)),
      (4L, Array(5.0f, 0.0f)), (5L, Array(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val centroids = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val keepers = Similarity.semanticNearDup(corpus, centroids, 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // colinear x vectors all collapse to 0; y vectors to 1; the
    // opposite-direction vector 5 sits in a cluster but is no dup
    assert(keepers == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L,
      4L -> 0L, 5L -> 5L))
  }

  test("semanticNearDup returns one row per corpus vector") {
    val rng = new scala.util.Random(7)
    val corpus = Seq.tabulate(100)(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    val centroids = corpus.filter(col("id") < 4)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val out = Similarity.semanticNearDup(corpus, centroids, 0.95)
    assert(out.count() == 100L)
    // keeper <= id always
    assert(out.filter(col("keeper") > col("id")).count() == 0L)
  }

  test("semanticNearDup fails loudly when a cluster exceeds maxClusterSize") {
    // a deliberately undersized codebook: one centroid captures all 100
    // vectors, so the per-cluster self-join would be quadratic
    val rng = new scala.util.Random(11)
    val corpus = Seq.tabulate(100)(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    val centroids = corpus.filter(col("id") === 0)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticNearDup(corpus, centroids, 0.95,
        maxClusterSize = 50L)
    }
    assert(e.getMessage.contains("maxClusterSize"))
    assert(e.getMessage.contains("100"))  // reports the oversized occupancy
    // the same corpus under a sufficient cap still runs
    assert(Similarity.semanticNearDup(corpus, centroids, 0.95,
      maxClusterSize = 100L).count() == 100L)
  }
}

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("bloom filter: no false negatives, false-positive rate bounded") {
    val members = (0 until 100).map(i => Tuple1(s"key$i")).toDF("tok")
    val lanes = Bloom.build(members, "tok")
    // every member passes (the property the q_bloom_join oracle relies on)
    assert(members.filter(Bloom.mightContain("tok", lanes)).count() == 100L)
    // non-members: m=8192, k=3, n=100 gives theoretical fpp ~5e-5;
    // assert a loose 1% so the bound is robust, and that pruning is real
    val nonMembers = (0 until 2000).map(i => Tuple1(s"other$i")).toDF("tok")
    val fp = nonMembers.filter(Bloom.mightContain("tok", lanes)).count()
    assert(fp < 20L, s"false positives: $fp / 2000")
  }
}
