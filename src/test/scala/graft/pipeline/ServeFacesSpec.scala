package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The single-query Search/Hybrid faces are one-query calls of the batch
  * cores: same scores as the batch faces, the single faces' own ranking
  * step (sort + limit), no more Spark jobs per call than the dedicated
  * single-query pipes they replaced, and one null-term contract. */
class ServeFacesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0 until 40).map { id =>
    val toks = if (id % 2 == 0) "alpha beta gamma" else "alpha delta"
    (id.toLong, s"$toks doc$id", if (id % 3 == 0) "en" else "xx")
  }.toDF("doc_id", "text", "lang")

  private lazy val bare = Search.writeIndex(docs.drop("lang"), "doc_id",
    "text", "target/tmp/serve-faces-text")

  private lazy val withMeta = Search.writeIndex(docs, "doc_id", "text",
    "target/tmp/serve-faces-meta")

  private def corpus(ids: Range): DataFrame =
    ids.map { id =>
      id.toLong -> Array.tabulate(64) { i =>
        (((id * 31 + i * 13) % 17).toFloat - 8f) / 8f
      }
    }.toDF("id", "vec")

  private lazy val vIdx = VecIndex.init(
    corpus(0 until 40).withColumn("lang",
      when(pmod(col("id"), lit(3)) === 0, "en").otherwise("xx")),
    64, "target/tmp/serve-faces-vec",
    centroids = Some(corpus(0 until 4)
      .select(col("id").as("cid"), col("vec").as("cvec"))),
    cbBuckets = 2)

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("searchBm25 equals searchBm25Batch per query, with a filter, a " +
      "repeated term and an unmatched term") {
    val termSets = Seq(
      1L -> Seq("alpha", "beta"),
      2L -> Seq("beta", "beta", "gamma"),
      3L -> Seq("delta", "zzz"))
    val queries = termSets.toDF("qid", "terms")
    for (flt <- Seq(None, Some(col("lang") === "en"))) {
      val batch = Search.searchBm25Batch(spark, withMeta, queries, topK = 5,
          filter = flt)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      termSets.foreach { case (qid, terms) =>
        val single = rows(Search.searchBm25(spark, withMeta, terms, topK = 5,
          filter = flt))
        assert(single.size == 5, s"qid $qid filter $flt: $single")
        assert(single == batch(qid).sortBy(r => (-r._2, r._1)),
          s"qid $qid filter $flt: $single vs ${batch(qid)}")
      }
    }
    // the repeated term counts once, as in the batch face
    assert(rows(Search.searchBm25(spark, withMeta,
        Seq("beta", "beta", "gamma"), topK = 5)) ==
      rows(Search.searchBm25(spark, withMeta, Seq("beta", "gamma"),
        topK = 5)))
  }

  test("single faces run no more Spark jobs per call than the " +
      "dedicated single-query pipes did") {
    val qv = corpus(100 until 101)
    val en = Some(col("lang") === "en")
    // ceilings measured on the same fixture with the pipes the shared
    // cores replaced
    val faces: Seq[(String, Int, () => DataFrame)] = Seq(
      ("searchBm25", 7, () =>
        Search.searchBm25(spark, bare, Seq("alpha", "beta", "zzz"), 5)),
      ("searchBm25 filtered", 8, () =>
        Search.searchBm25(spark, withMeta, Seq("alpha", "beta", "zzz"), 5,
          en)),
      ("searchFuzzy", 12, () =>
        Search.searchFuzzy(spark, bare, Seq("alpah", "gamma"), 1, 5)),
      ("searchPrefix", 13, () =>
        Search.searchPrefix(spark, bare, Seq("al", "de"), 5)),
      ("hybridTopK", 16, () =>
        Hybrid.hybridTopK(spark, bare, vIdx, Seq("alpha", "beta"), qv,
          nProbe = 4, nLex = 10, nSem = 10, topK = 8)),
      ("hybridTopK fallback", 17, () =>
        Hybrid.hybridTopK(spark, bare, vIdx, Seq("alpha", "beta"), qv,
          nProbe = 4, nLex = 10, nSem = 10, topK = 8, filter = en)))
    faces.foreach { case (name, ceiling, face) =>
      face().collect() // warm the schema and codebook memos
      val jobs = jobsRunBy(face().collect())
      assert(jobs <= ceiling, s"$name ran $jobs jobs, ceiling $ceiling")
    }
  }

  test("single Search faces end in TakeOrderedAndProject and return rows " +
      "in rank order") {
    val faces = Seq(
      "searchBm25" -> Search.searchBm25(spark, bare, Seq("alpha", "beta"), 7),
      "searchFuzzy" ->
        Search.searchFuzzy(spark, bare, Seq("alpah", "gamma"), 1, 7),
      "searchPrefix" -> Search.searchPrefix(spark, bare, Seq("al", "ga"), 7))
    faces.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"$name plan:\n$plan")
      val got = rows(df)
      assert(got.size == 7 &&
        got == got.sortBy(r => (-r._2, r._1)), s"$name rows: $got")
    }
  }

  test("every BM25, fuzzy and prefix face refuses a null term or prefix, " +
      "naming the face") {
    val faces: Seq[(String, Seq[String] => Any)] = Seq(
      "searchBm25" -> (q => Search.searchBm25(spark, bare, q, 5)),
      "searchFuzzy" -> (q => Search.searchFuzzy(spark, bare, q, 1, 5)),
      "searchPrefix" -> (q => Search.searchPrefix(spark, bare, q, 5)),
      "searchBm25Batch" -> (q => Search.searchBm25Batch(spark, bare,
        Seq((1L, q)).toDF("qid", "terms"), 5)),
      "searchFuzzyBatch" -> (q => Search.searchFuzzyBatch(spark, bare,
        Seq((1L, q)).toDF("qid", "terms"), 1, 5)),
      "searchPrefixBatch" -> (q => Search.searchPrefixBatch(spark, bare,
        Seq((1L, q)).toDF("qid", "prefixes"), 5)))
    for ((face, call) <- faces; q <- Seq(Seq(null), Seq(null, "alpha"))) {
      val e = intercept[IllegalArgumentException](call(q))
      assert(e.getMessage.contains(face) && e.getMessage.contains("null"),
        s"$face on $q: ${e.getMessage}")
    }
    // topK <= 0 refuses on the single BM25 face as on every other face
    intercept[IllegalArgumentException] {
      Search.searchBm25(spark, bare, Seq("alpha"), 0)
    }
  }
}
