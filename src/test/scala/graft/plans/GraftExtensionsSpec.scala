package graft.plans

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  test("registered graft_dot_product is callable from SQL") {
    GraftExtensions.register(spark)
    val v = spark.sql(
      "SELECT graft_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(v == 11.0)
  }

  test("extension class injects without error into a builder-style hook") {
    // exercise the SparkSessionExtensions path directly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("wrong arity is rejected") {
    GraftExtensions.register(spark)
    intercept[Exception] {
      spark.sql("SELECT graft_dot_product(array(1.0D))").collect()
    }
  }

  test("sketch aggregates are callable from SQL, grouped and map-side " +
      "combinable") {
    GraftExtensions.register(spark)
    // HLL estimate over a known distinct count per group
    val hll = spark.sql(
      """SELECT g, graft_hll(x, 8) AS est FROM (
        |  SELECT id % 2 AS g, CAST(id AS STRING) AS x FROM range(0, 2000))
        |GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hll.foreach { case (g, est) =>
      assert(math.abs(est - 1000L) < 100, s"group $g HLL est $est far from 1000")
    }
    // KMV bottom-k: k sorted distinct hashes
    val kmv = spark.sql(
      "SELECT graft_kmv(x, 16) FROM (SELECT CAST(id AS STRING) AS x FROM range(0, 500))")
      .head.getSeq[Long](0)
    assert(kmv.length == 16 && kmv == kmv.sorted && kmv.distinct.length == 16)
    // Misra-Gries: the heavy token survives in the candidate set
    val mg = spark.sql(
      """SELECT graft_heavy_hitters(t, 4) FROM (
        |  SELECT CASE WHEN id % 3 = 0 THEN 'hot' ELSE CAST(id AS STRING)
        |  END AS t FROM range(0, 300))""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(mg.exists(_.getString(0) == "hot"))
    // weighted variant
    val mgw = spark.sql(
      """SELECT graft_heavy_hitters_weighted(t, w, 4) FROM (VALUES
        |  ('a', 100L), ('b', 1L), ('c', 2L), ('d', 1L), ('e', 1L),
        |  ('f', 1L)) AS v(t, w)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(mgw.exists(_.getString(0) == "a"))
    // non-literal sketch parameter rejected
    intercept[Exception] {
      spark.sql("SELECT graft_hll(x, b) FROM (SELECT 'v' AS x, 8 AS b)")
        .collect()
    }
  }

  test("text kernels are callable from SQL") {
    GraftExtensions.register(spark)
    val rs = spark.sql(
      "SELECT graft_repetition_stats(array('a','a','b')) AS s").head.getStruct(0)
    assert(rs.getDouble(1) == 0.666667) // top-token frac 2/3
    val pairs = spark.sql("SELECT graft_char_pairs('abc')").head
      .getSeq[String](0)
    assert(pairs == Seq("ab", "bc"))
    val adj = spark.sql("SELECT graft_adjacent_pairs(array('x','y','z'))")
      .head.getSeq[String](0)
    assert(adj == Seq("x y", "y z"))
    val merged = spark.sql(
      "SELECT graft_merge_pair(array('a','b','a'), 'a', 'b')").head
      .getSeq[String](0)
    assert(merged == Seq("ab", "a"))
    // non-literal (column-valued) merge pair rejected
    intercept[Exception] {
      spark.sql(
        "SELECT graft_merge_pair(array('a'), c, 'b') FROM (SELECT 'a' AS c)")
        .collect()
    }
    val sh = spark.sql("SELECT graft_ngram_shingles(array('a','b','c','d'), 3)")
      .head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    // non-literal n rejected
    intercept[Exception] {
      spark.sql(
        "SELECT graft_ngram_shingles(array('a'), n) FROM (SELECT 2 AS n)")
        .collect()
    }
    val nfc = spark.sql("SELECT graft_normalize_nfc('cafe\u0301')")
      .head.getString(0)
    assert(nfc == "caf\u00e9")
  }

  test("table functions: graft_current / graft_changes / " +
      "graft_history splice the versioned reads into plain SQL \u2014 " +
      "dynamic schema, fully distributed, joinable like any subquery") {
    import spark.implicits._
    import graft.io.Versioned
    GraftExtensions.register(spark)
    val p = "target/tmp/ext-tvf-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "x"), p)                           // v1
    Versioned.append(Seq((2L, "b2", 25L)).toDF("k", "s", "x"), p) // v2
    Versioned.delete(Seq(3L).toDF("k"), p)               // v3
    // current: the MOR resolve from SQL, data columns only
    val cur = spark.sql(s"SELECT k, s, x FROM graft_current('$p', 'k') " +
      "ORDER BY k").as[(Long, String, Long)].collect().toSeq
    assert(cur == Seq((1L, "a", 10L), (2L, "b2", 25L)))
    // changes: CDC between v1 and v3 (update + delete)
    val ch = spark.sql(s"SELECT * FROM graft_changes('$p', 'k', 1, 3) " +
      "ORDER BY k").as[(Long, String)].collect().toSeq
    assert(ch == Seq((2L, "update"), (3L, "delete")))
    // history: SCD2 intervals; key 2 has two states, the first closed
    val h = spark.sql(s"SELECT k, s, valid_from, valid_to, is_current " +
      s"FROM graft_history('$p', 'k') WHERE k = 2 ORDER BY valid_from")
      .as[(Long, String, Int, Option[Int], Boolean)].collect().toSeq
    assert(h == Seq((2L, "b", 1, Some(1), false),
      (2L, "b2", 2, None, true)))
    // the O(delta) face answers identically from SQL
    val chInc = spark.sql(
      s"SELECT * FROM graft_changes_inc('$p', 'k', 1, 3) ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(chInc == ch, s"incremental TVF $chInc != full TVF $ch")
    // composable: a table function joined to an ordinary relation
    val joined = spark.sql(
      s"""SELECT c.k, c.s FROM graft_current('$p', 'k') c
         |JOIN (SELECT 2L AS k) f ON c.k = f.k""".stripMargin)
      .as[(Long, String)].collect().toSeq
    assert(joined == Seq((2L, "b2")))
    // non-literal args are rejected loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_current('$p', (SELECT 'k'))")
        .collect()
    }
  }
}
