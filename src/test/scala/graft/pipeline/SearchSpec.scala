package graft.pipeline

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Plans

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "alpha beta"),
    (3L, "beta gamma delta"),
    (4L, "alpha beta gamma gamma gamma"),
    (5L, "epsilon zeta")).toDF("doc_id", "text")

  private lazy val idx = {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-spec"))
    Search.writeIndex(docs, "doc_id", "text", "target/tmp/search-spec")
  }

  test("searchAll: conjunction semantics and tf scoring") {
    val got = Search.searchAll(spark, idx, Seq("alpha", "beta", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 4 contain all three; score = summed tf
    assert(got == Map(1L -> 4L, 4L -> 5L))
    // single-term search degrades to a postings lookup
    val one = Search.searchAll(spark, idx, Seq("epsilon"))
      .collect().map(r => r.getLong(0)).toSet
    assert(one == Set(5L))
  }

  test("searchBm25: rare terms outrank common ones, tf saturates") {
    // "delta" appears in 1 of 5 docs, "beta" in 4 — a delta match must
    // outscore a beta match at equal tf; doc 4's triple gamma beats
    // doc 1's single gamma (monotone in tf).
    val byDelta = Search.searchBm25(spark, idx, Seq("delta"), 10)
      .collect().map(r => r.getLong(0)).toSeq
    assert(byDelta == Seq(3L))
    val scores = Search.searchBm25(spark, idx, Seq("gamma"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.keySet == Set(1L, 3L, 4L))
    assert(scores(4L) > scores(1L))
    val mixed = Search.searchBm25(spark, idx, Seq("delta", "beta"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 (delta+beta) must beat any beta-only doc
    assert(mixed(3L) == mixed.values.max)
    // topK truncates deterministically
    assert(Search.searchBm25(spark, idx, Seq("beta"), 2).count() == 2)
  }

  test("searchAny: minimum-should-match spans OR to AND") {
    val terms = Seq("alpha", "beta", "gamma")
    def ids(m: Int) = Search.searchAny(spark, idx, terms, m)
      .collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(1L, 2L, 3L, 4L))     // any term
    assert(ids(2) == Set(1L, 2L, 3L, 4L))     // all hold >= 2 of the three
    assert(ids(3) == Set(1L, 4L))             // == searchAll
    assert(ids(3) == Search.searchAll(spark, idx, terms)
      .collect().map(_.getLong(0)).toSet)
  }

  test("searchPhrase: adjacency, occurrence counts, repeated terms") {
    val d = Seq(
      (1L, "a b c a b"),        // "a b" twice
      (2L, "a c b"),            // both terms, never adjacent
      (3L, "b a"),              // reversed
      (4L, "x x x")).toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-phrase-spec"))
    val pidx = Search.writeIndex(d, "doc_id", "text",
      "target/tmp/search-phrase-spec")
    val ab = Search.searchPhrase(spark, pidx, Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ab == Map(1L -> 2L))
    // repeated-term phrase: "x x" overlaps -> anchors at 0 and 1
    val xx = Search.searchPhrase(spark, pidx, Seq("x", "x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(xx == Map(4L -> 2L))
    // three-term phrase
    val abc = Search.searchPhrase(spark, pidx, Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(abc == Map(1L -> 1L))
  }

  test("append: incremental ingest == full rebuild for every query mode") {
    val shardA = docs.filter(col("doc_id") <= 3)
    val shardB = docs.filter(col("doc_id") > 3)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-inc-spec"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-full-spec"))
    val inc = Search.writeIndex(shardA, "doc_id", "text",
      "target/tmp/search-inc-spec")
    Search.append(shardB, "doc_id", "text", inc)
    val full = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-full-spec")
    val terms = Seq("alpha", "beta", "gamma")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Search.searchAll(spark, inc, terms))
      == rows(Search.searchAll(spark, full, terms)))
    assert(rows(Search.searchBm25(spark, inc, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)))
    assert(rows(Search.searchPhrase(spark, inc, Seq("epsilon", "zeta")))
      == rows(Search.searchPhrase(spark, full, Seq("epsilon", "zeta"))))
    assert(rows(Search.searchAny(spark, inc, terms, 1))
      == rows(Search.searchAny(spark, full, terms, 1)))
  }

  test("appendBatch: exactly-once streaming text ingest — a replayed " +
      "micro-batch folds nothing, the guard survives compact+vacuum, " +
      "and BM25 constants stay exact") {
    val path = "target/tmp/search-stream-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val sidx = Search.writeIndex(docs.limit(0), "doc_id", "text", path,
      nBuckets = 8)
    val shardA = docs.filter(col("doc_id") <= 3)
    val shardB = docs.filter(col("doc_id") > 3)
    Search.appendBatch(shardA, "doc_id", "text", sidx, batchId = 0L)
    Search.appendBatch(shardB, "doc_id", "text", sidx, batchId = 1L)
    // in-flight replay (restart between data write and checkpoint)
    Search.appendBatch(shardB, "doc_id", "text", sidx, batchId = 1L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-stream-full"))
    val full = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-stream-full", nBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val terms = Seq("alpha", "beta", "gamma")
    // BM25 is the sensitive probe: doubled postings OR doubled stats
    // deltas (N, sum dlen) would shift every score
    assert(rows(Search.searchBm25(spark, sidx, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)))
    // maintenance reclaims the per-batch markers; the base watermark
    // must keep the replay guard alive
    Search.compact(spark, sidx)
    Search.vacuum(spark, sidx)
    Search.appendBatch(shardB, "doc_id", "text", sidx, batchId = 1L)
    assert(rows(Search.searchBm25(spark, sidx, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)),
      "post-maintenance replay must not double postings or stats")
    assert(rows(Search.searchAll(spark, sidx, terms))
      == rows(Search.searchAll(spark, full, terms)))
    // end-to-end through a real streaming query: file source, one file
    // per trigger, foreachBatch folding into a second index
    val inDir = "target/tmp/search-stream-spec-in"
    docs.repartition(3, col("doc_id")).write.mode("overwrite").parquet(inDir)
    val path2 = "target/tmp/search-stream-spec2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path2))
    val sidx2 = Search.writeIndex(docs.limit(0), "doc_id", "text", path2,
      nBuckets = 8)
    val q = spark.readStream.schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Search.appendBatch(b, "doc_id", "text", sidx2, id); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows(Search.searchBm25(spark, sidx2, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)),
      "stream-built index must converge to the batch build")
  }

  test("appendBatch ingest scoping: a NEW ingest's batch 0 is not " +
      "swallowed by an OLD ingest's folded watermark, while each " +
      "ingest's own replays stay idempotent across compact+vacuum") {
    val path = "target/tmp/search-ingest-scope-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val sidx = Search.writeIndex(docs.limit(0), "doc_id", "text", path,
      nBuckets = 8)
    val shardA = docs.filter(col("doc_id") <= 3)
    val shardB = docs.filter(col("doc_id") > 3)
    // ingest A (its checkpoint's batch ids 0, 1), then maintenance
    // reclaims the per-batch markers into the base watermark
    Search.appendBatch(shardA, "doc_id", "text", sidx, 0L, "ckptA")
    Search.appendBatch(shardA.limit(0), "doc_id", "text", sidx, 1L, "ckptA")
    Search.compact(spark, sidx)
    Search.vacuum(spark, sidx)
    // THE BUG THIS PINS: a fresh checkpoint restarts batch ids at 0 —
    // under a global watermark (>= 1 from ingest A) ingest B's batch 0
    // was silently skipped: data loss. Scoped watermarks admit it.
    Search.appendBatch(shardB, "doc_id", "text", sidx, 0L, "ckptB")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-ingest-scope-full"))
    val full = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-ingest-scope-full", nBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val terms = Seq("alpha", "beta", "gamma")
    assert(rows(Search.searchBm25(spark, sidx, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)),
      "ingest B's batch 0 must fold — a cross-scope watermark dropped it")
    // each scope replay-guards independently, surviving maintenance
    Search.compact(spark, sidx)
    Search.vacuum(spark, sidx)
    Search.appendBatch(shardA, "doc_id", "text", sidx, 0L, "ckptA")
    Search.appendBatch(shardB, "doc_id", "text", sidx, 0L, "ckptB")
    assert(rows(Search.searchBm25(spark, sidx, terms, 10))
      == rows(Search.searchBm25(spark, full, terms, 10)),
      "post-maintenance replays must not double postings or stats")
  }

  test("searchNear: slop-bounded ordered proximity, slop 0 == phrase") {
    val d = Seq(
      (1L, "a b c a b"),
      (2L, "a c b"),
      (3L, "b a"),
      (4L, "x x x")).toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-near-spec"))
    val nidx = Search.writeIndex(d, "doc_id", "text",
      "target/tmp/search-near-spec")
    def near(terms: Seq[String], slop: Int) =
      Search.searchNear(spark, nidx, terms, slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // slop 0 == exact adjacency == searchPhrase
    assert(near(Seq("a", "b"), 0) == Map(1L -> 2L))
    assert(near(Seq("a", "b"), 0) ==
      Search.searchPhrase(spark, nidx, Seq("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // slop 1 admits one intervening token: doc 2's "a c b" qualifies;
    // doc 1 still has exactly its two adjacent pairs (a0->b4 gap is 4)
    assert(near(Seq("a", "b"), 1) == Map(1L -> 2L, 2L -> 1L))
    // order matters: "b a" (doc 3) never matches the a->b direction
    assert(!near(Seq("a", "b"), 3).contains(3L))
    assert(near(Seq("b", "a"), 0) == Map(3L -> 1L))
    assert(near(Seq("b", "a"), 1) == Map(1L -> 1L, 3L -> 1L)) // b1->a3
    // repeated terms count all ordered in-window pairs
    assert(near(Seq("x", "x"), 1) == Map(4L -> 3L))
  }

  test("delete + reingest: corrected doc leaves the index; unrelated " +
      "queries bit-identical") {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-del-spec"))
    val didx = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-del-spec")
    val before = Search.searchAll(spark, didx, Seq("alpha", "beta"))
      .collect().map(_.toSeq).toSet
    val bm25Before = Search.searchBm25(spark, didx, Seq("gamma"), 10)
      .collect().map(_.toSeq).toSet
    // delete doc 5 (epsilon zeta) — unrelated to alpha/beta/gamma
    Search.delete(Seq(5L).toDF("doc_id"), "doc_id", didx)
    assert(Search.searchAll(spark, didx, Seq("epsilon"))
      .collect().isEmpty)
    assert(Search.searchAll(spark, didx, Seq("alpha", "beta"))
      .collect().map(_.toSeq).toSet == before)
    // BM25 DOES see the stats shift (N went 5 -> 4): recompute equals
    // a fresh index over the live docs — delete is exact, not lossy
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-del-oracle"))
    val fresh = Search.writeIndex(docs.filter(col("doc_id") =!= 5),
      "doc_id", "text", "target/tmp/search-del-oracle")
    assert(Search.searchBm25(spark, didx, Seq("gamma"), 10)
      .collect().map(_.toSeq).toSet
      == Search.searchBm25(spark, fresh, Seq("gamma"), 10)
        .collect().map(_.toSeq).toSet)
    // reingest the doc with corrected text: searchable, old text gone
    Search.append(Seq((5L, "epsilon rho")).toDF("doc_id", "text"),
      "doc_id", "text", didx)
    assert(Search.searchAll(spark, didx, Seq("rho"))
      .collect().map(_.getLong(0)).toSet == Set(5L))
    assert(Search.searchAll(spark, didx, Seq("zeta")).collect().isEmpty)
    assert(bm25Before != null) // silence unused warning paranoia
  }

  test("delete of unknown or already-dead ids is a stats no-op") {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-del2-spec"))
    val didx = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-del2-spec")
    Search.delete(Seq(5L, 99L).toDF("doc_id"), "doc_id", didx) // 99 unknown
    Search.delete(Seq(5L).toDF("doc_id"), "doc_id", didx)      // double kill
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-del2-oracle"))
    val fresh = Search.writeIndex(docs.filter(col("doc_id") =!= 5),
      "doc_id", "text", "target/tmp/search-del2-oracle")
    // stats stayed exact: BM25 equals the fresh index bit-for-bit
    assert(Search.searchBm25(spark, didx, Seq("gamma", "beta"), 10)
      .collect().map(_.toSeq).toSet
      == Search.searchBm25(spark, fresh, Seq("gamma", "beta"), 10)
        .collect().map(_.toSeq).toSet)
  }

  test("commit marker is the commit point: orphan generation data " +
      "without a marker is invisible") {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-crash-spec"))
    val cidx = Search.writeIndex(docs, "doc_id", "text",
      "target/tmp/search-crash-spec")
    val before = Search.searchAll(spark, cidx, Seq("alpha"))
      .collect().map(_.toSeq).toSet
    val bm25 = Search.searchBm25(spark, cidx, Seq("beta"), 10)
      .collect().map(_.toSeq).toSet
    // simulate a crash mid-append: postings + docs written for gen 2,
    // claim taken, but NO marker (the crash window)
    val root = "target/tmp/search-crash-spec"
    Seq((9L, "alpha alpha alpha")).toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        split(col("text"), " ").getItem(0).as("tok"))
      .write.parquet(s"$root/post/gen=2/tb=0")
    new java.io.File(s"$root/commits/.claim-2").createNewFile()
    // queries and stats are unaffected — the torn generation does not exist
    assert(Search.searchAll(spark, cidx, Seq("alpha"))
      .collect().map(_.toSeq).toSet == before)
    assert(Search.searchBm25(spark, cidx, Seq("beta"), 10)
      .collect().map(_.toSeq).toSet == bm25)
    // and the next append claims PAST the crashed slot, never reuses it
    Search.append(Seq((7L, "eta theta")).toDF("doc_id", "text"),
      "doc_id", "text", cidx)
    assert(Search.searchAll(spark, cidx, Seq("eta"))
      .collect().map(_.getLong(0)).toSet == Set(7L))
    assert(new java.io.File(s"$root/commits/3").exists())
  }

  test("compact + vacuum: one base generation, same answers, dir count " +
      "bounded across ingest cycles") {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-compact-spec"))
    val root = "target/tmp/search-compact-spec"
    val vidx = Search.writeIndex(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", root)
    Search.append(docs.filter(col("doc_id") === 3), "doc_id", "text", vidx)
    Search.append(docs.filter(col("doc_id") === 4), "doc_id", "text", vidx)
    Search.delete(Seq(2L).toDF("doc_id"), "doc_id", vidx)
    Search.append(docs.filter(col("doc_id") === 5), "doc_id", "text", vidx)
    val terms = Seq("alpha", "beta", "gamma")
    val before = Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet
    val bm25Before = Search.searchBm25(spark, vidx, terms, 10)
      .collect().map(_.toSeq).toSet
    Search.compact(spark, vidx)
    Search.vacuum(spark, vidx)
    // answers identical through compact + vacuum
    assert(Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet == before)
    assert(Search.searchBm25(spark, vidx, terms, 10)
      .collect().map(_.toSeq).toSet == bm25Before)
    // exactly one live postings generation and one commit marker remain
    def gens(d: String) = Option(new java.io.File(s"$root/$d").list())
      .map(_.count(_.startsWith("gen="))).getOrElse(0)
    assert(gens("post") == 1, s"post gens: ${gens("post")}")
    assert(gens("tombs") == 0)
    assert(new java.io.File(s"$root/commits").list()
      .count(!_.startsWith(".")) == 1)
    // repeated cycles stay bounded
    (6 to 9).foreach { i =>
      Search.append(Seq((i.toLong, s"omega tok$i")).toDF("doc_id", "text"),
        "doc_id", "text", vidx)
      Search.compact(spark, vidx)
      Search.vacuum(spark, vidx)
    }
    assert(gens("post") == 1)
    assert(Search.searchAll(spark, vidx, Seq("omega")).count() == 4)
    // open() recovers the index config from the log
    assert(Search.open(spark, root).nBuckets == vidx.nBuckets)
  }

  test("compactIncremental: seg-merge folds the deltas only, carries " +
      "the base by reference; answers, tombstones, exactly-once and " +
      "vacuum hold across chained folds; full compact purges") {
    val root = "target/tmp/search-incfold-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ownParts(g: Int): Set[String] =
      Option(new java.io.File(s"$root/post/gen=$g").list())
        .map(_.filter(_.startsWith("tb=")).toSet).getOrElse(Set.empty)
    def baseGen(): Int = graft.io.GenLog
      .liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).map(_.gen).max
    // base: docs 1-4 (tokens alpha/beta/gamma/delta)
    val vidx = Search.writeIndex(docs.filter(col("doc_id") <= 4),
      "doc_id", "text", root)
    val g1 = baseGen()
    val g1Parts = ownParts(g1)
    assert(g1Parts.nonEmpty)
    // deltas: a streaming batch adds doc 5 (epsilon/zeta — new tokens,
    // so only THEIR buckets go dirty), and doc 2 is deleted
    Search.appendBatch(docs.filter(col("doc_id") === 5),
      "doc_id", "text", vidx, 0L, "ingA")
    Search.delete(Seq(2L).toDF("doc_id"), "doc_id", vidx)
    val terms = Seq("alpha", "beta", "gamma")
    val before = Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet
    val bm25Before = Search.searchBm25(spark, vidx, terms, 10)
      .collect().map(_.toSeq).toSet
    Search.compactIncremental(spark, vidx)
    val g2 = baseGen()
    assert(g2 != g1)
    // the fold rewrote at most the two dirty buckets (epsilon, zeta)
    // and carried the rest of the old base by reference
    assert(ownParts(g2).size <= 2,
      s"fold rewrote ${ownParts(g2)} — not bucket-granular")
    val carry1 = graft.io.GenLog.carryEntries(spark, f, root, "post", g2)
    assert(carry1.nonEmpty, "no base paths carried by reference")
    assert(carry1.map(_._2).forall(_.contains(s"gen=$g1")),
      s"carry should reference the old base's dirs: $carry1")
    // answers identical through the fold (delete still applied via the
    // consolidated tombstone snapshot over carried buckets)
    assert(Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet == before)
    assert(Search.searchBm25(spark, vidx, terms, 10)
      .collect().map(_.toSeq).toSet == bm25Before)
    assert(Search.searchAll(spark, vidx, Seq("epsilon"))
      .collect().map(_.getLong(0)).toSet == Set(5L))
    assert(Search.searchAll(spark, vidx, Seq("beta"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    // vacuum keeps the carried dirs, reclaims the dirty ones + markers
    Search.vacuum(spark, vidx)
    carry1.map(_._2).foreach(p => assert(f.exists(
      new org.apache.hadoop.fs.Path(p)), s"vacuum reclaimed carried $p"))
    assert(new java.io.File(s"$root/commits").list()
      .count(!_.startsWith(".")) == 1)
    assert(Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet == before)
    // exactly-once survives the fold: batch 0 of ingA replays as a
    // no-op even though its per-batch marker was vacuumed
    val gensBefore = graft.io.GenLog.metas(spark, f, root).size
    Search.appendBatch(docs.filter(col("doc_id") === 5),
      "doc_id", "text", vidx, 0L, "ingA")
    assert(graft.io.GenLog.metas(spark, f, root).size == gensBefore,
      "replayed batch was not skipped after fold+vacuum")
    // reingest cycle across a CHAINED fold: doc 2 comes back corrected
    Search.append(Seq((2L, "alpha corrected")).toDF("doc_id", "text"),
      "doc_id", "text", vidx)
    Search.compactIncremental(spark, vidx)
    val g3 = baseGen()
    // the chain copies gen-1 addresses forward (no transitive walk)
    val carry2 = graft.io.GenLog.carryEntries(spark, f, root, "post", g3)
    assert(carry2.map(_._2).exists(_.contains(s"gen=$g1")),
      s"chained fold lost the original carried addresses: $carry2")
    Search.vacuum(spark, vidx)
    assert(Search.searchAll(spark, vidx, Seq("corrected"))
      .collect().map(_.getLong(0)).toSet == Set(2L))
    assert(Search.searchAll(spark, vidx, Seq("beta"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L),
      "old postings of the reingested doc resurfaced")
    // ONE MORE fold that does NOT touch the reingested doc's buckets:
    // the consolidated tombstone snapshot must keep its ORIGINAL kill
    // gen (explicit tgen) — re-stamping it at the new base's gen would
    // kill doc 2's carried live rows exactly here
    Search.append(Seq((9L, "unrelatedtoken")).toDF("doc_id", "text"),
      "doc_id", "text", vidx)
    Search.compactIncremental(spark, vidx)
    Search.vacuum(spark, vidx)
    assert(Search.searchAll(spark, vidx, Seq("corrected"))
      .collect().map(_.getLong(0)).toSet == Set(2L),
      "reingested doc vanished one fold later — tombstone snapshot " +
        "lost its original kill generation")
    // stats stayed exact through the folds (BM25 corpus constants)
    assert(Search.searchBm25(spark, vidx, Seq("epsilon"), 10).count() == 1)
    // a FULL compact purges: one real gen dir, tombstones gone
    Search.compact(spark, vidx)
    Search.vacuum(spark, vidx)
    def gens(d: String) = Option(new java.io.File(s"$root/$d").list())
      .map(_.count(_.startsWith("gen="))).getOrElse(0)
    assert(gens("post") == 1, s"full compact left ${gens("post")} dirs")
    assert(gens("tombs") == 0)
    assert(Search.searchAll(spark, vidx, Seq("corrected"))
      .collect().map(_.getLong(0)).toSet == Set(2L))
    assert(Search.open(spark, root).nBuckets == vidx.nBuckets)
  }

  test("seg-merge leveling: a bucket never holds more than " +
      "maxSetsPerBucket live file sets across chained folds; answers " +
      "stay exact while overgrown buckets re-merge") {
    val root = "target/tmp/search-level-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vidx = Search.writeIndex(docs.filter(col("doc_id") <= 4),
      "doc_id", "text", root)
    def baseGen(): Int = graft.io.GenLog.liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).map(_.gen).max
    // five fold cycles, each appending a doc whose tokens hit the SAME
    // buckets (alpha/beta) — without leveling those buckets would
    // accumulate one set per fold
    (1 to 5).foreach { i =>
      Search.append(Seq((100L + i, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text", vidx)
      Search.compactIncremental(spark, vidx, maxSetsPerBucket = 2)
      val eff = graft.io.GenLog.effectiveParts(spark, f, root,
        "post", baseGen())
      val worst = eff.values.map(_.size).max
      assert(worst <= 2, s"fold $i left a bucket with $worst sets")
      // docs sets bounded by the same cap (carried + the fold's own)
      val docsSets = graft.io.GenLog.carryEntries(spark, f, root,
        "docs", baseGen()).size
      assert(docsSets <= 2, s"fold $i left $docsSets docs sets")
      Search.vacuum(spark, vidx)
    }
    assert(Search.searchAll(spark, vidx, Seq("alpha"))
      .collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L) ++ (1 to 5).map(i => 100L + i),
      "leveled folds lost or duplicated postings")
    // BM25 stats stayed exact through five folds + levelings
    val bm = Search.searchBm25(spark, vidx, Seq("alpha"), 20).count()
    assert(bm == 8)
  }

  test("compact refuses while an append is in flight; the late-published " +
      "append survives the next compact and vacuum reclaims only dead gens") {
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-inflight-spec"))
    val root = "target/tmp/search-inflight-spec"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vidx = Search.writeIndex(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", root)
    // a SLOW appender claims its generation but has not published yet...
    val g2 = Search.claimGen(spark, f, root)
    // ...while a faster appender lands ABOVE it (slot-safe)
    Search.append(docs.filter(col("doc_id") === 4), "doc_id", "text", vidx)
    // compact must refuse: a base committed now would sit ABOVE g2, and
    // g2's later publish would be invisible forever, then vacuumed
    val e = intercept[RuntimeException](Search.compact(spark, vidx))
    assert(e.getMessage.contains("claimed but unpublished"))
    // the aborted compact released its own claim — only g2 is pending
    assert(Search.unpublishedGens(spark, f, root) == Seq(g2))
    // delete has the same race (its stats snapshot + tombstone would
    // wrongly kill g2's late docs) and must refuse likewise
    import spark.implicits._
    val e2 = intercept[RuntimeException](
      Search.delete(Seq(1L).toDF("doc_id"), "doc_id", vidx))
    assert(e2.getMessage.contains("claimed but unpublished"))
    // the slow appender finishes: marker published, docs visible
    Search.writeSegmentAt(docs.filter(col("doc_id") === 3),
      "doc_id", "text", root, vidx.nBuckets, "seg", g2)
    assert(Search.searchAll(spark, vidx, Seq("delta"))
      .collect().map(_.getLong(0)).toSet == Set(3L))
    // with nothing in flight, compact + vacuum proceed; answers identical
    val terms = Seq("alpha", "beta", "gamma")
    val before = Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet
    Search.compact(spark, vidx)
    Search.vacuum(spark, vidx)
    assert(Search.searchAny(spark, vidx, terms, 1)
      .collect().map(_.toSeq).toSet == before)
    assert(Search.unpublishedGens(spark, f, root).isEmpty)
    def gens(d: String) = Option(new java.io.File(s"$root/$d").list())
      .map(_.count(_.startsWith("gen="))).getOrElse(0)
    assert(gens("post") == 1)
  }

  test("maintain: the metas-only policy noops when quiet, folds past " +
      "deltaGens, full-compacts past purgeFrac (physical purge), and " +
      "vacuums — answers never change under only maintain") {
    val root = "target/tmp/search-maintain-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val cfg = graft.io.GenLog.MaintainConfig(deltaGens = 2,
      purgeFrac = 0.4)
    val midx = Search.writeIndex(docs.filter(col("doc_id") <= 4),
      "doc_id", "text", root)
    def live(): Set[Long] = Search.searchAny(spark, midx,
      Seq("alpha", "beta", "gamma", "epsilon", "zeta", "eta"), 1)
      .collect().map(_.getLong(0)).toSet
    // quiet head: nothing to do
    assert(Search.maintain(spark, midx, cfg).map(_._1) == Seq("noop"))
    // two delta generations: the policy folds, then vacuums them
    Search.append(docs.filter(col("doc_id") === 5),
      "doc_id", "text", midx)
    Search.append(Seq((6L, "eta beta")).toDF("doc_id", "text"),
      "doc_id", "text", midx)
    val a1 = Search.maintain(spark, midx, cfg)
    assert(a1.map(_._1) == Seq("fold", "vacuum"), s"got $a1")
    assert(live() == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Search.maintain(spark, midx, cfg).map(_._1) == Seq("noop"))
    // delete-heavy window: 3 of 6 live docs tombstoned (50% >= 40%)
    // -> the policy promotes to the FULL compact (physical purge),
    // even though only ONE delta generation sits above the base
    Search.delete(Seq(2L, 3L, 5L).toDF("doc_id"), "doc_id", midx)
    val a2 = Search.maintain(spark, midx, cfg)
    assert(a2.map(_._1) == Seq("compact", "vacuum"), s"got $a2")
    assert(live() == Set(1L, 4L, 6L))
    // the purge was physical: the new base's postings hold no dead
    // doc rows (read them raw, bypassing the tombstone anti-join)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseGen = graft.io.GenLog.liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).map(_.gen).max
    val rawIds = spark.read.parquet(s"$root/post/gen=$baseGen")
      .select("id").distinct().as[Long].collect().toSet
    assert(rawIds == Set(1L, 4L, 6L),
      s"dead rows survived the purge: $rawIds")
    assert(Search.maintain(spark, midx, cfg).map(_._1) == Seq("noop"))
    // BM25 answers equal a from-scratch rebuild over the live docs
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$root-rebuild"))
    val rebuilt = Search.writeIndex(
      docs.filter(col("doc_id").isin(1L, 4L)).unionByName(
        Seq((6L, "eta beta")).toDF("doc_id", "text")),
      "doc_id", "text", s"$root-rebuild")
    val terms = Seq("alpha", "beta", "gamma")
    assert(Search.searchBm25(spark, midx, terms, 10)
      .collect().map(_.toSeq).toSet ==
      Search.searchBm25(spark, rebuilt, terms, 10)
        .collect().map(_.toSeq).toSet)
  }

  test("maintain: dead mass folded into the base (the `dead` marker " +
      "stamp) still counts toward the purge threshold — low-delete " +
      "folds accumulate until the full compact trips, with no data " +
      "scan in the decision") {
    val root = "target/tmp/search-deadmass-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val cfg = graft.io.GenLog.MaintainConfig(deltaGens = 2,
      purgeFrac = 0.4)
    val midx = Search.writeIndex(docs.filter(col("doc_id") <= 4),
      "doc_id", "text", root)
    // one small delete (25% < 40%) + one append: the policy FOLDS —
    // the dead row hides behind the consolidated tombstone snapshot,
    // and the fold stamps its count on the base marker
    Search.delete(Seq(2L).toDF("doc_id"), "doc_id", midx)
    Search.append(Seq((7L, "eta beta")).toDF("doc_id", "text"),
      "doc_id", "text", midx)
    val a1 = Search.maintain(spark, midx, cfg)
    assert(a1.map(_._1) == Seq("fold", "vacuum"), s"got $a1")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = graft.io.GenLog.liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).maxBy(_.gen)
    assert(base.dead == 1L,
      s"the fold must stamp the consolidated tombstone count: $base")
    // a SECOND small delete: raw deletes above the base are only 1/3
    // of live docs (< 40%, and one delta gen < deltaGens — the old
    // policy would NOOP here), but base.dead + 1 = 2 of 3 live ≥ 40%
    // → the accumulated dead mass promotes straight to the purge
    Search.delete(Seq(3L).toDF("doc_id"), "doc_id", midx)
    val a2 = Search.maintain(spark, midx, cfg)
    assert(a2.map(_._1) == Seq("compact", "vacuum"), s"got $a2")
    // purge was physical AND answers are right
    val liveIds = Search.searchAny(spark, midx,
      Seq("alpha", "beta", "gamma", "eta"), 1)
      .collect().map(_.getLong(0)).toSet
    assert(liveIds == Set(1L, 4L, 7L))
    val baseGen2 = graft.io.GenLog.liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).map(_.gen).max
    val rawIds = spark.read.parquet(s"$root/post/gen=$baseGen2")
      .select("id").distinct().as[Long].collect().toSet
    assert(rawIds == Set(1L, 4L, 7L),
      s"dead rows survived the purge: $rawIds")
    // post-purge the dead stamp resets: quiet head noops
    assert(graft.io.GenLog.liveMetas(spark, f, root)
      .filter(_.kind == graft.io.GenLog.KindBase).maxBy(_.gen).dead == 0L)
    assert(Search.maintain(spark, midx, cfg).map(_._1) == Seq("noop"))
  }

  test("searchAll: scan is partition-pruned to the term buckets") {
    val q = Search.searchAll(spark, idx, Seq("alpha"))
    q.collect()
    val scans = Plans.nodes(q.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // the bucket predicate must land in partitionFilters (planning-time
    // pruning), not just dataFilters
    assert(scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "tb"))),
      scans.map(_.partitionFilters.mkString(",")).mkString("\n"))
  }

  test("deleteWhere: predicate tombstones == delete-by-ids on the " +
      "same predicate (every serve mode agrees); the reingest cycle " +
      "stays intact; an un-stored column fails loudly") {
    val tagged = (1 to 30).map { i =>
      val text = if (i % 2 == 0) "alpha beta gamma" else s"alpha beta y$i"
      (i.toLong, text, if (i % 3 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    def build(path: String): Search.Index = {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(path))
      Search.writeIndex(tagged, "doc_id", "text", path, nBuckets = 8)
    }
    val a = build("target/tmp/search-delwhere-a")
    val b = build("target/tmp/search-delwhere-b")
    Search.deleteWhere(spark, a, col("lang") === "xx")
    Search.delete(tagged.filter(col("lang") === "xx")
      .select(col("doc_id")), "doc_id", b)
    def serve(idx: Search.Index): Seq[(Long, Double)] =
      Search.searchBm25(spark, idx, Seq("alpha", "beta"), topK = 100)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(serve(a) == serve(b) && serve(a).nonEmpty)
    assert(serve(a).forall(_._1 % 3 == 0),
      "every xx doc must be gone")
    // reingest cycle: a corrected doc re-enters and serves
    Search.append(Seq((7L, "alpha beta corrected", "en"))
      .toDF("doc_id", "text", "lang"), "doc_id", "text", a)
    assert(serve(a).map(_._1).contains(7L))
    // matching nothing is a harmless no-op on the live set
    val before = serve(a)
    Search.deleteWhere(spark, a, col("lang") === "zz-nope")
    assert(serve(a) == before)
    // un-stored column: loud, typed
    intercept[FilterUnresolved] {
      Search.deleteWhere(spark, a, col("tongue") === "xx")
    }
  }

  test("searchFuzzy: expansion equals the brute vocabulary reference; " +
      "the variant union serves through BM25 verbatim; no-expansion " +
      "terms contribute nothing; the vocabulary probe pushes the " +
      "prefix to the scan and reads only tok") {
    val fdocs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpine beta"),
      (3L, "beta gamma delta"),
      (4L, "alpha beta gamma gamma gamma"),
      (5L, "epsilon zeta alphas")).toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-fuzzy"))
    val fidx = Search.writeIndex(fdocs, "doc_id", "text",
      "target/tmp/search-fuzzy")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocabAll = fdocs
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct().as[String].collect().toSet
    val terms = Seq("alphq", "gammq", "alphas")
    for (maxDist <- 1 to 2) {
      val want = (for {
        t <- terms; v <- vocabAll
        if v.startsWith(t.take(1)) && lev(v, t) <= maxDist
      } yield (t, v)).toSet
      val got = Search.fuzzyExpand(spark, fidx, terms, maxDist)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == want, s"maxDist=$maxDist: $got != $want")
      assert(want.nonEmpty)
      // the serve is exactly BM25 over the distinct variant union
      val variants = want.map(_._2).toSeq.distinct.sorted
      val fz = Search.searchFuzzy(spark, fidx, terms, maxDist, topK = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val bm = Search.searchBm25(spark, fidx, variants, topK = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fz == bm)
    }
    // dist-2 widens: alphas picks up alpha's whole family
    assert(Search.fuzzyExpand(spark, fidx, Seq("alphas"), 2)
      .collect().map(_.getString(1)).toSet == Set("alphas", "alpha"))
    // nothing within reach: empty result, stable (id, score) schema
    val none = Search.searchFuzzy(spark, fidx, Seq("qqqqq"), 1, 10)
    assert(none.columns.toSeq == Seq("id", "score") && none.count() == 0)
    // PREFIX search: same dictionary machinery, PrefixQuery semantics
    val pWant = vocabAll.filter(_.startsWith("alp")).toSeq.sorted
    assert(pWant.size == 3) // alpha, alphas, alpine
    val pGot = Search.searchPrefix(spark, fidx, Seq("alp"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pGot == Search.searchBm25(spark, fidx, pWant, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(pGot.nonEmpty)
    val pNone = Search.searchPrefix(spark, fidx, Seq("zz"), 10)
    assert(pNone.columns.toSeq == Seq("id", "score") && pNone.count() == 0)
    intercept[IllegalArgumentException] {
      Search.searchPrefix(spark, fidx, Seq(""), 10)
    }
    // probe plan: prefix pushed to the parquet scan, tok-only read
    val exp = Search.fuzzyExpand(spark, fidx, Seq("alphq"), 1)
    exp.collect()
    val scans = Plans.nodes(exp.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.forall(_.requiredSchema.fieldNames.toSet == Set("tok")),
      scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";"))
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("StringStartsWith"))),
      scans.flatMap(_.metadata.get("PushedFilters")).mkString(";"))
  }

  test("fuzzy/prefix maxExpansions: the Lucene rewrite cap keeps the " +
      "df-ranked top variants per term/prefix, a cap above the " +
      "expansion count is a no-op, and the served variant set never " +
      "round-trips through the driver (semi-join, no In literal)") {
    // df: alpha=4 docs, alpaca=2, alphas=1, alpine=1 (tok tie-break)
    val fdocs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpine beta alpha"),
      (3L, "beta gamma alpha"),
      (4L, "alpha beta alpaca"),
      (5L, "epsilon alphas alpaca")).toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-fuzzy-cap"))
    val fidx = Search.writeIndex(fdocs, "doc_id", "text",
      "target/tmp/search-fuzzy-cap")
    def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // prefix cap 2: df-ranked top-2 of the alp-family = alpha, alpaca
    assert(got(Search.searchPrefix(spark, fidx, Seq("alp"), topK = 10,
        maxExpansions = 2)) ==
      got(Search.searchBm25(spark, fidx, Seq("alpha", "alpaca"), 10)))
    // cap 3: the df tie between alphas/alpine breaks tok-asc → alphas
    assert(got(Search.searchPrefix(spark, fidx, Seq("alp"), topK = 10,
        maxExpansions = 3)) ==
      got(Search.searchBm25(spark, fidx,
        Seq("alpha", "alpaca", "alphas"), 10)))
    // cap at/above the expansion count: identical to the full family
    assert(got(Search.searchPrefix(spark, fidx, Seq("alp"), topK = 10,
        maxExpansions = 4)) ==
      got(Search.searchPrefix(spark, fidx, Seq("alp"), topK = 10,
        maxExpansions = 50)))
    // per-TERM fuzzy cap: alphas@dist2 expands {alphas, alpha}; cap 1
    // keeps the higher-df alpha only
    assert(Search.fuzzyExpand(spark, fidx, Seq("alphas"), 2,
        maxExpansions = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("alphas", "alpha")))
    assert(got(Search.searchFuzzy(spark, fidx, Seq("alphas"), 2,
        topK = 10, maxExpansions = 1)) ==
      got(Search.searchBm25(spark, fidx, Seq("alpha"), 10)))
    // the cap refuses nonsense loudly
    intercept[IllegalArgumentException] {
      Search.searchPrefix(spark, fidx, Seq("alp"), 10, maxExpansions = 0)
    }
    intercept[IllegalArgumentException] {
      Search.fuzzyExpand(spark, fidx, Seq("alphas"), 1, maxExpansions = 0)
    }
    // SERVED PATH NEVER COLLECTS THE VARIANTS: the expansion variant
    // ("alpha") must not appear anywhere in the serve plan — under
    // the old collect()+isin shape it surfaced as a literal In-list
    // entry; the semi-join shape carries it only as DATA
    val fz = Search.searchFuzzy(spark, fidx, Seq("alphq"), 1, topK = 10)
    val plan = fz.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("alpha"),
      s"expansion variant leaked into the plan as a literal:\n$plan")
    // ... and the serve still works
    assert(got(fz) ==
      got(Search.searchBm25(spark, fidx, Seq("alpha"), 10)))
  }

  test("searchFuzzyBatch: per-query results identical to the " +
      "single-query fuzzy pipe (capped AND uncapped); a query whose " +
      "terms all fail to expand drops; empty term lists refuse; the " +
      "hybrid batch serve takes the same expansion") {
    val fdocs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpine beta"),
      (3L, "beta gamma delta"),
      (4L, "alpha beta gamma gamma gamma"),
      (5L, "epsilon zeta alphas")).toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-fuzzy-batch"))
    val fidx = Search.writeIndex(fdocs, "doc_id", "text",
      "target/tmp/search-fuzzy-batch")
    val queries = Seq(
      (10L, Seq("alphq")),
      (11L, Seq("gammq", "alphas")),
      (12L, Seq("qqqqq"))).toDF("qid", "terms")
    def byQid(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (cap <- Seq(50, 1)) {
      val batch = byQid(Search.searchFuzzyBatch(spark, fidx, queries,
        maxDist = 1, topK = 10, maxExpansions = cap))
      Seq((10L, Seq("alphq")), (11L, Seq("gammq", "alphas"))).foreach {
        case (qid, terms) =>
          val single = Search.searchFuzzy(spark, fidx, terms, 1,
              topK = 10, maxExpansions = cap)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          assert(batch.getOrElse(qid, Set.empty) == single,
            s"cap=$cap qid=$qid: ${batch.get(qid)} vs $single")
      }
      // nothing expands for qid 12 -> absent (single face: empty)
      assert(!batch.contains(12L))
    }
    intercept[IllegalArgumentException] {
      Search.searchFuzzyBatch(spark, fidx,
        Seq((1L, Seq.empty[String])).toDF("qid", "terms"), 1, 10)
    }
    // the BATCHED HYBRID serve rides the same expansion: fuzzyDist>0
    // == pre-expanding the query frame by hand
    val cents = (0 until 2).map { id =>
      (id.toLong, Array.tabulate(32)(i =>
        (((id * 31 + i * 13) % 17).toFloat - 8f) / 8f))
    }.toDF("cid", "cvec")
    val vecs = (1 to 5).map { id =>
      (id.toLong, Array.tabulate(32)(i =>
        (((id * 31 + i * 13) % 17).toFloat - 8f) / 8f))
    }.toDF("id", "vec")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-fuzzy-batch-vec"))
    val vIdx = VecIndex.init(vecs, 32, "target/tmp/search-fuzzy-batch-vec",
      centroids = Some(cents), cbBuckets = 1)
    val qv = Seq((10L, Array.tabulate(32)(i => i.toFloat / 16f)),
      (11L, Array.tabulate(32)(i => 1f - i.toFloat / 16f)))
      .toDF("qid", "vec")
    val hq = queries.filter(col("qid") < 12L).join(qv, "qid")
    val gotH = byQid(Hybrid.hybridTopKBatch(spark, fidx, vIdx, hq,
      nProbe = 2, nLex = 5, nSem = 5, topK = 5, fuzzyDist = 1))
    val preExp = Search.expandQueriesFuzzy(spark, fidx,
      queries.filter(col("qid") < 12L), 1)
    val wantH = byQid(Hybrid.hybridTopKBatch(spark, fidx, vIdx,
      preExp.join(qv, "qid"), nProbe = 2, nLex = 5, nSem = 5, topK = 5))
    assert(gotH == wantH && gotH.nonEmpty)
    // PREFIX batch: per-query identical to the single-query face,
    // capped and uncapped; no-match prefixes drop their query
    val pq = Seq((20L, Seq("alp")), (21L, Seq("gam", "del")),
      (22L, Seq("zz"))).toDF("qid", "prefixes")
    for (cap <- Seq(50, 2)) {
      val pb = byQid(Search.searchPrefixBatch(spark, fidx, pq,
        topK = 10, maxExpansions = cap))
      Seq((20L, Seq("alp")), (21L, Seq("gam", "del"))).foreach {
        case (qid, prefixes) =>
          val single = Search.searchPrefix(spark, fidx, prefixes,
              topK = 10, maxExpansions = cap)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          assert(pb.getOrElse(qid, Set.empty) == single,
            s"cap=$cap qid=$qid: ${pb.get(qid)} vs $single")
      }
      assert(!pb.contains(22L))
    }
    intercept[IllegalArgumentException] {
      Search.searchPrefixBatch(spark, fidx,
        Seq((1L, Seq(""))).toDF("qid", "prefixes"), 10)
    }
  }

  test("filtered BM25/conjunction: doc metadata stores in the sidecar, " +
      "the predicate binds below the top-k (full k among matching, " +
      "scores unchanged), survives delete/reingest + fold, and an " +
      "unknown column fails loudly") {
    val tagged = (1 to 30).map { i =>
      val text = if (i % 2 == 0) "alpha beta gamma" else s"alpha beta x$i"
      (i.toLong, text, if (i % 3 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/tmp/search-filtered"))
    val fidx = Search.writeIndex(tagged.filter(col("doc_id") <= 20),
      "doc_id", "text", "target/tmp/search-filtered", nBuckets = 8)
    Search.append(tagged.filter(col("doc_id") > 20), "doc_id", "text",
      fidx)
    val terms = Seq("alpha", "gamma")
    // ground truth: the FULL ranking (topK >= all hits), post-filtered
    val all = Search.searchBm25(spark, fidx, terms, topK = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val wantTop5 = all.filter(_._1 % 3 == 0).take(5).toSeq
    val got = Search.searchBm25(spark, fidx, terms, topK = 5,
        filter = Some(col("lang") === "en"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == wantTop5,
      s"filtered top-5 must be the first 5 matching of the full " +
        s"ranking with UNCHANGED scores: got $got want $wantTop5")
    assert(got.size == 5)
    // the under-fill this exists to prevent: post-filtering the
    // unfiltered top-5 yields fewer
    val postFiltered = Search.searchBm25(spark, fidx, terms, topK = 5)
      .collect().map(_.getLong(0)).count(_ % 3 == 0)
    assert(postFiltered < 5, s"fixture too easy: $postFiltered")
    // conjunction face honors the same predicate
    val conj = Search.searchAll(spark, fidx, Seq("alpha", "beta"),
        filter = Some(col("lang") === "en"))
      .collect().map(_.getLong(0)).toSet
    assert(conj.nonEmpty && conj.forall(_ % 3 == 0))
    // metadata survives the reingest cycle + incremental fold + vacuum
    import spark.implicits._
    Search.delete(Seq(6L).toDF("id"), "id", fidx)
    Search.append(Seq((6L, "alpha gamma gamma", "en"))
      .toDF("doc_id", "text", "lang"), "doc_id", "text", fidx)
    Search.compactIncremental(spark, fidx)
    Search.vacuum(spark, fidx)
    val after = Search.searchBm25(spark, fidx, terms, topK = 1000,
        filter = Some(col("lang") === "en"))
      .collect().map(_.getLong(0)).toSet
    assert(after.contains(6L) && after.forall(_ % 3 == 0))
    // unknown column: loud, lists the stored doc columns
    val e = intercept[IllegalArgumentException] {
      Search.searchBm25(spark, fidx, terms, topK = 5,
        filter = Some(col("tongue") === "en")).collect()
    }
    assert(e.getMessage.contains("stored doc columns") &&
      e.getMessage.contains("lang"))
  }
}
