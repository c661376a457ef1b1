package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * HYBRID retrieval: lexical (BM25 over the [[Search]] inverted index)
 * and semantic (cosine over the [[VecIndex]] generational ANN index)
 * candidates fused by RECIPROCAL RANK FUSION — the production serving
 * shape for RAG/search stacks, where neither signal alone ranks well
 * (BM25 misses paraphrase, embeddings miss rare exact terms; RRF
 * rewards documents BOTH retrievers surface without having to
 * calibrate their incomparable score scales).
 *
 * RRF (Cormack, Clarke & Buettcher, SIGIR'09):
 * `score(d) = Σ_lists 1 / (k0 + rank_d)` with the conventional
 * k0 = 60; absent-from-a-list contributes 0. Ranks are dense
 * positions under each list's own (score desc, id asc) order, so a
 * deterministic pair of retriever outputs fuses deterministically
 * (the fused score is rounded to 8 before the id-tie-broken final
 * rank — an independent engine reproduces it exactly).
 *
 * Scale shape: fusion touches only the CANDIDATE lists (nLex + nSem
 * rows per query — hundreds, not corpus-sized), so the serve cost is
 * the two pruned index reads it composes: the |terms|-bucket BM25
 * read and the probed-cluster IVF read. Nothing here ever scans the
 * corpus.
 */
object Hybrid {
  import Search.{rankPerQid, topOne, topPerQid}

  /** Deepening factor for the lexical fallback when the text index
    * lacks a filter column: fetch `nLex · FallbackDeepen` candidates,
    * semi-join the vector index's metadata, keep the top `nLex`
    * survivors. 4 covers any filter keeping >= 1/4 of the pool with
    * exact filtered-serve semantics; the pool stays candidate-sized
    * (never corpus-sized), so deepening is cheap. */
  val FallbackDeepen: Int = 4

  /** Per-list fusion weights: empty = unweighted (all 1.0 — the
    * historical behavior); otherwise one strictly-positive weight per
    * list, in list order. */
  private def resolvedWeights(n: Int, weights: Seq[Double],
      face: String): Seq[Double] = {
    if (weights.isEmpty) Seq.fill(n)(1.0)
    else {
      require(weights.length == n,
        s"$face: ${weights.length} weights for $n lists — pass one " +
          "per list (or none for unweighted)")
      require(weights.forall(w => w > 0.0 && !w.isNaN && !w.isInfinite),
        s"$face: weights must be finite and > 0 (drop a list instead " +
          s"of zero-weighting it), got $weights")
      weights
    }
  }

  /** The query key the single-query faces run their lists under: 0 for
    * every row. It is derived from the row's id rather than written as
    * a literal, because Spark folds a literal column out of a window's
    * partition spec and would then plan the per-query windows below as
    * one unpartitioned task; `xxhash64` is never null, so every row
    * gets key 0. */
  private def oneQid(id: Column): Column = pmod(xxhash64(id), lit(1L))

  private def asOneQuery(lists: Seq[(DataFrame, String, String)])
      : Seq[(DataFrame, String, String, String)] =
    lists.map { case (df, idCol, scoreCol) =>
      (df.withColumn("__q", oneQid(col(idCol))), "__q", idCol, scoreCol)
    }

  /** The one RRF: unranked `(qid, id, rrf)` over per-query candidate
    * lists `(df, qidCol, idCol, scoreCol)`. A list's rank is its
    * position within `(qid, list)` by (score desc, id asc) — for a list
    * holding each id once (every retriever output), that is
    * 1 + |rows strictly better|; fusion sums within qid and rounds to
    * 8 places. */
  private def rrfScores(lists: Seq[(DataFrame, String, String, String)],
      k0: Int, weights: Seq[Double], face: String): DataFrame = {
    require(lists.nonEmpty, s"$face needs at least one ranked list")
    require(k0 > 0, s"k0 $k0 must be > 0")
    val ws = resolvedWeights(lists.length, weights, face)
    lists.zip(ws).map { case ((df, qidCol, idCol, scoreCol), wt) =>
      rankPerQid(df.select(col(qidCol).as("qid"), col(idCol).as("id"),
          col(scoreCol).as("__s")), "__s")
        .select(col("qid"), col("id"),
          (lit(wt) / (lit(k0) + col("__rk"))).as("__c"))
    }.reduce(_.unionByName(_))
      .groupBy("qid", "id").agg(round(sum("__c"), 8).as("rrf"))
  }

  /** The one min-max fusion: unranked `(qid, id, fused)`. Each
    * `(qid, list)` slice normalizes over itself (min and max over a
    * qid-partitioned window of the bounded candidate list); a
    * constant-score slice normalizes to 1.0. Fusion sums within qid,
    * rounded to 8. */
  private def minMaxScores(lists: Seq[(DataFrame, String, String, String)],
      weights: Seq[Double], face: String): DataFrame = {
    require(lists.nonEmpty, s"$face needs at least one ranked list")
    val ws = resolvedWeights(lists.length, weights, face)
    val slice = Window.partitionBy("qid")
    lists.zip(ws).map { case ((df, qidCol, idCol, scoreCol), w) =>
      df.select(col(qidCol).as("qid"), col(idCol).as("id"),
          col(scoreCol).cast("double").as("__s"))
        .withColumn("__mn", min("__s").over(slice))
        .withColumn("__mx", max("__s").over(slice))
        .select(col("qid"), col("id"),
          (lit(w) * when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col("__s") - col("__mn"))
              / (col("__mx") - col("__mn")))).as("__c"))
    }.reduce(_.unionByName(_))
      .groupBy("qid", "id").agg(round(sum("__c"), 8).as("fused"))
  }

  /** Fuse ranked candidate lists by RRF. Each list is an `(idCol,
    * scoreCol)` frame already bounded to its top-N (the retriever's
    * job); ranks are assigned per list by (score desc, id asc).
    * `weights` (empty = all 1.0) scales each list's contribution —
    * `score(d) = Σ_i w_i / (k0 + rank_i(d))`, the per-list knob every
    * hybrid deployment tunes first (lexical-heavy vs semantic-heavy).
    * Returns (id, rrf) — fused score rounded to 8 — limited to
    * `topK` by (rrf desc, id asc), in rank order. */
  def rrf(lists: Seq[(DataFrame, String, String)], k0: Int = 60,
      topK: Int = 10, weights: Seq[Double] = Nil): DataFrame =
    topOne(rrfScores(asOneQuery(lists), k0, weights, "rrf"), "rrf", topK)

  /** MIN-MAX score fusion — the rank-free alternative to [[rrf]]:
    * each list's scores normalize to [0, 1] over ITS OWN candidate
    * list (`(s - min) / (max - min)`; a constant-score list
    * normalizes to 1.0 — every candidate equally best), then
    * `fused(d) = Σ_i w_i · norm_i(d)` with absent-from-a-list
    * contributing 0. Keeps score MAGNITUDE information RRF discards
    * (a runaway BM25 top hit stays runaway) at the cost of being
    * sensitive to each list's score distribution — the second fusion
    * knob real deployments tune. Returns (id, fused) rounded to 8,
    * limited to `topK` by (fused desc, id asc), in rank order. */
  def minMaxFuse(lists: Seq[(DataFrame, String, String)],
      weights: Seq[Double] = Nil, topK: Int = 10): DataFrame =
    topOne(minMaxScores(asOneQuery(lists), weights, "minMaxFuse"), "fused",
      topK)

  /** BATCHED [[minMaxFuse]]: normalization constants are per
    * `(qid, list)`, fusion sums within qid, ranking is a
    * qid-partitioned window. Per-query results identical to
    * [[minMaxFuse]] on that query's slices. Returns (qid, id, fused)
    * with at most `topK` rows per qid. */
  def minMaxFuseBatch(lists: Seq[(DataFrame, String, String, String)],
      weights: Seq[Double] = Nil, topK: Int = 10): DataFrame =
    topPerQid(minMaxScores(lists, weights, "minMaxFuseBatch"), "fused",
      topK)

  /** BATCHED RRF: fuse per-query ranked lists for a whole batch.
    * Each list is a `(df, qidCol, idCol, scoreCol)` frame holding
    * top-N candidates for MANY queries; ranks densify within
    * `(qid, list)` by (score desc, id asc) and fusion sums within
    * qid — per-query results identical to [[rrf]] on that query's
    * slices. Ranking is a qid-PARTITIONED window (each query's
    * candidate list is top-N-bounded, so partitions are tiny and the
    * shuffle is by qid). Returns (qid, id, rrf) with at most `topK`
    * rows per qid. */
  def rrfBatch(lists: Seq[(DataFrame, String, String, String)],
      k0: Int = 60, topK: Int = 10,
      weights: Seq[Double] = Nil): DataFrame =
    topPerQid(rrfScores(lists, k0, weights, "rrfBatch"), "rrf", topK)

  /** Fusion-mode dispatch shared by the single and batch faces:
    * `"rrf"` (rank-only, optional per-list weights) or `"minmax"`
    * (per-list [0, 1] score normalization, weighted sum). */
  private def requireFusion(fusion: String): Unit =
    require(fusion == "rrf" || fusion == "minmax",
      s"fusion must be 'rrf' or 'minmax', got '$fusion'")

  private def fusedCol(fusion: String): String =
    if (fusion == "rrf") "rrf" else "fused"

  /** The hybrid serve shared by both faces: unranked fused
    * `(qid, id, rrf|fused)` of the lexical list `lexical(k, filter)`
    * (`(qid, id, score)`, top-k per qid) and the semantic list `sem`
    * (`(qid, nid, cos)`). With a `filter` the text index cannot
    * resolve ([[FilterUnresolved]] — only that class; other argument
    * errors propagate), the lexical side DEEPENS-then-filters: it
    * fetches `nLex · FallbackDeepen` candidates per query, semi-joins
    * the VECTOR index's stored metadata and keeps the top `nLex`
    * survivors per qid. */
  private def hybridScores(spark: SparkSession, vecIdx: VecIndex.Index,
      lexical: (Int, Option[Column]) => DataFrame, sem: => DataFrame,
      nLex: Int, k0: Int, filter: Option[Column],
      weights: Seq[Double], fusion: String, face: String): DataFrame = {
    val lex = filter match {
      case None => lexical(nLex, None)
      case Some(flt) =>
        try lexical(nLex, Some(flt))
        catch {
          case _: FilterUnresolved =>
            val ok = VecIndex.liveVecs(spark, vecIdx, Seq("id"),
              preFilter = Some(flt))
            topPerQid(lexical(nLex * FallbackDeepen, None)
              .join(ok.select("id"), Seq("id"), "left_semi"), "score", nLex)
        }
    }
    val lists = Seq((lex, "qid", "id", "score"), (sem, "qid", "nid", "cos"))
    if (fusion == "rrf") rrfScores(lists, k0, weights, face)
    else minMaxScores(lists, weights, face)
  }

  /** One-call hybrid serve for a single query: BM25 top-`nLex` for
    * `terms` from the text index + cosine top-`nSem` for `queryVec`
    * from the vector index (probed IVF — both reads stay pruned),
    * fused to `topK` (rows in rank order). `queryVec` is a one-row
    * (id, vec) frame; its id is excluded from the semantic candidates
    * (the usual self-match rule), so pass a non-corpus id for an
    * external query. An optional metadata `filter` applies to BOTH
    * sides, below each retriever's top-k: the semantic read takes it
    * on the probed scan (the [[VecIndex]] filtered-serve contract) and
    * the lexical side takes it through [[Search.searchBm25]]'s own
    * filtered serve when the TEXT index stores the referenced columns
    * — both candidate lists stay FULL among matching docs. When the
    * text index lacks the column(s), the lexical side
    * DEEPENS-then-filters against the vector index's metadata: full-k
    * semantics whenever the top-`nLex` matching docs sit inside the
    * deepened pool (a filter selective beyond 1/FallbackDeepen can
    * still under-fill — ingest the metadata at `writeIndex` for the
    * unconditional path). Either way a violating id NEVER surfaces. */
  def hybridTopK(spark: SparkSession, textIdx: Search.Index,
      vecIdx: VecIndex.Index, terms: Seq[String], queryVec: DataFrame,
      nProbe: Int = 2, nLex: Int = 20, nSem: Int = 20, k0: Int = 60,
      topK: Int = 10,
      filter: Option[Column] = None,
      weights: Seq[Double] = Nil,
      fusion: String = "rrf"): DataFrame = {
    requireFusion(fusion)
    def lexical(k: Int, flt: Option[Column]) =
      Search.searchBm25(spark, textIdx, terms, topK = k, filter = flt)
        .withColumn("qid", oneQid(col("id")))
    def sem = VecIndex.ivfTopK(spark, queryVec, vecIdx, nProbe, nSem,
        filter = filter)
      .withColumn("qid", oneQid(col("nid")))
    topOne(hybridScores(spark, vecIdx, lexical, sem, nLex, k0, filter,
      weights, fusion, "hybridTopK"), fusedCol(fusion), topK)
  }

  /** BATCHED hybrid serve: [[hybridTopK]] for a whole frame of
    * queries — `queries` is `(qid, terms: array<string>, vec)` — with
    * NO per-query job fan-out: the lexical side evaluates every term
    * set in one bucket-pruned postings pass
    * ([[Search.searchBm25Batch]]), the semantic side is the
    * already-batched probed read ([[VecIndex.ivfTopK]], one probe
    * pass per codebook-version group regardless of query count), and
    * fusion ranks in qid-partitioned windows over the bounded
    * candidate lists. Per-query results identical to [[hybridTopK]]
    * on that query alone. A query's own qid is excluded from its
    * semantic candidates (the usual self-match rule — pass non-corpus
    * qids for external queries). `filter` binds to both sides below
    * each retriever's top-k, with the same lexical fallback contract
    * as [[hybridTopK]] when the text index lacks the column(s).
    * `fuzzyDist` > 0 makes the LEXICAL side typo-tolerant: each
    * query's terms rewrite to their vocabulary expansions
    * ([[Search.expandQueriesFuzzy]] — expansion computed once over
    * the batch vocabulary, per-term df-ranked cap at
    * `fuzzyMaxExpansions`) before the shared BM25 pass; a query
    * whose terms all fail to expand contributes no lexical
    * candidates (its semantic side still serves). */
  def hybridTopKBatch(spark: SparkSession, textIdx: Search.Index,
      vecIdx: VecIndex.Index, queries: DataFrame,
      nProbe: Int = 2, nLex: Int = 20, nSem: Int = 20, k0: Int = 60,
      topK: Int = 10,
      filter: Option[Column] = None,
      fuzzyDist: Int = 0, fuzzyPrefixLen: Int = 1,
      fuzzyMaxExpansions: Int = 50,
      weights: Seq[Double] = Nil,
      fusion: String = "rrf"): DataFrame = {
    requireFusion(fusion)
    val qterms = queries.select("qid", "terms")
    // the fuzzy rewrite materializes once as (qid, tok) pairs and feeds
    // the pair face of the batch BM25 serve directly
    val pairs =
      if (fuzzyDist > 0)
        Some(Search.expandQueriesFuzzyPairs(spark, textIdx, qterms,
          fuzzyDist, fuzzyPrefixLen, fuzzyMaxExpansions, "hybridTopKBatch"))
      else None
    def lexical(k: Int, flt: Option[Column]) = pairs match {
      case Some(qt) =>
        Search.searchBm25BatchPairs(spark, textIdx, qt, topK = k,
          filter = flt)
      case None =>
        Search.searchBm25Batch(spark, textIdx, qterms, topK = k,
          filter = flt)
    }
    def sem = VecIndex.ivfTopK(spark,
      queries.select(col("qid").as("id"), col("vec")), vecIdx,
      nProbe, nSem, filter = filter)
    topPerQid(hybridScores(spark, vecIdx, lexical, sem, nLex, k0, filter,
      weights, fusion, "hybridTopKBatch"), fusedCol(fusion), topK)
  }
}
