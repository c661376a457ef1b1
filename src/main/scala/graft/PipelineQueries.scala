package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Memo
import graft.pipeline._

/**
 * Oracle-checked queries for the training-data pipeline operators
 * (dedup, similarity search, text analysis, multimodal) over the
 * driver's `documents` and `embeddings` tables. Same contract as
 * [[Queries]]: Spark side runs the engine's operators, the DuckDB
 * oracle recomputes the identical quantity in ANSI SQL.
 */
object PipelineQueries {

  // ---------- text analysis ----------

  /** Token count per document. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  private val stopListSql = TextOps.stopwords.map(w => s"'$w'").mkString(", ")

  /** Winnowing k-gram / window sizes shared by the q_fingerprint_winnow
    * and q_dedup_winnow oracle rows (declared ahead of both SQL vals —
    * object init order). */
  private val WinnowK = 8
  private val WinnowW = 4
  private val WinnowPosBits = TextOps.WinnowPosBits
  private val WinnowHashHex = TextOps.WinnowHashHex

  /** Quality metrics + composite score per document. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.meanTokenLength(col("text")).as("mean_len"),
        TextOps.hitRatio(col("text"), TextOps.stopwords).as("stop_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("score"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    len(toks) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_len,
       |    CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE) / len(toks) AS stop,
       |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct
       |  FROM t)
       |SELECT doc_id, n_tokens, ROUND(mean_len, 6) AS mean_len,
       |  ROUND(stop, 6) AS stop_ratio, ROUND(punct, 6) AS punct_ratio,
       |  ROUND(0.4 * LEAST(1.0, n_tokens / 50.0)
       |      + 0.4 * (1.0 - LEAST(1.0, ABS(stop - 0.12) / 0.5))
       |      + 0.2 * (1.0 - LEAST(1.0, punct * 5.0)), 6) AS score
       |FROM m ORDER BY doc_id""".stripMargin

  /** BPE-ish subword count per document (words + extra units per 4 chars
    * beyond the first). */
  def subwordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  val subwordCountSql: String =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    x -> 1 + CAST(FLOOR(GREATEST(length(x) - 1, 0) / 4) AS BIGINT))) AS BIGINT) AS n_subwords
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Fixed "pretrained" merge table for [[bpeEncode]] — applying a
    * shipped tokenizer is the production per-row op (training one is
    * [[graft.pipeline.Bpe.train]] / q_bpe_pairs). The chain t→a→ta→b→
    * tab→le→table exercises multi-level merges where a merged symbol
    * re-participates in later rules. */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "s" -> "t", "l" -> "e",
    "t" -> "a", "ta" -> "b", "tab" -> "le", "v" -> "a", "va" -> "l",
    "val" -> "u", "valu" -> "e")

  /** BPE encode (tokenizer APPLY): segment every word of every document
    * with the merge table — a chain of native [[graft.functions.MergePair]]
    * single-scan codegen'd expressions over the word's symbol array,
    * then one partial-aggregated groupBy(doc_id). The merge table rides
    * in the closure (it is the tokenizer, O(vocab) — tiny); the corpus
    * is scanned exactly once and nothing shuffles before the per-doc
    * count aggregate. At 100 TB this is the tokenize-and-count pass of
    * a training-data pipeline. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val encoded = bpeMerges.foldLeft(split(col("w"), ""): org.apache.spark.sql.Column) {
      case (c, (x, y)) => Bpe.mergeFold(c, x, y)
    }
    words.select(col("doc_id"), size(encoded).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bpe_tokens"), count(lit(1)).as("n_words"))
      .orderBy("doc_id")
  }

  /** Oracle: greedy left-to-right non-overlapping pair-merging equals a
    * chained REPLACE over a '|'-delimited symbol string ('|' never
    * occurs in the corpus): with R(syms) = '|'+join(syms,'||')+'|',
    * replacing R([x,y]) with R([xy]) consumes exactly one boundary at
    * exactly the positions the greedy scan merges (REPLACE also scans
    * left-to-right non-overlapping and resumes after the match — run
    * and overlap edge cases verified against MergePair in BpeSpec). */
  val bpeEncodeSql: String = {
    val chain = bpeMerges.foldLeft(
      "'|' || array_to_string(string_split(w, ''), '||') || '|'") {
      case (acc, (x, y)) => s"replace($acc, '|$x||$y|', '|$x$y|')"
    }
    s"""WITH w AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |    x -> length(x) > 0)) AS w
       |  FROM documents),
       |e AS (SELECT doc_id, $chain AS s FROM w)
       |SELECT doc_id,
       |  CAST(SUM(1 + (length(s) - length(replace(s, '||', ''))) // 2) AS BIGINT) AS n_bpe_tokens,
       |  COUNT(*) AS n_words
       |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top-3 terms per document — the classic corpus-relevance
    * pass (keyword extraction, quality signals, BM25 precursors).
    * Shape: one explode + two partial-aggregated shuffles (term
    * frequency per (doc, tok); document frequency per tok), a shuffled
    * join on tok (AQE broadcasts the df table when it fits — it is
    * O(vocab), so never hint it; cf. q_lm_score round 4), and a
    * doc-partitioned window for the top-k. Ranking is on the ROUNDED
    * score with a token tie-break so the order is engine-independent
    * (round-before-rank). The corpus size N rides in as a literal from
    * parquet row-group metadata (no data scan). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.read(spark, dir, "documents")
    val n = docs.count() // parquet footer count, no column scan
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // deliberately the agg+join shape, NOT a tok-partitioned window:
    // df-per-token via partial aggregation stays skew-safe on hot
    // (stopword) tokens and the join is AQE-skew-splittable, where a
    // window would pin a stopword's whole posting list on one task
    val dfTab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfTab, "tok")
      .withColumn("score",
        round(col("tf") * (log(lit((n + 1).toDouble) / (col("df") + 1)) + 1), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("tok"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("tok"), col("score"), col("rk").cast("long").as("rk"))
      .orderBy("doc_id", "rk")
  }

  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (SELECT doc_id, tok,
      |    ROUND(tf * (LN((n.n + 1.0) / (df + 1.0)) + 1), 6) AS score
      |  FROM tf JOIN dfc USING (tok) CROSS JOIN n),
      |r AS (SELECT doc_id, tok, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
      |  FROM s)
      |SELECT doc_id, tok, score, rk FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Language-ID heuristic: argmax marker-hit ratio, declaration-order
    * tie-break. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  val langIdSql: String = {
    val ratios = TextOps.langMarkers.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"ROUND(CAST(len(list_filter(toks, x -> x IN ($list))) AS DOUBLE) / len(toks), 6) AS r_$l"
    }.mkString(",\n    ")
    // left fold with strictly-greater, mirroring TextOps.langId
    val langs = TextOps.langMarkers.map(_._1)
    val folds = langs.tail.zipWithIndex.map { case (l, i) =>
      val prevP = if (i == 0) s"'${langs.head}'" else s"p$i"
      val prevV = if (i == 0) s"r_${langs.head}" else s"v$i"
      s"CASE WHEN r_$l > $prevV THEN '$l' ELSE $prevP END AS p${i + 1}, " +
        s"CASE WHEN r_$l > $prevV THEN r_$l ELSE $prevV END AS v${i + 1}"
    }
    val n = langs.length - 1
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id,
       |    $ratios
       |  FROM t),
       |${folds.zipWithIndex.map { case (f, i) =>
            val src = if (i == 0) "s" else s"f$i"
            s"f${i + 1} AS (SELECT *, $f FROM $src)"
          }.mkString(",\n")}
       |SELECT doc_id, p$n AS lang_pred FROM f$n ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary statistics: top-100 tokens by total occurrences with
    * document frequency — the corpus-analytics pass tokenizer training
    * starts from. Deterministic ties (count desc, token asc). One
    * shuffle (groupBy token) with partial aggregation; at 100 TB swap
    * `count_distinct` for `approx_count_distinct` (same plan shape,
    * sketch-bounded memory) if exact df is not required. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count("*").as("cnt"), count_distinct(col("doc_id")).as("df"))
      .orderBy(desc("cnt"), asc("tok"))
      .limit(100)

  val vocabTopKSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
      |FROM t GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 100""".stripMargin

  /** Gopher-style repetition metrics per document: duplicate-token
    * fraction, most-frequent-token fraction, most-frequent-bigram
    * fraction — all pure per-row column expressions (narrow scan). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.dupTokenFrac(col("text")).as("dup_tok_frac"),
        TextOps.topTokenFrac(col("text")).as("top_tok_frac"),
        TextOps.topBigramFrac(col("text")).as("top_bigram_frac"))
      .orderBy("doc_id")

  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, toks,
      |  CASE WHEN len(toks) < 2 THEN NULL
      |       ELSE list_transform(generate_series(1, len(toks) - 1),
      |              i -> toks[i] || ' ' || toks[i + 1]) END AS grams
      |  FROM t)
      |SELECT doc_id,
      |  ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_tok_frac,
      |  ROUND(CAST(list_max(list_transform(list_distinct(toks),
      |    t2 -> len(list_filter(toks, x -> x = t2)))) AS DOUBLE) / len(toks), 6) AS top_tok_frac,
      |  CASE WHEN grams IS NULL THEN 0.0
      |       ELSE ROUND(CAST(list_max(list_transform(list_distinct(grams),
      |         g2 -> len(list_filter(grams, x -> x = g2)))) AS DOUBLE) / len(grams), 6)
      |       END AS top_bigram_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** Composed quality filter: first-fail reason per document + keep
    * flag (the C4/Gopher-style pre-training filter pass). */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.filterReason(col("text")).as("reason"))
      .withColumn("keep", col("reason") === "ok")
      .orderBy("doc_id")

  val qualityFilterSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT doc_id, len(toks) AS nt,
       |  ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dupf,
       |  CASE WHEN len(toks) < 2 THEN 0.0
       |       ELSE ROUND(CAST(list_max(list_transform(
       |         list_distinct(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1])),
       |         g2 -> len(list_filter(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1]), x -> x = g2)))) AS DOUBLE)
       |         / (len(toks) - 1), 6) END AS topbg,
       |  ROUND(CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE) / len(toks), 6) AS stopr
       |  FROM t),
       |r AS (SELECT doc_id,
       |  CASE WHEN nt < 25 THEN 'too_short'
       |       WHEN dupf > 0.65 THEN 'repetitive_tokens'
       |       WHEN topbg > 0.06 THEN 'dominant_bigram'
       |       WHEN stopr < 0.01 THEN 'low_stopword'
       |       ELSE 'ok' END AS reason
       |  FROM m)
       |SELECT doc_id, reason, reason = 'ok' AS keep FROM r ORDER BY doc_id""".stripMargin

  /** Adaptive per-language quality thresholding: within each language,
    * keep documents above the 30th percentile of the quality score —
    * the data-driven filter cut a pipeline uses instead of fixed global
    * thresholds (score distributions differ by language). Rank by
    * (rounded score, doc_id) so the percentile is deterministic across
    * engines. The window is PARTITIONED by language — never global (a
    * global rank cannot scale and `PlanAuditSpec` forbids it); at
    * corpus scale a language's percentile cut would come from a
    * per-group `approxQuantile` sketch and the filter stays a narrow
    * predicate — same output contract. */
  def qualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy("lang").orderBy(col("q"), col("doc_id"))
    scored
      .withColumn("pct", round(percent_rank().over(w), 6))
      .filter(col("pct") >= 0.3)
      .orderBy("doc_id")
  }

  val qualityPercentileSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks, text FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |    len(toks) AS n_tokens,
       |    CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE) / len(toks) AS stop,
       |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct
       |  FROM t),
       |s AS (
       |  SELECT doc_id, lang,
       |    ROUND(0.4 * LEAST(1.0, n_tokens / 50.0)
       |        + 0.4 * (1.0 - LEAST(1.0, ABS(stop - 0.12) / 0.5))
       |        + 0.2 * (1.0 - LEAST(1.0, punct * 5.0)), 6) AS q
       |  FROM m),
       |r AS (
       |  SELECT doc_id, lang, q,
       |    ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY q, doc_id), 6) AS pct
       |  FROM s)
       |SELECT doc_id, lang, q, pct FROM r WHERE pct >= 0.3 ORDER BY doc_id""".stripMargin

  /** Unigram language-model score per document (CCNet-style quality
    * signal): mean log10 of each token's corpus frequency. Two passes:
    * a token-frequency aggregation (vocab-sized — at 100 TB the vocab
    * is billions of tokens, so the join back to postings is a plain
    * shuffled join on `tok`; AQE broadcasts only when it actually
    * fits), then a postings-join + per-doc mean. Rare-token-heavy documents score
    * low; repetitive common-token documents score high — the signal a
    * perplexity filter thresholds on. Token order inside a doc does
    * not matter, so the mean is computed as an aggregate (no fold-order
    * divergence; round 6 on output). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val post = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = post.groupBy("tok").agg(count("*").as("tf"))
    // total postings = sum of term frequencies — a broadcast 1-row
    // scalar INSIDE the plan (an eager head() here would execute the
    // whole post→freq aggregate once for the scalar and again for the
    // joins — the q_lm_perplexity lesson, r18)
    val tot = freq.agg(sum(col("tf")).cast("double").as("__total"))
    // no broadcast hint: at 100 TB the vocabulary is billions of tokens
    // (see Dedup's md5 token-id rationale); a shuffled join is the
    // scale-safe default and AQE broadcasts when freq actually fits
    post.join(freq, "tok")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(log10(col("tf").cast("double") / col("__total"))), 6)
        .as("lm_score"))
      .orderBy("doc_id")
  }

  val lmScoreSql: String =
    """WITH p AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |f AS (SELECT tok, COUNT(*) AS tf FROM p GROUP BY 1),
      |n AS (SELECT COUNT(*) AS total FROM p)
      |SELECT doc_id,
      |  ROUND(AVG(LOG10(CAST(tf AS DOUBLE) / total)), 6) AS lm_score
      |FROM p JOIN f USING (tok) CROSS JOIN n
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bigram interpolated language-model score per document — the
    * KenLM-shaped perplexity signal one tier above [[lmScore]]'s
    * unigram: mean log10(0.7 * P(w2|w1) + 0.3 * P(w2)) over each doc's
    * adjacent token pairs, with P(w2|w1) = c(w1 w2)/c(w1) and
    * P(w2) = c(w2)/N estimated from the corpus itself. Bigram strings
    * come from the native single-scan [[graft.functions.AdjacentPairs]]
    * expression (the BPE trainer's pair kernel, reused). Both frequency
    * tables are corpus aggregates — O(vocab) and O(vocab²-bounded)
    * respectively, so neither is broadcast-hinted (the q_lm_score
    * round-4 lesson): plain shuffled joins on the token keys, AQE
    * broadcasts only when a side actually fits. Token order inside a
    * doc never matters to the mean, so no fold-order divergence. */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val post = docs.select(explode(col("toks")).as("tok"))
    val uf = post.groupBy("tok").agg(count(lit(1)).as("uc"))
    // total postings as a broadcast 1-row scalar INSIDE the plan —
    // an eager head() here would build the vocab aggregate twice
    // (once for the scalar job, once for the joins)
    val tot = uf.agg(sum(col("uc")).cast("double").as("tot"))
    val bg = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.adjacentPairs(col("toks")))
          .as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val bf = bg.groupBy("bg").agg(count(lit(1)).as("bc"))
    bg.join(bf, "bg")
      .join(uf.withColumnRenamed("tok", "w1").withColumnRenamed("uc", "uc1"), "w1")
      .join(uf.withColumnRenamed("tok", "w2").withColumnRenamed("uc", "uc2"), "w2")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(log10(
        lit(0.7) * col("bc").cast("double") / col("uc1")
          + lit(0.3) * col("uc2").cast("double") / col("tot"))), 6)
        .as("lm_bigram"))
      .orderBy("doc_id")
  }

  val lmPerplexitySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |b AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(toks) - 1),
      |          i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |      FROM t WHERE len(toks) >= 2),
      |uf AS (SELECT tok, COUNT(*) AS uc FROM p GROUP BY 1),
      |bf AS (SELECT bg, COUNT(*) AS bc FROM b GROUP BY 1),
      |n AS (SELECT COUNT(*) AS total FROM p)
      |SELECT doc_id,
      |  ROUND(AVG(LOG10(0.7 * CAST(bc AS DOUBLE) / u1.uc
      |               + 0.3 * CAST(u2.uc AS DOUBLE) / total)), 6) AS lm_bigram
      |FROM b JOIN bf USING (bg)
      |  JOIN uf u1 ON u1.tok = split_part(bg, ' ', 1)
      |  JOIN uf u2 ON u2.tok = split_part(bg, ' ', 2)
      |  CROSS JOIN n
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Target corpus mixture per source (fractions sum to 1): the
    * data-mixing spec a training run declares. */
  val MixTargets: Map[String, Double] =
    Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  /** Domain-mixture resampling: compute per-source keep rates that
    * reshape the corpus toward [[MixTargets]] (rate_s =
    * min(1, target_s * N / n_s / maxShare) where maxShare normalizes so
    * the largest required rate is 1 — downsample-only mixing), then
    * apply them with the deterministic salted draw. The per-source
    * counts are a tiny aggregate (collected — O(sources) driver rows);
    * the sampling itself stays a pure pushed predicate. Rates round to
    * 6 decimals before the draw compare so both engines cut
    * identically. */
  def mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    // required rate proportional to target/actual share; normalize so
    // max required rate = 1 (pure downsampling, no upsampling)
    val raw = counts.map { case (s, n) =>
      s -> (MixTargets.getOrElse(s, 0.0) * total / n)
    }
    val maxRate = if (raw.isEmpty) 0.0 else raw.values.max
    if (maxRate <= 0.0) {
      // empty corpus, or no present source carries target weight: the
      // mixed corpus is empty (the oracle returns no rows here too)
      docs.groupBy("source").agg(count("*").as("kept")).limit(0)
    } else {
      val rates = raw.map { case (s, r) =>
        s -> BigDecimal(r / maxRate).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }
      Splits.stratifiedSample(docs, "doc_id", "source", rates, salt = "mix")
        .groupBy("source").agg(count("*").as("kept"))
        .orderBy("source")
    }
  }

  val mixtureSql: String = {
    val draw = s"(CAST(${Dedup.tokenIdSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) / ${Dedup.MinhashP})"
    val targets = MixTargets.toSeq.sortBy(_._1).map { case (s, t) =>
      s"('$s', CAST($t AS DOUBLE))"
    }.mkString(", ")
    s"""WITH tgt (source, target) AS (VALUES $targets),
       |cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(n) AS total FROM cnt),
       |raw AS (
       |  SELECT cnt.source, COALESCE(tgt.target, 0.0) * tot.total / cnt.n AS r
       |  FROM cnt LEFT JOIN tgt USING (source) CROSS JOIN tot),
       |mx AS (SELECT MAX(r) AS mr FROM raw),
       |rates AS (SELECT source, ROUND(r / mx.mr, 6) AS rate FROM raw CROSS JOIN mx)
       |SELECT d.source, COUNT(*) AS kept
       |FROM documents d JOIN rates ON d.source = rates.source
       |WHERE $draw < rates.rate
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Sequence packing: assign documents (in doc_id order, per language)
    * to fixed-budget training bins of 512 tokens — the packing step
    * that turns a curated corpus into training sequences. Bin id = floor of
    * the running token count before the doc / budget; the cumulative
    * sum windows PER LANGUAGE (shard-local packing — a global running
    * sum cannot scale and `PlanAuditSpec` forbids the unpartitioned
    * window). Output: (doc_id, lang, n_tokens, bin, offset). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // exact integer division (`/` on longs is lossy double division
        // above 2^53 — must match the oracle's `//`)
        expr(s"cum div $budget").as("bin"),
        (col("cum") % budget).as("offset"))
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum
      |  FROM t)
      |SELECT doc_id, lang, n_tokens, cum // 512 AS bin, cum % 512 AS offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** Tokenize-and-pack, the composed training-batch prep pass: BPE
    * token counts (the [[bpeEncode]] merge-table chain — real tokenizer
    * lengths, not whitespace counts) drive the per-language cumulative
    * packing of [[packSequences]]. One narrow tokenize scan, one
    * partitioned window — the end-to-end shape of "turn a curated
    * corpus into fixed-budget training sequences". */
  def tokenizePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 1024L
    val words = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val encoded = bpeMerges.foldLeft(
      split(col("w"), ""): org.apache.spark.sql.Column) {
      case (c, (x, y)) => Bpe.mergeFold(c, x, y)
    }
    val counts = words
      .select(col("doc_id"), col("lang"), size(encoded).as("n"))
      .groupBy("doc_id", "lang")
      .agg(sum("n").as("n_bpe_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum",
        sum(col("n_bpe_tokens")).over(w) - col("n_bpe_tokens"))
      .select(col("doc_id"), col("lang"), col("n_bpe_tokens"),
        expr(s"cum div $budget").as("bin"),
        (col("cum") % budget).as("offset"))
      .orderBy("doc_id")
  }

  val tokenizePackSql: String = {
    val chain = bpeMerges.foldLeft(
      "'|' || array_to_string(string_split(w, ''), '||') || '|'") {
      case (acc, (x, y)) => s"replace($acc, '|$x||$y|', '|$x$y|')"
    }
    s"""WITH w AS (
       |  SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
       |    x -> length(x) > 0)) AS w
       |  FROM documents),
       |e AS (SELECT doc_id, lang, $chain AS s FROM w),
       |t AS (
       |  SELECT doc_id, lang,
       |    CAST(SUM(1 + (length(s) - length(replace(s, '||', ''))) // 2) AS BIGINT)
       |      AS n_bpe_tokens
       |  FROM e GROUP BY 1, 2),
       |c AS (
       |  SELECT doc_id, lang, n_bpe_tokens,
       |    CAST(SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_bpe_tokens AS BIGINT) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_bpe_tokens, cum // 1024 AS bin, cum % 1024 AS offset
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Deterministic per-language stratified sampling: en at 50%, other
    * languages at 25% — the data-mixing downsampling pass. Pure
    * projection (md5-derived salted draw), reproducible anywhere. */
  val SampleRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.25)

  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Splits.stratifiedSample(Tables.read(spark, dir, "documents"),
        "doc_id", "lang", SampleRates)
      .select("doc_id", "lang").orderBy("doc_id")

  val sampleStratifiedSql: String = {
    val u = s"(CAST(${Dedup.tokenIdSql("'smp:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) / ${Dedup.MinhashP})"
    s"""SELECT doc_id, lang FROM documents
       |WHERE $u < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END
       |ORDER BY doc_id""".stripMargin
  }

  /** Weighted sampling without replacement ([[Splits.weightedSample]],
    * Efraimidis–Spirakis): 100 docs drawn with probability proportional
    * to n_chars. The md5-derived uniforms make the exact selection — not
    * just its size — oracle-checkable; keys are rounded before the
    * doc_id-tie-broken rank, per the determinism rules. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Splits.weightedSample(Tables.read(spark, dir, "documents"),
        "doc_id", "n_chars", k = 100)
      .select(col("doc_id"), col("lang"), col("n_chars").as("w"),
        col("es_key"))
      .orderBy("es_key", "doc_id")

  val sampleWeightedSql: String = {
    val u = s"((${Dedup.tokenIdSql("'wsmp:' || CAST(doc_id AS VARCHAR)")} + 1.0) / ${Dedup.MinhashP + 1}.0)"
    s"""WITH h AS (
       |  SELECT doc_id, lang, n_chars AS w,
       |    ROUND(-LN($u) / n_chars, 9) AS es_key
       |  FROM documents)
       |SELECT doc_id, lang, w, es_key FROM h
       |ORDER BY es_key, doc_id LIMIT 100""".stripMargin
  }

  /** Deterministic training-export manifest ([[Splits.exportManifest]]
    * — the "global shuffle then shard" step before a training run):
    * every document's shard and within-shard order derive from a
    * salted content-id hash, so any rerun on any cluster layout
    * produces identical shards; the manifest row per shard (count,
    * n_chars payload budget, order-insensitive exact-integer content
    * fingerprint) is what the training job checks before reading. The
    * oracle recomputes shard assignment AND the md5-sum fingerprint
    * from scratch, so a row landing in the wrong shard, dropped,
    * doubled, or with mutated text all hash-mismatch. */
  def exportManifest(spark: SparkSession, dir: String): DataFrame =
    Splits.exportManifest(Tables.read(spark, dir, "documents"),
        "doc_id", "text", "n_chars", nShards = 8)
      .orderBy("shard")

  val exportManifestSql: String = {
    val h = Dedup.tokenIdSql("'exp:' || CAST(doc_id AS VARCHAR)")
    val fp = Dedup.tokenIdSql("CAST(doc_id AS VARCHAR) || ':' || md5(text)")
    s"""SELECT CAST($h % 8 AS INT) AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(n_chars) AS BIGINT) AS payload,
       |  CAST(SUM($fp) AS BIGINT) AS fp
       |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin
  }

  /** Edit-distance near-dup pairs over the near-dup corpus
    * ([[Dedup.editNearDup]]): prefix-24 blocking pairs each doc with its
    * truncated copy (suffix edits preserve the block key), full-text
    * Levenshtein scores the pair. Blocks are capped at 64 docs — the
    * boilerplate-prefix guard that keeps any one block from going
    * quadratic at corpus scale. Full-text Levenshtein is O(len²) per
    * pair; for long-document corpora pass a `maxLen` truncation to
    * [[Dedup.editNearDup]] so one long-doc block can't dominate. */
  def dedupEdit(spark: SparkSession, dir: String): DataFrame =
    Dedup.editNearDup(nearDupCorpus(spark, dir), "doc_id", "text",
        prefixLen = 24, maxBucket = 64, maxDist = 60)
      .orderBy("ida", "idb")

  // lazy: nearDupCorpusSql is declared further down this object.
  lazy val dedupEditSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |k AS (SELECT doc_id AS id, text, substr(text, 1, 24) AS bkey FROM c),
       |ok AS (SELECT bkey FROM k GROUP BY bkey
       |       HAVING COUNT(*) BETWEEN 2 AND 64),
       |kk AS (SELECT k.id, k.text, k.bkey FROM k JOIN ok USING (bkey))
       |SELECT a.id AS ida, b.id AS idb,
       |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
       |FROM kk a JOIN kk b ON a.bkey = b.bkey AND a.id < b.id
       |WHERE levenshtein(a.text, b.text) <= 60
       |ORDER BY 1, 2""".stripMargin

  /** Chunk (paragraph-level) exact dedup over a corpus with injected
    * boilerplate: docs < 200 plus 32-token-prefix copies at +5000.
    * Every 16-token chunk labeled with its first occurrence. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val corpus = d.union(d.select((col("doc_id") + 5000).as("doc_id"),
      array_join(slice(toks, 1, 32), " ").as("text")))
    Dedup.chunkDedup(corpus, "doc_id", "text", 16)
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkDedupSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 5000, array_to_string(string_split(text, ' ')[1:32], ' ')
       |  FROM documents WHERE doc_id < 200),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM c),
       |ch AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, CAST(CEIL(len(toks) / 16.0) AS INTEGER) - 1)) AS chunk_idx,
       |    toks
       |  FROM d),
       |ck AS (
       |  SELECT doc_id, chunk_idx,
       |    array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') AS chunk
       |  FROM ch),
       |kk AS (
       |  SELECT doc_id, chunk_idx,
       |    MIN(doc_id * ${Dedup.ChunkKeyBase} + chunk_idx)
       |      OVER (PARTITION BY md5(chunk)) AS k
       |  FROM ck)
       |SELECT doc_id, chunk_idx,
       |  k // ${Dedup.ChunkKeyBase} AS keeper_doc,
       |  k % ${Dedup.ChunkKeyBase} AS keeper_idx
       |FROM kk ORDER BY doc_id, chunk_idx""".stripMargin

  /** SemDeDup-style semantic dedup: k-means-trained clusters scope the
    * near-dup search; within-cluster cosine >= 0.15 pairs collapse to
    * the minimum-id keeper. Composes the trained codebook (shared with
    * q_kmeans / q_ann_ivf_kmeans) into the dedup family. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = trainedCentroids(spark, dir)
      .groupBy(_._1).toSeq
      .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3)) }
      .toDF("cid", "cvec")
    Similarity.semanticNearDup(emb, centroids, 0.15).orderBy("id")
  }

  // lazy: kmeansCtes is declared later in this object (declaration-order
  // initialization would otherwise interpolate null)
  lazy val semDedupSql: String =
    s"""WITH $kmeansCtes,
       |n AS (SELECT vec_id, SQRT(n2) AS nrm FROM vv),
       |cn AS (SELECT cid, SQRT(SUM(v * v)) AS nrm FROM c2 GROUP BY 1),
       |cc AS (
       |  SELECT u.vec_id AS id, c.cid,
       |    ROUND(SUM(u.v * c.v) / (MAX(n.nrm) * MAX(cn.nrm)), 5) AS ccos
       |  FROM u JOIN c2 c USING (i)
       |  JOIN n ON n.vec_id = u.vec_id
       |  JOIN cn ON cn.cid = c.cid
       |  GROUP BY 1, 2),
       |assigned AS (
       |  SELECT id, cid FROM (
       |    SELECT id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
       |    FROM cc) WHERE rk = 1),
       |pr AS (
       |  SELECT a.id AS ida, b.id AS idb
       |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id < b.id),
       |d AS (
       |  SELECT pr.ida, pr.idb,
       |    ROUND(SUM(ua.v * ub.v) / (MAX(na.nrm) * MAX(nb.nrm)), 5) AS cos
       |  FROM pr
       |  JOIN u ua ON ua.vec_id = pr.ida
       |  JOIN u ub ON ub.vec_id = pr.idb AND ua.i = ub.i
       |  JOIN n na ON na.vec_id = pr.ida
       |  JOIN n nb ON nb.vec_id = pr.idb
       |  GROUP BY 1, 2),
       |p2 AS (SELECT idb AS id, MIN(ida) AS partner FROM d WHERE cos >= 0.15 GROUP BY 1)
       |SELECT e.vec_id AS id,
       |  LEAST(e.vec_id, COALESCE(p2.partner, e.vec_id)) AS keeper
       |FROM embeddings e LEFT JOIN p2 ON p2.id = e.vec_id
       |ORDER BY id""".stripMargin

  /** BPE merge-candidate counting (round 1): adjacent character-pair
    * frequencies over all corpus words, top 30 (count desc, pair asc).
    * The distributed half of tokenizer training; the merge loop itself
    * is [[Bpe.train]] (spec-pinned). */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Bpe.pairCounts(Tables.read(spark, dir, "documents"), "text")
      .orderBy(desc("cnt"), asc("pair")).limit(30)

  val bpePairsSql: String =
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
      |    i -> substring(w, i, 2))) AS pair
      |  FROM w WHERE length(w) >= 2)
      |SELECT pair, COUNT(*) AS cnt FROM p
      |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  /** Corpus with deterministic synthetic PII appended (both engines
    * construct it identically): every 3rd doc gains an email, every 7th
    * a 10-digit phone-like number. */
  private def piiCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(""),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call "), (lit(5551234000L) + col("doc_id")).cast("string")))
            .otherwise("")).as("text"))

  private val piiCorpusSql =
    """SELECT doc_id, text ||
      |  CASE WHEN doc_id % 3 = 0
      |       THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0
      |       THEN ' call ' || CAST(5551234000 + doc_id AS VARCHAR) ELSE '' END AS text
      |FROM documents""".stripMargin

  /** PII scrub: per-document pattern counts + the md5 of the redacted
    * text (emails, long digit runs -> placeholders). Pure regexp
    * projections — the redaction pass of a pre-training pipeline. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiCorpus(spark, dir).select(col("doc_id"),
      TextOps.patternCount(col("text"), TextOps.piiRules(0)._2).as("n_email"),
      TextOps.patternCount(col("text"), TextOps.piiRules(1)._2).as("n_number"),
      md5(TextOps.redact(col("text"))).as("fp"))
      .orderBy("doc_id")

  val piiScrubSql: String = {
    val email = TextOps.piiRules(0)._2
    val num = TextOps.piiRules(1)._2
    s"""WITH c AS ($piiCorpusSql)
       |SELECT doc_id,
       |  CAST(len(regexp_split_to_array(text, '$email')) - 1 AS BIGINT) AS n_email,
       |  CAST(len(regexp_split_to_array(text, '$num')) - 1 AS BIGINT) AS n_number,
       |  md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |      '$num', '<NUM>', 'g')) AS fp
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** The composed curation pipeline in ONE narrow pass — the common
    * 100 TB shape: quality filter -> deterministic stratified sample ->
    * split assignment -> PII redaction + scoring, all pure
    * projections/filters over a single scan (no shuffle anywhere
    * except the presentation sort). Certifies that the text-pipeline
    * operators COMPOSE: a kept row carries its language, split, quality
    * score and redacted-content fingerprint. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(""),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call "), (lit(5551234000L) + col("doc_id")).cast("string")))
            .otherwise("")).as("text"))
    d.withColumn("reason", TextOps.filterReason(col("text")))
      .filter(col("reason") === "ok")
      .filter(Splits.sampleDraw(col("doc_id")) <
        Splits.sampleRate(col("lang"), SampleRates, 0.0))
      .select(col("doc_id"), col("lang"),
        Splits.splitColumn(col("doc_id"),
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0))).as("split"),
        TextOps.qualityScore(col("text")).as("q"),
        md5(TextOps.redact(col("text"))).as("fp"))
      .orderBy("doc_id")
  }

  lazy val curateSql: String = {
    val email = TextOps.piiRules(0)._2
    val num = TextOps.piiRules(1)._2
    val draw = s"(CAST(${Dedup.tokenIdSql("'smp:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) / ${Dedup.MinhashP})"
    val u = s"(CAST(${Dedup.tokenIdSql("CAST(doc_id AS VARCHAR)")} AS DOUBLE) / ${Dedup.MinhashP})"
    s"""WITH c AS (
       |  SELECT doc_id, lang, text ||
       |    CASE WHEN doc_id % 3 = 0
       |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' call ' || CAST(5551234000 + doc_id AS VARCHAR) ELSE '' END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM c),
       |m AS (SELECT doc_id, lang, text, len(toks) AS nt,
       |  ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dupf,
       |  CASE WHEN len(toks) < 2 THEN 0.0
       |       ELSE ROUND(CAST(list_max(list_transform(
       |         list_distinct(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1])),
       |         g2 -> len(list_filter(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1]), x -> x = g2)))) AS DOUBLE)
       |         / (len(toks) - 1), 6) END AS topbg,
       |  ROUND(CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE) / len(toks), 6) AS stopr,
       |  CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE) / len(toks) AS stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
       |    / length(text) AS punct
       |  FROM t),
       |kept AS (
       |  SELECT * FROM m
       |  WHERE NOT (nt < 25) AND NOT (dupf > 0.65) AND NOT (topbg > 0.06)
       |    AND NOT (stopr < 0.01)
       |    AND $draw < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END)
       |SELECT doc_id, lang,
       |  CASE WHEN $u < 0.8 THEN 'train'
       |       WHEN $u < 0.9 THEN 'val'
       |       ELSE 'test' END AS split,
       |  ROUND(0.4 * LEAST(1.0, nt / 50.0)
       |      + 0.4 * (1.0 - LEAST(1.0, ABS(stop - 0.12) / 0.5))
       |      + 0.2 * (1.0 - LEAST(1.0, punct * 5.0)), 6) AS q,
       |  md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |      '$num', '<NUM>', 'g')) AS fp
       |FROM kept ORDER BY doc_id""".stripMargin
  }

  /** Unicode NFC canonicalization (native [[graft.functions.NormalizeNfc]]
    * expression, java.text.Normalizer under codegen) — every row is
    * made to exercise real composition by appending a DECOMPOSED
    * "e"+U+0301, which NFC must collapse into one code point ("é")
    * before the fingerprint; the md5 then certifies byte-identical
    * canonical forms across engines (DuckDB's utf8proc vs the JDK).
    * Narrow scan, no shuffle — canonicalize-before-hash is the first
    * pass of any multilingual dedup pipeline. */
  def normalizeNfcQ(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"), lit("e\u0301"))
    val nfc = graft.functions.TextFunctions.normalizeNfc(raw)
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), length(raw).as("len_raw"),
        length(nfc).as("len_nfc"), md5(nfc).as("fp"))
      .orderBy("doc_id")
  }

  val normalizeNfcSql: String =
    """SELECT doc_id, length(text || 'e' || chr(769)) AS len_raw,
      |  length(nfc_normalize(text || 'e' || chr(769))) AS len_nfc,
      |  md5(nfc_normalize(text || 'e' || chr(769))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Content fingerprint (md5 hex). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"

  /** Corpus statistics per source. */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .groupBy("source")
      .agg(count("*").as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        round(avg(TextOps.tokenCount(col("text"))), 6).as("avg_tokens"))
      .orderBy("source")

  val docStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  ROUND(AVG(n_chars), 6) AS avg_chars,
      |  ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- deduplication ----------

  /** Corpus with exact duplicates injected (both engines construct it
    * identically): documents plus a full shifted copy. */
  private def doubledCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    d.union(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private val doubledCorpusSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents""".stripMargin

  /** Exact dedup over the doubled corpus: (id, keeper). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(doubledCorpus(spark, dir), "doc_id", "text")
      .withColumnRenamed("doc_id", "id").orderBy("id")

  val dedupExactSql: String =
    s"""WITH c AS ($doubledCorpusSql)
       |SELECT doc_id AS id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |FROM c ORDER BY id""".stripMargin

  /** Near-duplicate corpus: first 150 docs plus truncated copies
    * (last 3 tokens dropped) at id+10000. */
  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
      .filter(col("doc_id") < 150).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    d.union(d.select((col("doc_id") + 10000).as("doc_id"),
      array_join(slice(toks, lit(1), greatest(size(toks) - 3, lit(1))), " ").as("text")))
  }

  private val nearDupCorpusSql =
    """SELECT doc_id, text FROM documents WHERE doc_id < 150
      |  UNION ALL
      |  SELECT doc_id + 10000,
      |    array_to_string(string_split(text, ' ')[1:GREATEST(len(string_split(text, ' ')) - 3, 1)], ' ')
      |  FROM documents WHERE doc_id < 150""".stripMargin

  /** Document-frequency cap for the near-dup queries: tokens present in
    * more than this many documents are excluded from similarity (hot-token
    * filtering — the join-group bound that makes the inverted index safe
    * at corpus scale). Both engines apply it identically. */
  val HotTokenCap: Long = 200L

  /** Capped (id, tok) postings over the near-dup corpus, oracle side. */
  private val cappedPostingsSql =
    s"""t0 AS (SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM c),
       |keep AS (SELECT tok FROM t0 GROUP BY tok HAVING COUNT(*) <= $HotTokenCap),
       |t AS (SELECT t0.id, t0.tok FROM t0 JOIN keep USING (tok))""".stripMargin

  /** Dedup-family shared working set per (session, dir): the capped
    * (id, tok) postings over the near-dup corpus and the verified
    * Jaccard pairs, both persisted. q_dedup_jaccard, q_dedup_minhash,
    * q_dedup_components and q_clean_pipeline all consume these instead
    * of re-deriving them from parquet (the round-2 bench recomputed the
    * pair join three times per run). Same lifecycle as
    * [[Queries.columnar]]: built once ([[Memo.once]]), unpersisted by
    * [[Queries.clearCache]] at end of a Verify/Bench run. */
  private final case class DedupWorkingSet(post: DataFrame, pairs: DataFrame) {
    /** Component labels over the pairs — runs the iterative CC loop on
      * first use (localCheckpoint-backed, so no extra persist needed). */
    lazy val comps: DataFrame = Dedup.connectedComponents(pairs)

    def unpersist(): Unit = {
      post.unpersist(blocking = false)
      pairs.unpersist(blocking = false)
    }
  }

  private def dedupShared(spark: SparkSession, dir: String): DedupWorkingSet =
    Memo.once(("dedup", spark, dir), (ws: DedupWorkingSet) => ws.unpersist()) {
      val post = Dedup.cappedPostings(nearDupCorpus(spark, dir),
        "doc_id", "text", HotTokenCap).persist()
      val pairs = Dedup.jaccardFromPostings(post, 0.5).persist()
      DedupWorkingSet(post, pairs)
    }

  /** Token-set Jaccard near-dup pairs (inverted-index join), j >= 0.5,
    * hot tokens (df > cap) excluded on both sides. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupShared(spark, dir).pairs.orderBy("ida", "idb")

  val dedupJaccardSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |$cappedPostingsSql,
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS i
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON ida = sa.id
       |JOIN sizes sb ON idb = sb.id
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  /** Word 3-gram shingle Jaccard near-dup pairs — the n>1 shingle path
    * (documents shorter than 3 tokens contribute no shingles; both
    * engines agree). */
  def dedupJaccard3(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(nearDupCorpus(spark, dir), "doc_id", "text", 3, 0.5,
      HotTokenCap)
      .orderBy("ida", "idb")

  val dedupJaccard3Sql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |tk AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM c),
       |t0 AS (
       |  SELECT id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> array_to_string(toks[i:i+2], ' ')))) AS tok
       |  FROM tk WHERE len(toks) >= 3),
       |keep AS (SELECT tok FROM t0 GROUP BY tok HAVING COUNT(*) <= $HotTokenCap),
       |t AS (SELECT t0.id, t0.tok FROM t0 JOIN keep USING (tok)),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS i
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON ida = sa.id
       |JOIN sizes sb ON idb = sb.id
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  /** Incremental Jaccard ingest AT REST, oracle-certified end to end:
    * the near-dup corpus is split into three disjoint shards by
    * doc_id % 3 (each truncated copy at id+10000 lands in a DIFFERENT
    * shard than its original, so the near-dup pairs only exist across
    * folds), built as init + two [[Dedup.jaccardRestMerge]] folds of
    * the bucket-partitioned on-disk working set, then resolved with
    * [[Dedup.jaccardRestPairs]]. The oracle is the FULL-corpus Jaccard
    * SQL — the same oracle as q_dedup_jaccard — certifying that
    * incremental ingest converges to exactly the batch answer (the
    * TextOpsSpec equivalence, now through the DuckDB gate). The set is
    * on-disk state under target/tmp, built once per JVM, so the bench's
    * untimed warm pass absorbs the init+folds and the timed pass
    * measures the pairs RESOLVE. */
  def dedupJaccardRest(spark: SparkSession, dir: String): DataFrame = {
    val st = Memo.once(("jacrest", spark, dir)) {
      val path = "target/tmp/jacrest-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val corpus = nearDupCorpus(spark, dir)
      val st0 = Dedup.jaccardRestInit(
        corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        0.5, HotTokenCap, path)
      val st1 = Dedup.jaccardRestMerge(st0,
        corpus.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      Dedup.jaccardRestMerge(st1,
        corpus.filter(col("doc_id") % 3 === 2), "doc_id", "text")
    }
    Dedup.jaccardRestPairs(spark, st).orderBy("ida", "idb")
  }

  // same answer as the full-corpus batch operator, by design
  val dedupJaccardRestSql: String = dedupJaccardSql

  /** KMV (k-minimum-values) distinct sketch: per-language distinct-
    * token estimate from the k = 64 smallest md5-derived hashes — the
    * mergeable bottom-k sketch a 100 TB profile pass uses instead of
    * an exact COUNT(DISTINCT) shuffle of the whole token space. The
    * estimator ((k-1) / kth-smallest normalized hash) is deterministic
    * — both engines hash with md5 and take the same 12 hex digits — so
    * the sketch itself is oracle-checkable, not just its error bound;
    * the exact distinct count rides along to make the error visible.
    * [[Sketches.kmvSketch]] builds the bottom-k and
    * [[Sketches.kmvEstimate]] reads it. */
  def distinctKmv(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.read(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    Sketches.kmvEstimate(Sketches.kmvSketch(toks, "lang", "tok", k), k)
      .withColumnRenamed("g", "lang")
      .join(toks.groupBy("lang").agg(count(lit(1)).as("n_distinct")), "lang")
      .select("lang", "n_distinct", "est_distinct")
      .orderBy("lang")
  }

  val distinctKmvSql: String =
    """WITH t0 AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |t AS (SELECT DISTINCT lang, tok FROM t0),
      |h AS (SELECT lang,
      |        CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
      |      FROM t),
      |r AS (SELECT lang, h,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
      |      FROM h),
      |s AS (SELECT lang, COUNT(*) AS n, MAX(h) AS kth
      |      FROM r WHERE rk <= 64 GROUP BY lang),
      |x AS (SELECT lang, COUNT(*) AS n_distinct FROM t GROUP BY lang)
      |SELECT s.lang, x.n_distinct,
      |  CAST(CASE WHEN s.n < 64 THEN s.n
      |       ELSE ROUND(63.0 * 281474976710656 / CAST(s.kth AS DOUBLE))
      |       END AS BIGINT) AS est_distinct
      |FROM s JOIN x ON s.lang = x.lang ORDER BY s.lang""".stripMargin

  /** Conjunctive search terms for q_search_conj — co-occurring but
    * selective over the synthetic vocabulary. */
  val SearchTerms: Seq[String] = Seq("window", "merge", "vector")

  /** Per-JVM at-rest search index ([[Search.writeIndex]]), memoized per
    * (session, sf dir) like the other at-rest fixtures: the bench's
    * untimed warm pass absorbs the build, the timed pass measures the
    * SERVE path. The on-disk path carries the session's identity hash
    * so two sessions in one JVM never overwrite each other's live
    * index (cache key and path key agree). */
  private def searchIndex(spark: SparkSession, dir: String): Search.Index =
    Memo.once(("searchidx", spark, dir)) {
      Search.writeIndex(Tables.read(spark, dir, "documents"),
        "doc_id", "text", Queries.fixturePath(spark, dir, "searchidx"))
    }

  /** Conjunctive (AND) term search over the at-rest inverted index:
    * docs containing all three terms, scored by summed term frequency.
    * The serve read is partition-pruned to the terms' hash buckets —
    * O(matched postings), never a corpus scan; the oracle recomputes
    * the same conjunction straight from the documents table. */
  def searchConj(spark: SparkSession, dir: String): DataFrame =
    Search.searchAll(spark, searchIndex(spark, dir), SearchTerms)
      .orderBy("id")

  val searchConjSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |           FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |      WHERE tok IN ($termList) GROUP BY 1, 2)
       |SELECT doc_id AS id, CAST(SUM(tf) AS BIGINT) AS score
       |FROM f GROUP BY 1 HAVING COUNT(DISTINCT tok) = ${SearchTerms.length}
       |ORDER BY 1""".stripMargin
  }

  /** BM25-ranked top-20 for the same terms ([[Search.searchBm25]],
    * disjunctive): idf from the bucket-local postings counts, dlen from
    * the norm-in-postings row — the serve path reads |terms| buckets
    * plus one stats row. The oracle recomputes the full BM25 formula
    * (Lucene idf variant, k1=1.2, b=0.75) from the documents table,
    * score rounded before the id-tie-broken rank. */
  def searchBm25(spark: SparkSession, dir: String): DataFrame =
    Search.searchBm25(spark, searchIndex(spark, dir), SearchTerms,
        topK = 20)
      .orderBy(col("score").desc, col("id"))

  val searchBm25Sql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |             unnest(string_split(text, ' ')) AS tok,
       |             len(string_split(text, ' ')) AS dlen
       |           FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin
  }

  /** FILTERED BM25 ([[Search.searchBm25]] with a metadata predicate,
    * r16): the documents table's own columns (lang/source/n_chars)
    * store in the index's docs sidecar at writeIndex, and the
    * predicate semi-joins the candidates BELOW the top-k — Lucene
    * filtered-query semantics: corpus constants and per-term df stay
    * UNFILTERED (a doc's score never changes under a filter), and the
    * top-20 stays full among matching docs where post-filtering an
    * unfiltered top-20 would under-fill. The oracle recomputes the
    * same BM25 formula and restricts candidates by the predicate
    * after scoring. */
  def searchFiltered(spark: SparkSession, dir: String): DataFrame =
    Search.searchBm25(spark, searchIndex(spark, dir), SearchTerms,
        topK = 20, filter = Some(col("lang") === "en"))
      .orderBy(col("score").desc, col("id"))

  val searchFilteredSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |             unnest(string_split(text, ' ')) AS tok,
       |             len(string_split(text, ' ')) AS dlen
       |           FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT sc.id, sc.score FROM sc
       |JOIN documents doc ON sc.id = doc.doc_id
       |WHERE doc.lang = 'en'
       |ORDER BY score DESC, id LIMIT 20""".stripMargin
  }

  /** TYPO-TOLERANT BM25 ([[Search.searchFuzzy]]): each query term
    * expands against the index VOCABULARY within edit distance 1,
    * sharing the first character (Lucene FuzzyQuery's prefix_length,
    * what keeps the dictionary probe pruned), and the variant union
    * serves through the ordinary BM25 path — each variant with its
    * own idf. "windoq"→window and "mergs"→merge are the typo shapes;
    * "ag" fans to BOTH `a` and `agg` (a multi-variant expansion with
    * very different dfs). The oracle replays the expansion with
    * DuckDB's own levenshtein over the same vocabulary, then the
    * full BM25 formula. */
  def searchFuzzy(spark: SparkSession, dir: String): DataFrame =
    Search.searchFuzzy(spark, searchIndex(spark, dir),
        Seq("windoq", "mergs", "ag"), maxDist = 1, topK = 20)
      .orderBy(col("score").desc, col("id"))

  val searchFuzzySql: String =
    s"""WITH vocab AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok
       |    FROM documents)),
       |qe AS (
       |  SELECT DISTINCT v.tok
       |  FROM vocab v, (VALUES ('windoq'), ('mergs'), ('ag')) q(term)
       |  WHERE substr(v.tok, 1, 1) = substr(q.term, 1, 1)
       |    AND levenshtein(v.tok, q.term) <= 1),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** PREFIX search ([[Search.searchPrefix]], Lucene PrefixQuery
    * semantics): `s*` fans to the whole s-family of the vocabulary
    * (scan/small/slow/sort/stream/spark/…) and `win*` to window — the
    * autocomplete retrieval shape — served as one BM25 disjunction
    * over the expanded variants. Oracle replays expansion with LIKE
    * over the same vocabulary, then the BM25 formula. */
  def searchPrefix(spark: SparkSession, dir: String): DataFrame =
    Search.searchPrefix(spark, searchIndex(spark, dir),
        Seq("s", "win"), topK = 20)
      .orderBy(col("score").desc, col("id"))

  val searchPrefixSql: String =
    s"""WITH vocab AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok
       |    FROM documents)),
       |qe AS (
       |  SELECT DISTINCT tok FROM vocab
       |  WHERE tok LIKE 's%' OR tok LIKE 'win%'),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** CAPPED prefix search ([[Search.searchPrefix]] with
    * `maxExpansions` below the fixture's expansion count): `s*` fans
    * to 6 vocabulary tokens but the Lucene-parity rewrite cap keeps
    * only the 3 highest-df variants (df desc, tok asc tie-break) —
    * the knob that bounds a short prefix over a web-scale vocabulary.
    * The oracle replays the df ranking (df = docs containing the
    * token) and the BM25 serve over exactly the capped set. */
  def searchPrefixCapped(spark: SparkSession, dir: String): DataFrame =
    Search.searchPrefix(spark, searchIndex(spark, dir),
        Seq("s"), topK = 20, maxExpansions = 3)
      .orderBy(col("score").desc, col("id"))

  val searchPrefixCappedSql: String =
    s"""WITH t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |vd AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfv
       |       FROM t WHERE tok LIKE 's%' GROUP BY 1),
       |qe AS (SELECT tok FROM vd ORDER BY dfv DESC, tok LIMIT 3),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** CAPPED fuzzy search: "ag" expands (dist 1, shared first char)
    * to BOTH `a` and `agg`, and `maxExpansions = 1` keeps only the
    * higher-df variant — the per-TERM rewrite cap (a multi-variant
    * expansion where the capped result genuinely differs from the
    * uncapped `q_search_fuzzy`). Oracle replays the per-term
    * df-ranked selection with a window, then the BM25 formula. */
  def searchFuzzyCapped(spark: SparkSession, dir: String): DataFrame =
    Search.searchFuzzy(spark, searchIndex(spark, dir),
        Seq("ag"), maxDist = 1, topK = 20, maxExpansions = 1)
      .orderBy(col("score").desc, col("id"))

  val searchFuzzyCappedSql: String =
    s"""WITH t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |vd AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfv
       |       FROM t WHERE tok LIKE 'a%' GROUP BY 1),
       |qe AS (SELECT tok FROM (
       |  SELECT v.tok,
       |    ROW_NUMBER() OVER (PARTITION BY q.term
       |      ORDER BY v.dfv DESC, v.tok) AS rk
       |  FROM vd v JOIN (VALUES ('ag')) q(term)
       |    ON substr(v.tok, 1, 1) = substr(q.term, 1, 1)
       |      AND abs(len(v.tok) - len(q.term)) <= 1
       |      AND levenshtein(v.tok, q.term) <= 1)
       |  WHERE rk <= 1),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** BATCHED prefix search ([[Search.searchPrefixBatch]]): two
    * queries with different prefix sets served in one pass — shared
    * per-prefix df-ranked capped expansion + the batched BM25 pipe.
    * One query uses a cap BELOW its expansion count is not possible
    * per-query (the cap is batch-wide), so the batch runs capped at 3
    * and the oracle replays the same per-prefix df-ranked selection
    * for both queries. */
  def searchPrefixBatchQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (0L, Seq("s")),
      (1L, Seq("win", "me"))).toDF("qid", "prefixes")
    Search.searchPrefixBatch(spark, searchIndex(spark, dir), queries,
        topK = 20, maxExpansions = 3)
      .orderBy("qid", "id")
  }

  val searchPrefixBatchSql: String =
    s"""WITH t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |vd AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfv
       |       FROM t GROUP BY 1),
       |qp AS (SELECT CAST(q AS BIGINT) AS qid, p FROM (VALUES
       |  (0, 's'), (1, 'win'), (1, 'me')) v(q, p)),
       |pe AS (
       |  SELECT p, tok FROM (
       |    SELECT qpd.p, v.tok,
       |      ROW_NUMBER() OVER (PARTITION BY qpd.p
       |        ORDER BY v.dfv DESC, v.tok) AS rk
       |    FROM (SELECT DISTINCT p FROM qp) qpd
       |    JOIN vd v ON v.tok LIKE qpd.p || '%')
       |  WHERE rk <= 3),
       |qe AS (SELECT DISTINCT qid, tok FROM qp JOIN pe USING (p)),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |ptok AS (
       |  SELECT f.doc_id, f.tok,
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n))) AS s
       |  FROM f JOIN d USING (tok), stats),
       |sc AS (
       |  SELECT qe.qid, ptok.doc_id AS id, ROUND(SUM(s), 6) AS score
       |  FROM ptok JOIN qe ON ptok.tok = qe.tok GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id)
       |      AS rk
       |  FROM sc)
       |SELECT qid, id, score FROM r WHERE rk <= 20
       |ORDER BY qid, id""".stripMargin

  /** TABLE → INDEX CDC SYNC ([[IndexSync.syncSearch]]): a Versioned
    * table mutates through upsert (every 5th doc's text gains a
    * token), delete (every 7th doc), and restore (undoing the
    * delete), drained into an at-rest text index across TWO
    * incremental syncs (bootstrap fold + the restore diff) — then
    * BM25 serves from the synced index. The oracle replays the
    * table's RESOLVED current state (upsert wins, delete+restore
    * cancel) and the full BM25 formula over it: any missed delete,
    * double-ingested doc, or drifted corpus constant (N, avgdl ride
    * the marker deltas) hash-mismatches. */
  def tableIndexSync(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"target/tmp/vtable-idxsync-$tag"
    val sp = s"$path-sidx"
    Memo.once(path) {
      Versioned.drop(spark, path)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(sp))
      val docs = Tables.read(spark, dir, "documents")
      Versioned.append(docs.select("doc_id", "text", "lang"), path) // v1
      Versioned.append(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" refreshed")).as("text"),
          col("lang")), path)                                      // v2
      Versioned.delete(docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), path)                                   // v3
      // first drain: bootstrap fold (0, 3] into an EMPTY index
      Search.writeIndex(docs.select("doc_id", "text", "lang").limit(0),
        "doc_id", "text", sp)
      IndexSync.syncSearch(spark, path, "doc_id", "text",
        Search.open(spark, sp))
      Versioned.restore(spark, path, "doc_id", 2)                  // v4
      // second drain: the restore diff re-ingests the 7th docs
      IndexSync.syncSearch(spark, path, "doc_id", "text",
        Search.open(spark, sp))
      ()
    }
    Search.searchBm25(spark, Search.open(spark, sp),
        Seq("window", "merge", "refreshed"), topK = 20)
      .orderBy(col("score").desc, col("id"))
  }

  val tableIndexSyncSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, text, 1 AS v FROM documents
       |  UNION ALL
       |  SELECT doc_id, text || ' refreshed', 2 FROM documents
       |  WHERE doc_id % 5 = 0),
       |cur AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rk
       |    FROM u) WHERE rk = 1),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM cur),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ('window', 'merge', 'refreshed')
       |      GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM cur),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** VECTOR side of the table→index CDC sync
    * ([[IndexSync.syncVector]]): a Versioned table of embeddings
    * mutates through delete, restore (undoing it), and a second
    * delete, drained into a generational IVF index across TWO
    * incremental syncs — the probed serve over the synced index must
    * equal plain IVF over the table's resolved current state (the
    * oracle restricts candidates to the surviving ids; any missed
    * tombstone or double-ingested vector hash-mismatches). Queries
    * are the raw first-50 embeddings (external frames — the query
    * set does not depend on table state). */
  def tableIndexSyncVec(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"target/tmp/vtable-idxsyncvec-$tag"
    val vp = s"$path-vidx"
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("k"), col("embedding").as("vec"))
    Memo.once(path) {
      Versioned.drop(spark, path)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(vp))
      Versioned.append(emb, path)                              // v1
      Versioned.delete(emb.filter(col("k") % 9 === 0)
        .select("k"), path)                                    // v2
      // first drain: bootstrap fold (0, 2] into an EMPTY index
      val centroids = emb.filter(col("k") < 8)
        .select(col("k").as("cid"), col("vec").as("cvec"))
      val vIdx = VecIndex.init(
        emb.limit(0).select(col("k").as("id"), col("vec")), 64, vp,
        centroids = Some(centroids), cbBuckets = 4)
      IndexSync.syncVector(spark, path, "k", "vec", vIdx)
      Versioned.restore(spark, path, "k", 1)                   // v3
      Versioned.delete(emb.filter(col("k") % 7 === 0)
        .select("k"), path)                                    // v4
      // second drain: the restore re-ingests, the delete tombstones
      IndexSync.syncVector(spark, path, "k", "vec",
        VecIndex.open(spark, vp))
      ()
    }
    VecIndex.ivfTopK(spark,
        emb.filter(col("k") < 50).withColumnRenamed("k", "id"),
        VecIndex.open(spark, vp), 2, 3)
      .orderBy("qid", "nid")
  }

  val tableIndexSyncVecSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8", "a.id % 7 <> 0")},
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, nid) AS rk
       |      FROM scored)
       |SELECT qid, nid, cos FROM r WHERE rk <= 3
       |ORDER BY qid, nid""".stripMargin

  /** BATCHED typo-tolerant BM25 ([[Search.searchFuzzyBatch]]): two
    * queries with different typo'd term sets served in ONE pass —
    * the expansion is computed once over the batch vocabulary and
    * shared, then the ordinary batched BM25 pipe (shared df/idf,
    * qid-partitioned ranking) serves the variant unions. Per-query
    * results identical to [[Search.searchFuzzy]]; the oracle replays
    * per-qid expansion and the full batch BM25 arithmetic. */
  def searchFuzzyBatchQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (0L, Seq("windoq", "mergs")),
      (1L, Seq("ag"))).toDF("qid", "terms")
    Search.searchFuzzyBatch(spark, searchIndex(spark, dir), queries,
        maxDist = 1, topK = 20)
      .orderBy("qid", "id")
  }

  val searchFuzzyBatchSql: String =
    s"""WITH t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |vocab AS (SELECT DISTINCT tok FROM t),
       |qt AS (SELECT CAST(q AS BIGINT) AS qid, term FROM (VALUES
       |  (0, 'windoq'), (0, 'mergs'), (1, 'ag')) v(q, term)),
       |qe AS (
       |  SELECT DISTINCT qt.qid, v.tok
       |  FROM vocab v JOIN qt
       |    ON substr(v.tok, 1, 1) = substr(qt.term, 1, 1)
       |      AND abs(len(v.tok) - len(qt.term)) <= 1
       |      AND levenshtein(v.tok, qt.term) <= 1),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qe) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |ptok AS (
       |  SELECT f.doc_id, f.tok,
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n))) AS s
       |  FROM f JOIN d USING (tok), stats),
       |sc AS (
       |  SELECT qe.qid, ptok.doc_id AS id, ROUND(SUM(s), 6) AS score
       |  FROM ptok JOIN qe ON ptok.tok = qe.tok GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id)
       |      AS rk
       |  FROM sc)
       |SELECT qid, id, score FROM r WHERE rk <= 20
       |ORDER BY qid, id""".stripMargin

  /** BM25 served from an index built by STREAMING ingest: the
    * documents table staged as a 3-file directory, each file one
    * micro-batch folded through [[Search.appendBatch]] (exactly-once
    * via the batch-id marker, surviving maintenance via the base fold
    * watermark), on top of an empty base. The serve output must be
    * IDENTICAL to the inline `q_search_bm25` — same oracle SQL: the
    * oracle-gated proof that a continuously-ingesting text index
    * converges to the batch build, postings AND BM25 corpus constants
    * (which ride the marker stats deltas) both exact. */
  /** The CALL face of the BM25 serve (r11): the SAME index fixture,
    * terms, and k as `q_search_bm25`, driven through
    * `CALL graft_sql.system.bm25(path, query, k)` — certified by the
    * SAME oracle, so the SQL face is pinned bit-for-bit to the
    * at-rest serve it wraps. */
  def searchBm25Call(spark: SparkSession, dir: String): DataFrame = {
    val idx = searchIndex(spark, dir)
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse",
      "target/tmp/graft-sql-warehouse")
    spark.sql(s"CALL graft_sql.system.bm25('${idx.path}', " +
        s"'${SearchTerms.mkString(" ")}', 20)")
      .orderBy(col("score").desc, col("id"))
  }

  def searchBm25Stream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val path = Queries.fixturePath(spark, dir, "searchidx-stream")
    Memo.once(path) {
      val inDir = Queries.fixturePath(spark, dir, "searchidx-stream-in")
      docs.repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(inDir)
      val idx = Search.writeIndex(docs.limit(0), "doc_id", "text", path)
      val schema = spark.read.parquet(inDir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Search.appendBatch(b, "doc_id", "text", idx, id); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Search.searchBm25(spark, Search.open(spark, path), SearchTerms,
        topK = 20)
      .orderBy(col("score").desc, col("id"))
  }

  /** BM25 served from an index maintained INCREMENTALLY: base build of
    * two thirds of the corpus, the last third appended as a delta
    * generation, ~9% of docs deleted, then [[Search.compactIncremental]]
    * (bucket-granular fold: only dirty token buckets rewritten, clean
    * bucket dirs carried by reference, tombstones consolidated into
    * the base's snapshot) + [[Search.vacuum]] (which must keep every
    * carried dir). The serve must equal the BM25 oracle over exactly
    * the LIVE documents — certifying postings, the carried buckets,
    * the consolidated tombstones AND the corpus constants (which ride
    * the marker stats deltas through the fold) in one row. */
  def searchBm25Inc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val path = Queries.fixturePath(spark, dir, "searchidx-inc")
    Memo.once(path) {
      val idx = Search.writeIndex(
        docs.filter(col("doc_id") % 3 =!= lit(2)),
        "doc_id", "text", path)
      Search.append(docs.filter(col("doc_id") % 3 === lit(2)),
        "doc_id", "text", idx)
      Search.delete(docs.filter(col("doc_id") % 11 === lit(0))
        .select("doc_id"), "doc_id", idx)
      Search.compactIncremental(spark, idx)
      Search.vacuum(spark, idx)
    }
    Search.searchBm25(spark, Search.open(spark, path), SearchTerms,
        topK = 20)
      .orderBy(col("score").desc, col("id"))
  }

  /** The SAME append→delete→maintain lifecycle as
    * [[searchBm25Inc]], but every maintenance decision made by the
    * AUTO-POLICY ([[graft.pipeline.Search.maintain]]) instead of an
    * operator: two delta shards trip `deltaGens` (fold + vacuum), the
    * ~9% tombstone wave trips `purgeFrac` (full compact — physical
    * purge — + vacuum), and a third call no-ops. The oracle is the
    * identical BM25 replay over the live docs — if the policy ever
    * picked a wrong action or an action changed answers, the hash
    * gate catches it. */
  def searchBm25Auto(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val path = Queries.fixturePath(spark, dir, "searchidx-auto")
    Memo.once(path) {
      val cfg = graft.io.GenLog.MaintainConfig(deltaGens = 2,
        purgeFrac = 0.05)
      val idx = Search.writeIndex(
        docs.filter(col("doc_id") % 3 =!= lit(2)),
        "doc_id", "text", path)
      Search.append(docs.filter(col("doc_id") % 3 === lit(2) &&
        col("doc_id") % 2 === lit(0)), "doc_id", "text", idx)
      Search.append(docs.filter(col("doc_id") % 3 === lit(2) &&
        col("doc_id") % 2 =!= lit(0)), "doc_id", "text", idx)
      val a1 = Search.maintain(spark, idx, cfg)
      require(a1.map(_._1) == Seq("fold", "vacuum"),
        s"auto-policy should fold two deltas, took $a1")
      Search.delete(docs.filter(col("doc_id") % 11 === lit(0))
        .select("doc_id"), "doc_id", idx)
      val a2 = Search.maintain(spark, idx, cfg)
      require(a2.map(_._1) == Seq("compact", "vacuum"),
        s"auto-policy should purge the tombstone wave, took $a2")
      require(Search.maintain(spark, idx, cfg).map(_._1) == Seq("noop"),
        "auto-policy must no-op at a quiet head")
    }
    Search.searchBm25(spark, Search.open(spark, path), SearchTerms,
        topK = 20)
      .orderBy(col("score").desc, col("id"))
  }

  val searchBm25IncSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH live AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
       |t AS (SELECT doc_id,
       |             unnest(string_split(text, ' ')) AS tok,
       |             len(string_split(text, ' ')) AS dlen
       |           FROM live),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS n,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM live),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |sc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.n)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1)
       |SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin
  }

  /** Minimum-should-match search ([[Search.searchAny]], 2 of 3 terms):
    * the OR-with-threshold retrieval mode between pure conjunction and
    * pure disjunction, on the same bucket-pruned postings read. */
  def searchAny(spark: SparkSession, dir: String): DataFrame =
    Search.searchAny(spark, searchIndex(spark, dir), SearchTerms,
      minMatch = 2).orderBy("id")

  val searchAnySql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |           FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |      WHERE tok IN ($termList) GROUP BY 1, 2)
       |SELECT doc_id AS id, COUNT(DISTINCT tok) AS nhit,
       |  CAST(SUM(tf) AS BIGINT) AS score
       |FROM f GROUP BY 1 HAVING COUNT(DISTINCT tok) >= 2
       |ORDER BY 1""".stripMargin
  }

  /** Phrase to search for in q_search_phrase (adjacent tokens). */
  val PhraseTerms: Seq[String] = Seq("table", "scan")

  /** Exact phrase search over the positional index
    * ([[Search.searchPhrase]]): docs containing the consecutive phrase,
    * with occurrence counts, computed purely from positions in the
    * bucket-pruned postings. The oracle re-derives adjacency from the
    * documents table with a LEAD window over token ordinals. */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame =
    Search.searchPhrase(spark, searchIndex(spark, dir), PhraseTerms)
      .orderBy("id")

  val searchPhraseSql: String = {
    // window expressions can't sit in WHERE: materialize the leads first
    val leadCols = PhraseTerms.zipWithIndex.drop(1).map { case (_, i) =>
      s"LEAD(tok, $i) OVER (PARTITION BY doc_id ORDER BY i) AS t$i"
    }
    val whereConds = PhraseTerms.zipWithIndex.map {
      case (t, 0) => s"tok = '$t'"
      case (t, i) => s"t$i = '$t'"
    }.mkString(" AND ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |u AS (SELECT doc_id, generate_subscripts(toks, 1) AS i,
       |        unnest(toks) AS tok FROM t),
       |w AS (SELECT doc_id, i, tok${if (leadCols.nonEmpty) ", " else ""}${leadCols.mkString(", ")}
       |      FROM u)
       |SELECT doc_id AS id, COUNT(*) AS occurrences
       |FROM w WHERE $whereConds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Proximity (phrase-with-slop) search ([[Search.searchNear]],
    * slop = 2): docs where 'table' is followed by 'scan' within 3
    * positions, counting qualifying position tuples — the retrieval
    * mode between exact phrase and bag-of-words conjunction, on the
    * same bucket-pruned positional read. The oracle chains the per-term
    * position sets with the identical bounded-gap join. */
  def searchNear(spark: SparkSession, dir: String): DataFrame =
    Search.searchNear(spark, searchIndex(spark, dir), PhraseTerms,
      slop = 2).orderBy("id")

  val searchNearSql: String = {
    val termCtes = PhraseTerms.zipWithIndex.map { case (t, i) =>
      s"c$i AS (SELECT doc_id, i AS p$i FROM u WHERE tok = '$t')"
    }.mkString(",\n")
    val joins = PhraseTerms.indices.drop(1).map { i =>
      s"JOIN c$i ON c$i.doc_id = c0.doc_id AND " +
        s"c$i.p$i - c${i - 1}.p${i - 1} BETWEEN 1 AND 3"
    }.mkString("\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |u AS (SELECT doc_id, generate_subscripts(toks, 1) AS i,
       |        unnest(toks) AS tok FROM t),
       |$termCtes
       |SELECT c0.doc_id AS id, COUNT(*) AS occurrences
       |FROM c0
       |$joins
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Faceted search ([[Search.searchAny]] 2-of-3 + corpus metadata):
    * per-language hit counts and total scores over the min-should-match
    * result — the aggregation panel beside a search-results page. The
    * matched-id set is index-derived (bucket-pruned read), then ONE
    * semi-join-shaped probe of the documents table attaches facets;
    * only the hits' metadata rows are touched. */
  def searchFacets(spark: SparkSession, dir: String): DataFrame = {
    val hits = Search.searchAny(spark, searchIndex(spark, dir),
      SearchTerms, minMatch = 2)
    Tables.read(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"))
      .join(hits, "id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score"))
      .orderBy("lang")
  }

  val searchFacetsSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |           FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |      WHERE tok IN ($termList) GROUP BY 1, 2),
       |hits AS (SELECT doc_id, SUM(tf) AS score FROM f GROUP BY 1
       |         HAVING COUNT(DISTINCT tok) >= 2)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(hits.score) AS BIGINT) AS sum_score
       |FROM hits JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** HyperLogLog distinct-token estimate per language
    * ([[Sketches.hllDistinct]], m = 256 registers) beside the exact
    * count — the constant-state cousin of q_distinct_kmv. No
    * pre-distinct pass: the register max is idempotent, so the sketch
    * build is one groupBy whose state is one 256-byte register buffer
    * per language no matter the corpus size. The md5-derived registers
    * make the ESTIMATE itself oracle-checkable. q_distinct_hll_native
    * runs this same query against the same oracle SQL. */
  def distinctHll(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val exact = toks.distinct()
      .groupBy("lang").agg(count(lit(1)).as("n_distinct"))
    Sketches.hllDistinct(toks, "lang", "tok")
      .withColumnRenamed("g", "lang")
      .join(exact, "lang")
      .select("lang", "n_distinct", "est_distinct")
      .orderBy("lang")
  }

  val distinctHllSql: String =
    s"""WITH t0 AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
       |            FROM documents),
       |${Sketches.hllDistinctSql("t0", "lang", "tok")},
       |x AS (SELECT lang, COUNT(DISTINCT tok) AS n_distinct
       |      FROM t0 GROUP BY 1)
       |SELECT hll.g AS lang, x.n_distinct, hll.est_distinct
       |FROM hll JOIN x ON hll.g = x.lang ORDER BY 1""".stripMargin

  /** Count-min heavy hitters ([[Sketches.countMinTable]], d=3 x
    * w=1024): the true top-20 tokens (deterministic tok tie-break)
    * probed against the fixed-size counter table; est_n >= n always
    * (collisions only inflate), and both the counters and the probes
    * are salted md5 positions the oracle recomputes cell by cell. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    // one corpus explode: the exact (tok, n) aggregate feeds BOTH the
    // candidate top-20 and the counter build (weighted over distinct
    // tokens — identical counters, vocabulary-sized explode)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val counters = Sketches.countMinTableWeighted(exact, "tok", "n")
    val cands = exact.orderBy(col("n").desc, col("tok")).limit(20)
    Sketches.countMinEstimate(counters, cands, "tok")
      .select("tok", "n", "est_n")
      .orderBy(col("n").desc, col("tok"))
  }

  val heavyHittersSql: String =
    s"""WITH t0 AS (SELECT unnest(string_split(text, ' ')) AS tok
       |            FROM documents),
       |hi AS (SELECT unnest([0, 1, 2]) AS i),
       |cm AS (
       |  SELECT hi.i AS hrow,
       |    CAST(('0x' || substr(md5('cm' || hi.i || ':' || tok), 1, 12))
       |      AS BIGINT) % ${Sketches.CmWidth} AS pos,
       |    COUNT(*) AS c
       |  FROM t0, hi GROUP BY 1, 2),
       |ex AS (SELECT tok, COUNT(*) AS n FROM t0 GROUP BY 1),
       |cand AS (SELECT tok, n FROM ex ORDER BY n DESC, tok LIMIT 20),
       |probe AS (
       |  SELECT cand.tok, cand.n, hi.i AS hrow,
       |    CAST(('0x' || substr(md5('cm' || hi.i || ':' || cand.tok), 1, 12))
       |      AS BIGINT) % ${Sketches.CmWidth} AS pos
       |  FROM cand, hi)
       |SELECT probe.tok, probe.n, MIN(cm.c) AS est_n
       |FROM probe JOIN cm ON probe.hrow = cm.hrow AND probe.pos = cm.pos
       |GROUP BY 1, 2 ORDER BY n DESC, tok""".stripMargin

  /** EXACT heavy hitters via a one-pass Misra-Gries summary + exact
    * candidate recount ([[Sketches.heavyHittersExact]], k=64): the
    * item stream is a deterministic skewed projection of event ids
    * (floor(sqrt(event_id % 10000)) — value v appears ~2v+1 times per
    * 10k ids, ~100 distinct items > k so the eviction/merge-decrement
    * path is exercised, not just exact tracking). The MG survivor
    * guarantee (every item with count > n/65 is in the <= 64-entry
    * summary) makes the recounted output EXACTLY the set the oracle
    * computes with a full group-by — the sketch bounds state, the
    * recount restores exactness. */
  def heavyHittersMg(spark: SparkSession, dir: String): DataFrame = {
    val items = spark.read.parquet(s"$dir/events.parquet")
      .select(concat(lit("p"),
        floor(sqrt((col("event_id") % 10000).cast("double")))
          .cast("long").cast("string")).as("item"))
    Sketches.heavyHittersExact(items, "item", 64)
  }

  val heavyHittersMgSql: String =
    """WITH t0 AS (
      |  SELECT 'p' || CAST(CAST(FLOOR(SQRT(event_id % 10000)) AS BIGINT)
      |    AS VARCHAR) AS item
      |  FROM events),
      |ex AS (SELECT item, COUNT(*) AS cnt FROM t0 GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n FROM t0)
      |SELECT ex.item, ex.cnt FROM ex, tot
      |WHERE ex.cnt * 65 > tot.n
      |ORDER BY cnt DESC, item""".stripMargin

  /** AT-REST heavy hitters: the corpus split into two SHARDS, a
    * <= 64-row Misra-Gries summary built per shard (the persisted
    * at-rest state), the summaries folded via the weighted MG
    * aggregate ([[Sketches.mgMerge]]), then the exact
    * candidate-restricted recount — output EXACTLY `q_heavy_mg`'s
    * oracle set. The survivor guarantee survives the
    * summaries-of-summaries fold (Agarwal et al.), so the incremental
    * path (fold yesterday's shard summaries with today's, never
    * re-scan) returns the same exact heavy set as the single-pass
    * build. */
  def heavyHittersMgRest(spark: SparkSession, dir: String): DataFrame = {
    val items = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        concat(lit("p"),
          floor(sqrt((col("event_id") % 10000).cast("double")))
            .cast("long").cast("string")).as("item"))
    // two shards by event-id parity — each builds its own summary
    val shards = Sketches.mgCandidatesWithTotals(
      items.withColumn("g", (col("event_id") % 2).cast("string")),
      "g", "item", 64)
    // grand total as a broadcast 1-row scalar inside the plan (an
    // eager head() would run the shard aggregation as its own job)
    val tot = shards.select("g", "n").distinct().agg(sum("n").as("tot"))
    val folded = Sketches.mgMerge(
      shards.withColumn("g", lit("all")), 64)
      .select(col("item"))
    items.select("item").join(broadcast(folded), "item")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * 65 > col("tot"))
      .select("item", "cnt")
      .orderBy(col("cnt").desc, col("item"))
  }

  /** STREAMING heavy hitters: the skewed item stream fed one file per
    * micro-batch (4 batches, AvailableNow) through the COMPLETE-mode
    * Misra-Gries aggregate — the <= 64-entry summary map is the WHOLE
    * state-store footprint, the property that makes top-k tracking
    * streamable where an exact per-item count aggregate's state is
    * O(vocabulary) — then the exact candidate-restricted recount
    * batch-side. Output EXACTLY the `q_heavy_mg` oracle set,
    * independent of the micro-batch cut (the fold guarantee across
    * batch boundaries is the same merge argument as the at-rest
    * shard fold). */
  def heavyHittersMgStream(spark: SparkSession, dir: String): DataFrame = {
    val inDir = Queries.fixturePath(spark, dir, "mgstream-in")
    val candDir = Queries.fixturePath(spark, dir, "mgstream-cands")
    Memo.once(candDir) {
      spark.read.parquet(s"$dir/events.parquet")
        .select(concat(lit("p"),
          floor(sqrt((col("event_id") % 10000).cast("double")))
            .cast("long").cast("string")).as("item"))
        .repartition(4)
        .write.mode("overwrite").parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      val table = "mg_stream_" +
        java.lang.Integer.toHexString(System.identityHashCode(spark))
      val q = Sketches.mgCandidates(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(inDir).withColumn("g", lit("all")),
          "g", "item", 64)
        .writeStream.format("memory").queryName(table)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(table).select("item")
        .write.mode("overwrite").parquet(candDir)
      ()
    }
    val items = spark.read.parquet(inDir)
    val n = items.count()
    val cands = spark.read.parquet(candDir)
    items.join(broadcast(cands), "item")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 65 > n)
      .orderBy(col("cnt").desc, col("item"))
  }

  /** Per-group exact heavy hitters
    * ([[Sketches.heavyHittersExactGrouped]], k=64): one bounded MG
    * summary PER event type, per-group totals and thresholds — the
    * "top items per segment" profile a curation pass runs per
    * language/source at 100 TB, where a global summary would let one
    * giant segment mask every other's heavy set. Same deterministic
    * skewed item stream as `q_heavy_mg`; grouped state and the
    * per-group survivor guarantee are what this row certifies. */
  def heavyHittersMgGrouped(spark: SparkSession, dir: String): DataFrame = {
    val items = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type").as("g"),
        concat(lit("p"),
          floor(sqrt((col("event_id") % 10000).cast("double")))
            .cast("long").cast("string")).as("item"))
    Sketches.heavyHittersExactGrouped(items, "g", "item", 64)
  }

  val heavyHittersMgGroupedSql: String =
    """WITH t0 AS (
      |  SELECT event_type AS g,
      |    'p' || CAST(CAST(FLOOR(SQRT(event_id % 10000)) AS BIGINT)
      |      AS VARCHAR) AS item
      |  FROM events),
      |ex AS (SELECT g, item, COUNT(*) AS cnt FROM t0 GROUP BY 1, 2),
      |tot AS (SELECT g, COUNT(*) AS n FROM t0 GROUP BY 1)
      |SELECT ex.g, ex.item, ex.cnt FROM ex JOIN tot USING (g)
      |WHERE ex.cnt * 65 > tot.n
      |ORDER BY g, cnt DESC, item""".stripMargin

  /** Mergeable quantile sketch ([[Sketches.quantileBuckets]], HDR-style
    * log2-linear buckets, rel. error <= 2^-5): per-language p50/p95/p99
    * of document length, built as TWO SHARD sketches folded through
    * [[Sketches.quantileMerge]] — the at-rest incremental path IS the
    * gated path (the fold is exact, so the oracle builds one sketch
    * over everything and must hash-match). All bucket and rank algebra
    * is integer/string ops (length(bin(x)), power-of-two division,
    * cross-multiplied ranks), so both engines decide every boundary
    * identically — the same no-libm discipline as the HLL rho. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val s1 = Sketches.quantileBuckets(
      docs.filter(col("doc_id") % 2 === 0), "lang", "n_chars")
    val s2 = Sketches.quantileBuckets(
      docs.filter(col("doc_id") % 2 =!= 0), "lang", "n_chars")
    Sketches.quantileEstimate(Sketches.quantileMerge(s1, s2),
        Seq(50, 95, 99))
      .select(col("g").as("lang"), col("p"),
        col("est_value").as("est_n_chars"))
      .orderBy("lang", "p")
  }

  val quantileSketchSql: String =
    s"""WITH ${Sketches.quantileSketchSql(
         "documents", "lang", "n_chars", Seq(50, 95, 99))}
       |SELECT g AS lang, p, est_value AS est_n_chars
       |FROM qest ORDER BY 1, 2""".stripMargin

  /** Sketch-driven ROBUST OUTLIER TRIM: the per-language p99 length
    * cut comes from the mergeable quantile sketch (~2k bucket rows
    * per group, never a per-group sort of the corpus), broadcasts,
    * and classifies every document as kept/dropped — the curation
    * trim a 100 TB pass runs where an exact percentile would shuffle
    * the whole corpus per group. All-integer output (cut + counts),
    * and the oracle replays the sketch recurrence cell-for-cell, so
    * the CUT itself is certified, not just the counts. */
  def qualityTrim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(col("lang"), col("n_chars"))
    val cut = Sketches.quantileEstimate(
        Sketches.quantileBuckets(docs, "lang", "n_chars"), Seq(99))
      .select(col("g").as("lang"), col("est_value").as("cut"))
    docs.join(broadcast(cut), "lang")
      .groupBy("lang", "cut")
      .agg(sum(when(col("n_chars") <= col("cut"), 1L).otherwise(0L))
          .as("kept"),
        sum(when(col("n_chars") > col("cut"), 1L).otherwise(0L))
          .as("dropped"))
      .select("lang", "cut", "kept", "dropped")
      .orderBy("lang")
  }

  val qualityTrimSql: String =
    s"""WITH ${Sketches.quantileSketchSql(
         "documents", "lang", "n_chars", Seq(99))},
       |cut AS (SELECT g AS lang, est_value AS cut FROM qest),
       |j AS (
       |  SELECT d.lang, c.cut, d.n_chars
       |  FROM documents d JOIN cut c ON d.lang = c.lang)
       |SELECT lang, cut,
       |  CAST(SUM(CASE WHEN n_chars <= cut THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       |  CAST(SUM(CASE WHEN n_chars > cut THEN 1 ELSE 0 END) AS BIGINT) AS dropped
       |FROM j GROUP BY 1, 2 ORDER BY lang""".stripMargin

  /** Robust BOTH-TAILS trim on a FLOAT score column — the r10 signed
    * fixed-point quantile domain ([[Sketches.quantileBucketsSigned]]):
    * per-doc unigram LM score (negative log10 floats, the same
    * certified recurrence as `q_lm_score`), per-language p1/p99 cuts
    * from the SIGNED sketch (fixed-point 10^6, sign-split log2-linear
    * buckets — still ~2k integer state rows per group, never a
    * per-group corpus sort), then every document classified
    * kept/dropped in fixed-point integer algebra. This is the trim a
    * curation pass actually runs: quality/LM scores are floats, and
    * r9's sketch couldn't hold them. At 100 TB the scored frame would
    * be persisted once and both consumers (sketch + classify) read
    * the materialization; here the recompute is two narrow aggs. */
  def qualityTrimFloat(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val post = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = post.groupBy("tok").agg(count(lit(1)).as("tf"))
    // in-plan scalar, not an eager head() — see q_lm_score (r18)
    val tot = freq.agg(sum(col("tf")).cast("double").as("__total"))
    val scored = post.join(freq, "tok")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "lang")
      .agg(round(avg(log10(col("tf").cast("double") / col("__total"))), 6)
        .as("score"))
    val est = Sketches.quantileEstimateSigned(
      Sketches.quantileBucketsSigned(scored, "lang", "score"), Seq(1, 99))
    val cuts = est.groupBy(col("g").as("lang")).agg(
      max(when(col("p") === 1, col("est_fx"))).as("cut1_fx"),
      max(when(col("p") === 99, col("est_fx"))).as("cut99_fx"))
    scored
      .withColumn("fx", round(col("score") * lit(1e6)).cast("long"))
      .join(broadcast(cuts), "lang")
      .groupBy("lang", "cut1_fx", "cut99_fx")
      .agg(
        sum(when(col("fx") > col("cut1_fx") &&
          col("fx") <= col("cut99_fx"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("fx") <= col("cut1_fx") ||
          col("fx") > col("cut99_fx"), 1L).otherwise(0L)).as("dropped"))
      .select("lang", "cut1_fx", "cut99_fx", "kept", "dropped")
      .orderBy("lang")
  }

  val qualityTrimFloatSql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |ft AS (SELECT tok, COUNT(*) AS tf FROM pt GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS total FROM pt),
       |s AS (
       |  SELECT doc_id, lang,
       |    ROUND(AVG(LOG10(CAST(tf AS DOUBLE) / total)), 6) AS score
       |  FROM pt JOIN ft USING (tok) CROSS JOIN nt GROUP BY 1, 2),
       |${Sketches.quantileSketchSignedSql("s", "lang", "score", Seq(1, 99))},
       |cuts AS (
       |  SELECT g AS lang,
       |    MAX(CASE WHEN p = 1 THEN est_fx END) AS cut1_fx,
       |    MAX(CASE WHEN p = 99 THEN est_fx END) AS cut99_fx
       |  FROM sqest GROUP BY 1),
       |j AS (
       |  SELECT s.lang, c.cut1_fx, c.cut99_fx,
       |    CAST(ROUND(s.score * 1e6) AS BIGINT) AS fx
       |  FROM s JOIN cuts c USING (lang))
       |SELECT lang, cut1_fx, cut99_fx,
       |  CAST(SUM(CASE WHEN fx > cut1_fx AND fx <= cut99_fx
       |    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       |  CAST(SUM(CASE WHEN fx <= cut1_fx OR fx > cut99_fx
       |    THEN 1 ELSE 0 END) AS BIGINT) AS dropped
       |FROM j GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin

  /** Symmetric per-vector INT8 quantization of the embedding column —
    * the serving-side compression step between training embeddings and
    * an ANN index (PQ compresses harder; int8 keeps per-dimension
    * semantics): scale = max|x| / 127, code = round(x / scale). A pure
    * narrow projection (HOF arithmetic per element, no shuffle before
    * the presentation sort); emitted metrics are all
    * accumulation-free — scale is one division, code_sum is an exact
    * integer fold, max_err is an elementwise max — so both engines
    * land on identical values (no float-sum ordering anywhere). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val x = (c: org.apache.spark.sql.Column) => c.cast("double")
    Tables.read(spark, dir, "embeddings")
      .withColumn("scale",
        array_max(transform(col("embedding"), e => abs(x(e)))) / lit(127.0))
      .select(col("vec_id"),
        round(col("scale"), 9).as("scale_r"),
        when(col("scale") === 0, lit(0L))
          .otherwise(aggregate(
            transform(col("embedding"),
              e => round(x(e) / col("scale")).cast("long")),
            lit(0L), (acc, c) => acc + c)).as("code_sum"),
        when(col("scale") === 0, lit(0.0))
          .otherwise(round(array_max(transform(col("embedding"),
            e => abs(x(e) - round(x(e) / col("scale")) * col("scale")))),
            9)).as("max_err"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id,
      |  ROUND(scale, 9) AS scale_r,
      |  CASE WHEN scale = 0 THEN 0
      |    ELSE CAST(list_sum(list_transform(embedding,
      |      x -> CAST(ROUND(CAST(x AS DOUBLE) / scale) AS BIGINT)))
      |      AS BIGINT) END AS code_sum,
      |  CASE WHEN scale = 0 THEN 0.0
      |    ELSE ROUND(list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)
      |        - ROUND(CAST(x AS DOUBLE) / scale) * scale))), 9)
      |  END AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  /** Theta-style KMV set algebra ([[Sketches.kmvSetOps]], k = 64):
    * pairwise distinct-token overlap between languages — estimated
    * |A ∪ B|, |A ∩ B| and Jaccard ppm from the two bottom-k sketches
    * ALONE, beside the exact counts for error exposure. This is the
    * sketch-only source-similarity / decontamination profile: at
    * 100 TB the exact distinct-join is unpayable, while the sketch
    * algebra touches <= 2k hash rows per language pair. Every hash is
    * md5-derived and every boundary (theta, the < theta sample cut,
    * the ppm cross-multiplication) is integer algebra, so the oracle
    * recomputes the ESTIMATES bit for bit. */
  def distinctOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.read(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val dt = toks.distinct().localCheckpoint()
    // the bounded-state bottom-k equals the oracle's distinct + rank
    // window form. Built from the materialized distinct (lang, tok) base
    // instead of a SECOND documents scan+explode: the KMV state keeps
    // distinct hashes (TreeSet), so pre-deduped input is bit-identical
    val sk = Sketches.kmvSketch(dt, "lang", "tok", k)
      .localCheckpoint()
    val langs = sk.select(col("g")).distinct()
    val pairs = langs.select(col("g").as("la"))
      .join(langs.select(col("g").as("lb")), col("la") < col("lb"))
    // pair-keyed side sketches: A = la's hashes, B = lb's hashes
    def side(keyCol: String) = pairs
      .join(sk, col("g") === col(keyCol))
      .select(concat(col("la"), lit("|"), col("lb")).as("g"), col("h"))
    val ops = Sketches.kmvSetOps(side("la"), side("lb"), k)
      .select(split(col("g"), "\\|").getItem(0).as("la"),
        split(col("g"), "\\|").getItem(1).as("lb"),
        col("est_union"), col("est_inter"), col("jacc_ppm"))
    // exact overlap rides along to expose the sketch error (test-scale
    // only — production runs the sketch algebra alone)
    val nl = dt.groupBy("lang").agg(count(lit(1)).as("nd"))
    val inter = dt.as("x")
      .join(dt.as("y"),
        col("x.tok") === col("y.tok") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("la"), col("y.lang").as("lb"))
      .agg(count(lit(1)).as("ni"))
    ops
      .join(nl.select(col("lang").as("la"), col("nd").as("nda")), "la")
      .join(nl.select(col("lang").as("lb"), col("nd").as("ndb")), "lb")
      .join(inter, Seq("la", "lb"), "left_outer")
      .select(col("la"), col("lb"),
        (col("nda") + col("ndb") - coalesce(col("ni"), lit(0L)))
          .as("n_union"),
        coalesce(col("ni"), lit(0L)).as("n_inter"),
        col("est_union"), col("est_inter"), col("jacc_ppm"))
      .orderBy("la", "lb")
  }

  val distinctOverlapSql: String =
    """WITH t0 AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |t AS (SELECT DISTINCT lang, tok FROM t0),
      |h0 AS (SELECT DISTINCT lang AS g,
      |         CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
      |       FROM t),
      |r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h)
      |        AS rk FROM h0),
      |sk AS (SELECT g, h FROM r WHERE rk <= 64),
      |th AS (SELECT g, CASE WHEN COUNT(*) < 64 THEN 281474976710656
      |         ELSE MAX(h) END AS theta
      |       FROM sk GROUP BY 1),
      |pr AS (SELECT a.g AS la, b.g AS lb, LEAST(a.theta, b.theta) AS theta
      |       FROM th a JOIN th b ON a.g < b.g),
      |ph AS (SELECT p.la, p.lb, p.theta, s.h,
      |         MAX(CASE WHEN s.g = p.la THEN 1 ELSE 0 END) AS ina,
      |         MAX(CASE WHEN s.g = p.lb THEN 1 ELSE 0 END) AS inb
      |       FROM pr p JOIN sk s ON s.g IN (p.la, p.lb) AND s.h < p.theta
      |       GROUP BY 1, 2, 3, 4),
      |c AS (SELECT la, lb, MAX(theta) AS theta, COUNT(*) AS cu,
      |        SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS ci
      |      FROM ph GROUP BY 1, 2),
      |nl AS (SELECT lang, COUNT(*) AS nd FROM t GROUP BY 1),
      |ex AS (SELECT x.lang AS la, y.lang AS lb, COUNT(*) AS ni
      |       FROM t x JOIN t y ON x.tok = y.tok AND x.lang < y.lang
      |       GROUP BY 1, 2)
      |SELECT c.la, c.lb,
      |  CAST(na.nd + nb.nd - COALESCE(ex.ni, 0) AS BIGINT) AS n_union,
      |  CAST(COALESCE(ex.ni, 0) AS BIGINT) AS n_inter,
      |  CAST(ROUND(cu * 281474976710656.0 / theta) AS BIGINT) AS est_union,
      |  CAST(ROUND(ci * 281474976710656.0 / theta) AS BIGINT) AS est_inter,
      |  CAST(CASE WHEN cu = 0 THEN 0
      |       ELSE (ci * 1000000) // cu END AS BIGINT) AS jacc_ppm
      |FROM c
      |JOIN nl na ON na.lang = c.la
      |JOIN nl nb ON nb.lang = c.lb
      |LEFT JOIN ex ON ex.la = c.la AND ex.lb = c.lb
      |ORDER BY 1, 2""".stripMargin

  /** Bloom-filter semi-join pre-filter ([[graft.pipeline.Bloom]]):
    * the eval vocabulary (docs < 50) builds an 8192-bit filter; the
    * train side's postings are pre-filtered by `prefilter` at the
    * SCAN — before the dedup shuffle and the exact semi-join — so
    * both shuffles carry candidates only (one md5 + k integer tests
    * per row). The oracle is the
    * plain exact semi-join: false positives are removed by the exact
    * verify, and equality certifies the filter admits every true
    * member (no false negatives) — the property that makes the
    * pre-filter safe at 100 TB. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    val evalVocab = docs.filter(col("doc_id") < 50)
      .select(explode(split(col("text"), " ")).as("tok")).distinct()
    val lanes = Bloom.build(evalVocab, "tok")
    val postings = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    Bloom.prefilter(postings, "tok", lanes)
      .join(evalVocab, Seq("tok"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  val bloomJoinSql: String =
    """WITH ev0 AS (SELECT unnest(string_split(text, ' ')) AS tok
      |             FROM documents WHERE doc_id < 50),
      |ev AS (SELECT DISTINCT tok FROM ev0),
      |tr0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id >= 50),
      |tr AS (SELECT DISTINCT doc_id, tok FROM tr0)
      |SELECT doc_id, COUNT(*) AS n_shared
      |FROM tr JOIN ev USING (tok)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Decontamination corpora: eval = first 50 docs; train = the rest
    * PLUS truncated copies of the eval docs injected at +20000 (known
    * contamination both engines construct identically). */
  private def evalCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .filter(col("doc_id") < 50).select(col("doc_id"), col("text"))

  private def trainCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(spark, dir, "documents")
    val rest = d.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
    val ev = d.filter(col("doc_id") < 50)
    val toks = split(col("text"), " ")
    rest.union(ev.select((col("doc_id") + 20000).as("doc_id"),
      array_join(slice(toks, lit(1), greatest(size(toks) - 3, lit(1))), " ")
        .as("text")))
  }

  private val evalCorpusSql =
    "SELECT doc_id, text FROM documents WHERE doc_id < 50"

  private val trainCorpusSql =
    """SELECT doc_id, text FROM documents WHERE doc_id >= 50
      |  UNION ALL
      |  SELECT doc_id + 20000,
      |    array_to_string(string_split(text, ' ')[1:GREATEST(len(string_split(text, ' ')) - 3, 1)], ' ')
      |  FROM documents WHERE doc_id < 50""".stripMargin

  /** Decontamination: train docs sharing >= 0.5 3-gram Jaccard with any
    * eval doc — per flagged train doc, how many eval docs it hits and
    * the worst overlap. The pre-training contamination sweep. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Dedup.crossJaccard(trainCorpus(spark, dir), evalCorpus(spark, dir),
      "doc_id", "text", 3, 0.5, HotTokenCap)
      .groupBy(col("lid").as("train_id"))
      .agg(count("*").as("n_eval_matches"), max("jaccard").as("max_j"))
      .orderBy("train_id")

  val decontaminateSql: String =
    s"""WITH tr AS ($trainCorpusSql),
       |ev AS ($evalCorpusSql),
       |ltk AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM tr),
       |rtk AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM ev),
       |l0 AS (
       |  SELECT id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> array_to_string(toks[i:i+2], ' ')))) AS tok
       |  FROM ltk WHERE len(toks) >= 3),
       |r0 AS (
       |  SELECT id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> array_to_string(toks[i:i+2], ' ')))) AS tok
       |  FROM rtk WHERE len(toks) >= 3),
       |keep AS (
       |  SELECT tok FROM (SELECT tok FROM l0 UNION ALL SELECT tok FROM r0)
       |  GROUP BY tok HAVING COUNT(*) <= $HotTokenCap),
       |l AS (SELECT l0.id, l0.tok FROM l0 JOIN keep USING (tok)),
       |r AS (SELECT r0.id, r0.tok FROM r0 JOIN keep USING (tok)),
       |lsz AS (SELECT id, COUNT(*) AS lsz FROM l GROUP BY 1),
       |rsz AS (SELECT id, COUNT(*) AS rsz FROM r GROUP BY 1),
       |inter AS (
       |  SELECT l.id AS lid, r.id AS rid, COUNT(*) AS i
       |  FROM l JOIN r USING (tok) GROUP BY 1, 2),
       |j AS (
       |  SELECT lid, rid,
       |    ROUND(CAST(i AS DOUBLE) / (lsz.lsz + rsz.rsz - i), 6) AS jaccard
       |  FROM inter
       |  JOIN lsz ON lid = lsz.id
       |  JOIN rsz ON rid = rsz.id
       |  WHERE CAST(i AS DOUBLE) / (lsz.lsz + rsz.rsz - i) >= 0.5)
       |SELECT lid AS train_id, COUNT(*) AS n_eval_matches,
       |  MAX(jaccard) AS max_j
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic 80/10/10 hash split of the corpus: md5-derived
    * uniform per doc_id — stable across runs/engines/layouts. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Splits.assign(Tables.read(spark, dir, "documents"), "doc_id",
      Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  val splitAssignSql: String = {
    val u = s"(CAST(${Dedup.tokenIdSql("CAST(doc_id AS VARCHAR)")} AS DOUBLE) / ${Dedup.MinhashP})"
    s"""SELECT doc_id,
       |  CASE WHEN $u < 0.8 THEN 'train'
       |       WHEN $u < 0.9 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val minhashParamsSql = (0 until Dedup.NumHashes).map { i =>
    s"(${i}, ${Dedup.MinhashA(i)}, ${Dedup.MinhashB(i)})"
  }.mkString(", ")

  /** MinHash + LSH banding near-dup pairs, verified jaccard >= 0.5.
    * Token ids are md5-derived (no vocabulary pass in either engine). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshFromPostings(dedupShared(spark, dir).post, 0.5)
      .orderBy("ida", "idb")

  val dedupMinhashSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |$cappedPostingsSql,
       |hp (hashIdx, a, b) AS (VALUES $minhashParamsSql),
       |sigs AS (
       |  SELECT t.id, hp.hashIdx,
       |    MIN((hp.a * ${Dedup.tokenIdSql("t.tok")} + hp.b) % ${Dedup.MinhashP}) AS minv
       |  FROM t CROSS JOIN hp
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT id, hashIdx // ${Dedup.BandSize} AS band,
       |    string_agg(minv, ',' ORDER BY hashIdx) AS bkey
       |  FROM sigs GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.id AS ida, b.id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT ida, idb, COUNT(*) AS i
       |  FROM cands
       |  JOIN t ta ON ta.id = ida
       |  JOIN t tb ON tb.id = idb AND ta.tok = tb.tok
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON ida = sa.id
       |JOIN sizes sb ON idb = sb.id
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  /** Dedup clusters: connected components over the Jaccard near-dup
    * pairs — every doc labeled with the minimum id reachable through the
    * near-dup graph (its keeper). Oracle: recursive closure in SQL. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    dedupShared(spark, dir).comps.orderBy("id")

  val dedupComponentsSql: String =
    s"""WITH RECURSIVE c AS ($nearDupCorpusSql),
       |$cappedPostingsSql,
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS i
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ida, idb FROM inter
       |  JOIN sizes sa ON ida = sa.id
       |  JOIN sizes sb ON idb = sb.id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id, MIN(comp) AS comp FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quality-aware dedup keeper selection: within each near-dup
    * component, keep the HIGHEST-QUALITY document (ties -> smallest
    * id) instead of the smallest id — the keep-the-best-copy policy a
    * curation pipeline actually wants. Composes the shared component
    * labels with the quality score; the argmax is one struct-max
    * aggregate per component (partial-agg friendly, no window over
    * documents). Output: every doc with its component and the chosen
    * keeper. */
  def dedupBestKeeper(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val comps = dedupShared(spark, dir).comps
    val scored = corpus.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("q"))
    val withComp = scored.join(comps, scored("doc_id") === comps("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"),
        col("q"))
    val best = withComp
      .groupBy("comp")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("comp"), (-col("m.nid")).cast("long").as("keeper"))
    withComp.join(best, "comp")
      .select(col("doc_id"), col("comp"), col("keeper"))
      .orderBy("doc_id")
  }

  lazy val dedupBestKeeperSql: String =
    s"""WITH RECURSIVE c AS ($nearDupCorpusSql),
       |$cappedPostingsSql,
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS i
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ida, idb FROM inter
       |  JOIN sizes sa ON ida = sa.id
       |  JOIN sizes sb ON idb = sb.id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
       |cmp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY 1),
       |m AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS nt,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopListSql))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop,
       |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
       |      / length(text) AS punct
       |  FROM c),
       |s AS (
       |  SELECT doc_id,
       |    ROUND(0.4 * LEAST(1.0, nt / 50.0)
       |        + 0.4 * (1.0 - LEAST(1.0, ABS(stop - 0.12) / 0.5))
       |        + 0.2 * (1.0 - LEAST(1.0, punct * 5.0)), 6) AS q
       |  FROM m),
       |wc AS (
       |  SELECT s.doc_id, COALESCE(cmp.comp, s.doc_id) AS comp, s.q
       |  FROM s LEFT JOIN cmp ON s.doc_id = cmp.id),
       |best AS (
       |  SELECT comp, doc_id AS keeper FROM (
       |    SELECT comp, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY comp ORDER BY q DESC, doc_id) AS rk
       |    FROM wc) WHERE rk = 1)
       |SELECT wc.doc_id, wc.comp, best.keeper
       |FROM wc JOIN best USING (comp)
       |ORDER BY wc.doc_id""".stripMargin

  /** Duplicate-passage mining (ExactSubstr-style at fixed granularity):
    * every overlapping 8-token passage occurring in 2+ distinct
    * documents, with its document frequency — the pass that builds a
    * boilerplate/blocklist table for substring-level dedup. One
    * explode + partial-aggregated groupBy; at corpus scale the group
    * key is the passage hash (shuffle rows are O(corpus tokens) — the
    * honest cost of substring-level dedup; the df-cap/blocklist output
    * is what makes the later scrub pass cheap). Runs over the near-dup
    * corpus so truncated copies produce real shared passages. */
  def dupPassages(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingles(nearDupCorpus(spark, dir), "doc_id", "text", 8)
      .groupBy("tok")
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("tok").as("passage"), col("n_docs"))
      .orderBy("passage")

  val dupPassagesSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |tk AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM c),
       |t0 AS (
       |  SELECT id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 7),
       |    i -> array_to_string(toks[i:i+7], ' ')))) AS tok
       |  FROM tk WHERE len(toks) >= 8)
       |SELECT tok AS passage, COUNT(DISTINCT id) AS n_docs
       |FROM t0 GROUP BY 1 HAVING COUNT(DISTINCT id) >= 2
       |ORDER BY 1""".stripMargin

  /** Per-document duplicated-span coverage: how much of each document
    * is 8-token passages shared with other documents — the "what
    * fraction of this doc is boilerplate" scrub signal built on the
    * q_dup_passages blocklist. */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanCoverage(nearDupCorpus(spark, dir), "doc_id", "text", 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val dupSpanCoverageSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |tk AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM c),
       |s AS (
       |  SELECT id, pos, array_to_string(toks[pos:pos+7], ' ') AS tok
       |  FROM (SELECT id, unnest(generate_series(1, len(toks) - 7)) AS pos, toks
       |        FROM tk WHERE len(toks) >= 8)),
       |dup AS (SELECT tok FROM s GROUP BY 1 HAVING COUNT(DISTINCT id) >= 2),
       |cnt AS (
       |  SELECT id, COUNT(*) AS n_dup FROM (
       |    SELECT DISTINCT id, ti FROM (
       |      SELECT id, unnest(generate_series(pos, pos + 7)) AS ti
       |      FROM s JOIN dup USING (tok)))
       |  GROUP BY 1)
       |SELECT tk.id AS doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(cnt.n_dup, 0) AS BIGINT) AS n_dup_tokens,
       |  ROUND(COALESCE(cnt.n_dup, 0) / CAST(len(tk.toks) AS DOUBLE), 6) AS dup_frac
       |FROM tk LEFT JOIN cnt ON tk.id = cnt.id ORDER BY 1""".stripMargin

  /** Winnowing near-dup pairs (MOSS end-to-end): fingerprint-sketch
    * containment >= 0.5 over the truncated-copy corpus — catches every
    * (doc, truncated copy) pair because winnowing guarantees any
    * k+w-1-char match shares a fingerprint. */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowNearDup(nearDupCorpus(spark, dir), "doc_id", "text")
      .orderBy("ida", "idb")

  val dedupWinnowSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |pos AS (
       |  SELECT doc_id AS id, unnest(generate_series(1, length(text) - ${WinnowK - 1})) AS pos,
       |    text, length(text) - ${WinnowK - 1} AS np
       |  FROM c WHERE length(text) >= $WinnowK),
       |h AS (
       |  SELECT id, pos, np,
       |    CAST(('0x' || substr(md5(substr(text, pos, $WinnowK)), 1, $WinnowHashHex)) AS BIGINT)
       |      * ${1L << WinnowPosBits} + pos AS comb
       |  FROM pos),
       |m AS (
       |  SELECT id, pos, np,
       |    MIN(comb) OVER (PARTITION BY id ORDER BY pos
       |                    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mc
       |  FROM h),
       |sel AS MATERIALIZED (
       |  SELECT DISTINCT id, mc // ${1L << WinnowPosBits} AS fp FROM m
       |  WHERE pos <= GREATEST(np - ${WinnowW - 1}, 1)),
       |nf AS (SELECT id, COUNT(*) AS n FROM sel GROUP BY 1),
       |freq AS (SELECT fp, COUNT(*) AS df FROM sel GROUP BY 1),
       |capped AS (SELECT id, sel.fp FROM sel JOIN freq USING (fp) WHERE df <= 64),
       |pairs AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS shared
       |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.id < b.id
       |  GROUP BY 1, 2),
       |sim AS (
       |  SELECT ida, idb, shared,
       |    ROUND(CAST(shared AS DOUBLE) / LEAST(na.n, nb.n), 6) AS containment
       |  FROM pairs JOIN nf na ON na.id = ida JOIN nf nb ON nb.id = idb)
       |SELECT ida, idb, shared, containment FROM sim
       |WHERE containment >= 0.5 ORDER BY 1, 2""".stripMargin

  /** SimHash near-dup pairs (4x8-bit band collision blocking,
    * hamming <= 6). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(nearDupCorpus(spark, dir), "doc_id", "text", 6)
      .orderBy("ida", "idb")

  val dedupSimhashSql: String =
    s"""WITH c AS ($nearDupCorpusSql),
       |t AS (SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM c),
       |bits AS (SELECT unnest(generate_series(0, ${Dedup.SimhashBits - 1})) AS bit),
       |signs AS (
       |  SELECT t.id, bits.bit,
       |    SUM(CASE WHEN CAST(FLOOR(((${Dedup.SimhashA} * ${Dedup.tokenIdSql("t.tok")} + ${Dedup.SimhashB}) % ${Dedup.MinhashP}) / POWER(2, bits.bit)) AS BIGINT) % 2 = 1
       |        THEN 1 ELSE -1 END) AS s
       |  FROM t CROSS JOIN bits
       |  GROUP BY 1, 2),
       |sigs AS (
       |  SELECT id, SUM(CASE WHEN s > 0 THEN CAST(POWER(2, bit) AS BIGINT) ELSE 0 END) AS simhash
       |  FROM signs GROUP BY 1),
       |bands AS (
       |  SELECT id, simhash, bb.band,
       |    CAST(FLOOR(simhash / POWER(256, bb.band)) AS BIGINT) % 256 AS bval
       |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimhashBands - 1})) AS band) bb)
       |SELECT DISTINCT a.id AS ida, b.id AS idb,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY 1, 2""".stripMargin

  /** The composed cleaning pipeline — near-dup clustering over the
    * corpus, keep only each cluster's keeper (minimum id) plus
    * untouched docs, then quality-filter the survivors. One query
    * certifying that the operators COMPOSE: dedup pairs -> connected
    * components -> anti-join -> quality score. */
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val comps = dedupShared(spark, dir).comps
    val kept = corpus.join(comps, corpus("doc_id") === comps("id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .select(col("doc_id"), col("text"))
    kept.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      .filter(col("q") >= 0.45)
      .orderBy("doc_id")
  }

  val cleanPipelineSql: String =
    s"""WITH RECURSIVE c AS ($nearDupCorpusSql),
       |$cappedPostingsSql,
       |sizes AS (SELECT id, COUNT(*) AS sz FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS ida, b.id AS idb, COUNT(*) AS i
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ida, idb FROM inter
       |  JOIN sizes sa ON ida = sa.id
       |  JOIN sizes sb ON idb = sb.id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY 1),
       |kept AS (
       |  SELECT c.doc_id, c.text FROM c LEFT JOIN comp ON c.doc_id = comp.id
       |  WHERE comp.id IS NULL OR comp.comp = c.doc_id),
       |m AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopListSql))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop,
       |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
       |      / length(text) AS punct
       |  FROM kept),
       |s AS (
       |  SELECT doc_id,
       |    ROUND(0.4 * LEAST(1.0, n_tokens / 50.0)
       |        + 0.4 * (1.0 - LEAST(1.0, ABS(stop - 0.12) / 0.5))
       |        + 0.2 * (1.0 - LEAST(1.0, punct * 5.0)), 6) AS q
       |  FROM m)
       |SELECT doc_id, q FROM s WHERE q >= 0.45 ORDER BY doc_id""".stripMargin

  // ---------- similarity search ----------

  /** Brute-force cosine top-3 neighbors for query vectors vec_id < 50. */
  def annCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.cosineTopK(emb.filter(col("id") < 50), emb, 3)
      .orderBy("qid", "nid")
  }

  val annCosineSql: String =
    """WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
      |d AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid, SUM(q.v * c.v) AS dot
      |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 50
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT qid, nid,
      |    ROUND(dot / (nq.nrm * nc.nrm), 5) AS cos
      |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON nid = nc.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM s)
      |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** MATRYOSHKA (MRL) truncated-embedding ANN: serve top-k over the
    * FIRST 16 dimensions of the stored embedding — the
    * matryoshka-representation property that a prefix of the vector
    * is itself a valid lower-dimensional embedding, bought here as
    * 4× less dot-product compute per candidate with zero re-encoding
    * (cosine self-normalizes over the truncated prefix, so no
    * renormalization pass is needed). At 100 TB this is the standard
    * cheap first tier of a cascade: prefix-dim shortlist, full-dim
    * rerank (the existing binary/IVF machinery composes the same
    * way). The oracle replays the truncation and the full
    * rank-by-rounded-cosine arithmetic. */
  def annMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        slice(col("embedding"), 1, 16).as("vec"))
    Similarity.cosineTopK(emb.filter(col("id") < 50), emb, 3)
      .orderBy("qid", "nid")
  }

  val annMatryoshkaSql: String =
    """WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |t AS (SELECT * FROM u WHERE i <= 16),
      |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM t GROUP BY 1),
      |d AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid, SUM(q.v * c.v) AS dot
      |  FROM t q JOIN t c ON q.i = c.i AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 50
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT qid, nid,
      |    ROUND(dot / (nq.nrm * nc.nrm), 5) AS cos
      |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON nid = nc.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM s)
      |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** RAG-style OVERLAPPING chunking: fixed-size token windows with a
    * stride (size 12, stride 6 → 50% overlap), the retrieval-index
    * preprocessing shape (overlap keeps a fact split across a chunk
    * boundary retrievable from at least one chunk). One narrow
    * projection, no shuffle — the window arithmetic is
    * sequence+slice, codegen'd. Complements the CDC chunker
    * (insertion-robust boundaries) and the fixed-grid chunk dedup. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val size = 12
    val stride = 6
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(lit(0),
          ceil((org.apache.spark.sql.functions.size(col("toks")) - lit(size))
            .cast("double") / stride).cast("int")))).as("ci"))
      .select(col("doc_id"), col("ci").as("chunk_id"),
        array_join(slice(col("toks"), col("ci") * stride + 1, lit(size)),
          " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOverlapSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |        unnest(generate_series(0, GREATEST(0,
      |          CAST(CEIL((len(toks) - 12) / 6.0) AS INT)))) AS ci
      |      FROM t)
      |SELECT doc_id, ci AS chunk_id,
      |  array_to_string(toks[ci*6+1 : ci*6+12], ' ') AS chunk
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Binary-quantized ANN ([[Similarity.binaryTopK]]): sign bits
    * packed into 32-bit words (BBQ-style 1-bit compression), Hamming
    * prefilter to 20 candidates per query, exact cosine rerank to
    * top-3. The oracle replays the whole pipeline — packing (exact
    * power-of-two sums), xor+bit_count Hamming, the (ham, nid)
    * shortlist rank, and the rounded-cosine rerank — so a single
    * wrong bit anywhere reorders the shortlist and hash-mismatches. */
  def annBinary(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.binaryTopK(emb.filter(col("id") < 3), emb, 64, 20, 3)
      .orderBy("qid", "nid")
  }

  val annBinarySql: String =
    """WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |pw AS (
      |  SELECT vec_id, i // 32 AS w,
      |    SUM(CASE WHEN v > 0 THEN CAST(POWER(2, i % 32) AS BIGINT)
      |        ELSE 0 END) AS word
      |  FROM u GROUP BY 1, 2),
      |ham AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid,
      |    SUM(bit_count(xor(q.word, c.word))) AS ham
      |  FROM pw q JOIN pw c ON q.w = c.w AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 3 GROUP BY 1, 2),
      |short AS (
      |  SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, nid) AS prk
      |  FROM ham),
      |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
      |d AS (
      |  SELECT s.qid, s.nid, SUM(q.v * c.v) AS dot
      |  FROM short s
      |  JOIN u q ON q.vec_id = s.qid JOIN u c ON c.vec_id = s.nid
      |    AND q.i = c.i
      |  WHERE s.prk <= 20 GROUP BY 1, 2),
      |sc AS (
      |  SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 5) AS cos
      |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON nid = nc.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      |      FROM sc)
      |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** Binary ANN served AT REST ([[Similarity.binaryTopKAtRest]]): the
    * packed sign-bit index persisted next to the float vectors, the
    * Hamming prefilter reading only the (id, bwords) columns of the
    * index files (32× less I/O than the float slice — parquet column
    * pruning, spec-asserted), the rerank a DISTRIBUTED semi-join of
    * the shortlist against the float columns (default path — nothing
    * through the driver; `idPushdown = true` remains the small-batch
    * `id IN (…)` row-group-pruning variant). Output must be IDENTICAL
    * to the inline `q_ann_binary` — same oracle SQL. */
  def annBinaryRest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = Queries.fixturePath(spark, dir, "binidx")
    Memo.once(path) {
      Similarity.binaryIndexWrite(emb, 64, path)
    }
    Similarity.binaryTopKAtRest(spark, emb.filter(col("id") < 3),
        path, 64, 20, 3)
      .orderBy("qid", "nid")
  }

  /** Binary ANN served from the GENERATIONAL index ([[VecIndex]], r10):
    * the index is built as a LIFECYCLE — init on half the corpus, the
    * rest folded in as an append generation, one id tombstoned and
    * re-appended (the re-embed cycle) — so the live set equals the
    * full corpus and the serve output must be IDENTICAL to the inline
    * `q_ann_binary` (same oracle SQL). This is the oracle-gated proof
    * that corpus growth appends instead of rewriting: the driver gate
    * replays the Hamming+rerank answer against an index whose commit
    * log holds base+seg+del+seg generations. */
  def annBinaryGen(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-gen")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half), 64, path)
      VecIndex.append(emb.filter(col("id") > half), idx)
      // re-embed cycle: tombstone one id, fold its vector back in —
      // the serve path then exercises the gen-aware anti-join while
      // the live set stays the full corpus
      import spark.implicits._
      VecIndex.delete(Seq(5L).toDF("id"), "id", idx)
      VecIndex.append(emb.filter(col("id") === 5L), idx)
    }
    VecIndex.binaryTopK(spark,
        emb.filter(col("id") < 3), VecIndex.open(spark, path), 20, 3)
      .orderBy("qid", "nid")
  }

  /** Build-or-reuse the shared generational IVF fixture and return
    * the opened index WITHOUT serving from it. Every composed query
    * riding this fixture (hybrid family, eval family, probed-binary)
    * previously "ensured" it via `annIvfGen(..).count()` — a full
    * probed ivfTopK serve (~0.7 s at sf0.1) whose result was thrown
    * away, paid on EVERY timed pass because only the build block is
    * memoized. Factoring the build out makes ensuring the fixture
    * O(memo hit) after the first call. */
  private def ivfGenIdx(spark: SparkSession, dir: String): VecIndex.Index = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-ivfgen")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half), 64, path,
        centroids = Some(centroids), cbBuckets = 4)
      VecIndex.append(emb.filter(col("id") > half), idx)
    }
    VecIndex.open(spark, path)
  }

  /** IVF served from the same generational index machinery: codebook
    * installed at init, corpus folded in two generations, probed
    * buckets pruning the generation scan. Output identical to the
    * inline `q_ann_ivf` — same oracle SQL. */
  def annIvfGen(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    VecIndex.ivfTopK(spark,
        emb.filter(col("id") < 50), ivfGenIdx(spark, dir), 2, 3)
      .orderBy("qid", "nid")
  }

  /** IVF serve from an INCREMENTALLY-maintained generational index:
    * same lifecycle as q_ann_ivf_gen plus a re-embed cycle (delete +
    * re-append of one id), then [[VecIndex.compactIncremental]] — the
    * cluster-granular fold that rewrites only the cb buckets the
    * delta generations touched and CARRIES the clean cluster dirs by
    * reference — and [[VecIndex.vacuum]] (which must keep every
    * carried dir). The live set equals the full corpus, so the serve
    * must be IDENTICAL to the inline `q_ann_ivf` (same oracle SQL):
    * a lost carried cluster surfaces as missing neighbors, a broken
    * tombstone consolidation as a duplicated nid. */
  def annIvfInc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-ivfinc")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half), 64, path,
        centroids = Some(centroids), cbBuckets = 8)
      VecIndex.append(emb.filter(col("id") > half), idx)
      import spark.implicits._
      VecIndex.delete(Seq(5L).toDF("id"), "id", idx)
      VecIndex.append(emb.filter(col("id") === 5L), idx)
      VecIndex.compactIncremental(spark, idx)
      VecIndex.vacuum(spark, idx)
    }
    VecIndex.ivfTopK(spark,
        emb.filter(col("id") < 50), VecIndex.open(spark, path), 2, 3)
      .orderBy("qid", "nid")
  }

  /** IVF×binary composed serve ([[VecIndex.binaryTopKProbed]]): probe
    * 2 of the 8 installed centroids per query, Hamming-prefilter ONLY
    * the probed lists (pruned to their cb bucket dirs at planning
    * time), exact-cosine rerank. Rides the SAME generational fixture
    * as q_ann_ivf_gen — both bwords and cid live in the same rows.
    * The oracle replays the full composition: cosine probe (rk<=2),
    * rk=1 assignment, candidate restriction to probed clusters,
    * xor+bit_count Hamming shortlist, rounded-cosine rerank — the
    * probed-candidate restriction is the point (a full-corpus Hamming
    * would surface different candidates and hash-mismatch). */
  def annBinaryIvfGen(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    VecIndex.binaryTopKProbed(spark,
        emb.filter(col("id") < 3), ivfGenIdx(spark, dir),
        nProbe = 2, cands = 20, k = 3)
      .orderBy("qid", "nid")
  }

  val annBinaryIvfGenSql: String =
    """WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
      |cc AS (
      |  SELECT e.vec_id AS id, c.vec_id AS cid,
      |    ROUND(SUM(eu.v * cu.v) / (ne.nrm * nc.nrm), 5) AS ccos
      |  FROM embeddings e JOIN embeddings c ON c.vec_id < 8
      |  JOIN u eu ON eu.vec_id = e.vec_id
      |  JOIN u cu ON cu.vec_id = c.vec_id AND cu.i = eu.i
      |  JOIN n ne ON ne.vec_id = e.vec_id
      |  JOIN n nc ON nc.vec_id = c.vec_id
      |  GROUP BY 1, 2, ne.nrm, nc.nrm),
      |assigned AS (
      |  SELECT id, cid FROM (
      |    SELECT id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
      |    FROM cc) WHERE rk = 1),
      |probes AS (
      |  SELECT id AS qid, cid FROM (
      |    SELECT id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
      |    FROM cc WHERE id < 3) WHERE rk <= 2),
      |pw AS (
      |  SELECT vec_id, i // 32 AS w,
      |    SUM(CASE WHEN v > 0 THEN CAST(POWER(2, i % 32) AS BIGINT)
      |        ELSE 0 END) AS word
      |  FROM u GROUP BY 1, 2),
      |cand AS (
      |  SELECT p.qid, a.id AS nid
      |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.qid <> a.id),
      |ham AS (
      |  SELECT c.qid, c.nid, SUM(bit_count(xor(qw.word, nw.word))) AS ham
      |  FROM cand c
      |  JOIN pw qw ON qw.vec_id = c.qid
      |  JOIN pw nw ON nw.vec_id = c.nid AND nw.w = qw.w
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, nid) AS prk
      |  FROM ham),
      |d AS (
      |  SELECT s.qid, s.nid, SUM(q.v * c.v) AS dot
      |  FROM short s
      |  JOIN u q ON q.vec_id = s.qid JOIN u c ON c.vec_id = s.nid
      |    AND q.i = c.i
      |  WHERE s.prk <= 20 GROUP BY 1, 2),
      |sc AS (
      |  SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 5) AS cos
      |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON nid = nc.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      |      FROM sc)
      |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** IVF serve AFTER a codebook retrain roll ([[VecIndex.retrain]],
    * r11): the index is built exactly like q_ann_ivf_gen's fixture
    * (init on half the corpus with centroids 0-7, append the rest),
    * then ROLLED onto a new codebook (vectors 8-15) — staged sidecar
    * install + compact-shaped re-encode whose atomic swap is the new
    * base generation's marker. The oracle replays plain IVF with the
    * NEW centroid set: post-roll serve must be indistinguishable from
    * an index born with that codebook (probing, assignment, and the
    * probed-bucket pruning all against version 1). */
  def annIvfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centA = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val centB = emb.filter(col("id") >= 8 && col("id") < 16)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-ivfretrain")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half), 64, path,
        centroids = Some(centA), cbBuckets = 4)
      VecIndex.append(emb.filter(col("id") > half), idx)
      VecIndex.retrain(spark, idx, centroids = Some(centB))
    }
    VecIndex.ivfTopK(spark,
        emb.filter(col("id") < 50), VecIndex.open(spark, path), 2, 3)
      .orderBy("qid", "nid")
  }

  val annIvfRetrainSql: String =
    s"""${ivfScoredCteFor("c.vec_id >= 8 AND c.vec_id < 16")},
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |      FROM scored)
       |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** Binary ANN served from an index built by STREAMING ingest: the
    * embedding corpus staged as a 3-file directory, each file one
    * micro-batch, folded through [[VecIndex.appendBatch]] (exactly-once
    * via the batch-id marker) on top of an empty base. The serve
    * output must be IDENTICAL to the inline `q_ann_binary` — the
    * oracle-gated proof that a continuously-ingesting embedding index
    * converges to the batch-built one. */
  def annBinaryStream(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-stream")
    Memo.once(path) {
      val inDir = Queries.fixturePath(spark, dir, "vecidx-stream-in")
      emb.repartition(3, col("id"))
        .write.mode("overwrite").parquet(inDir)
      val idx = VecIndex.init(emb.limit(0), 64, path)
      val schema = spark.read.parquet(inDir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VecIndex.appendBatch(b, idx, id); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    VecIndex.binaryTopK(spark,
        emb.filter(col("id") < 3), VecIndex.open(spark, path), 20, 3)
      .orderBy("qid", "nid")
  }

  /** Sign-LSH bucket occupancy over the embedding corpus (8 planes). */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    emb.withColumn("bucket", Similarity.lshBucket(col("vec"), 8))
      .groupBy("bucket").agg(count("*").as("cnt"))
      .orderBy("bucket")
  }

  val annLshBucketsSql: String = {
    val planeTerms = (0 until 8).map { i =>
      s"""SUM(v * ((((${Dedup.MinhashA(i)} * i + ${Dedup.MinhashB(i)}) % 97) - 48) / 48.0))"""
    }
    val bits = planeTerms.zipWithIndex.map { case (t, i) =>
      s"CASE WHEN $t > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH u AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, $bits AS bucket FROM u GROUP BY vec_id)
       |SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** LSH-bucketed embedding near-dup pairs: bucket-collision candidates
    * verified with exact cosine >= 0.1 (the scale path for
    * embedding-cosine dedup — cost follows bucket occupancy). */
  def annNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.cosineNearDup(emb, 0.1).orderBy("ida", "idb")
  }

  val annNearDupSql: String = {
    val planeTerms = (0 until 8).map { i =>
      s"""SUM(v * ((((${Dedup.MinhashA(i)} * i + ${Dedup.MinhashB(i)}) % 97) - 48) / 48.0))"""
    }
    val bits = planeTerms.zipWithIndex.map { case (t, i) =>
      s"CASE WHEN $t > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH u AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
       |b AS (SELECT vec_id, $bits AS bucket FROM u GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS ida, b2.vec_id AS idb
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
       |d AS (
       |  SELECT p.ida, p.idb, SUM(ua.v * ub.v) AS dot
       |  FROM pairs p
       |  JOIN u ua ON ua.vec_id = p.ida
       |  JOIN u ub ON ub.vec_id = p.idb AND ua.i = ub.i
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT ida, idb, ROUND(dot / (na.nrm * nb.nrm), 5) AS cos
       |  FROM d JOIN n na ON ida = na.vec_id JOIN n nb ON idb = nb.vec_id)
       |SELECT ida, idb, cos FROM s WHERE cos >= 0.1 ORDER BY 1, 2""".stripMargin
  }

  /** Oracle-side sign-LSH bucket bits over planes [offset, offset+n). */
  private def lshBitsSql(offset: Int, n: Int): String =
    (0 until n).map { i =>
      val p = offset + i
      s"CASE WHEN SUM(v * ((((${Dedup.MinhashA(p)} * i + ${Dedup.MinhashB(p)}) % 97) - 48) / 48.0)) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")

  /** Multi-table LSH near-dup: 2 independent tables of 8 planes each,
    * candidates = union of per-table collisions, exact cosine >= 0.1
    * verify (the recall knob over q_ann_neardup's single table). */
  def annNearDupMulti(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.lshNearDupMulti(emb, 2, 8, 0.1).orderBy("ida", "idb")
  }

  val annNearDupMultiSql: String =
    s"""WITH u AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
       |b0 AS (SELECT vec_id, ${lshBitsSql(0, 8)} AS bucket FROM u GROUP BY vec_id),
       |b1 AS (SELECT vec_id, ${lshBitsSql(8, 8)} AS bucket FROM u GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb
       |  FROM b0 a JOIN b0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  UNION
       |  SELECT a.vec_id, b.vec_id
       |  FROM b1 a JOIN b1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |d AS (
       |  SELECT p.ida, p.idb, SUM(ua.v * ub.v) AS dot
       |  FROM pairs p
       |  JOIN u ua ON ua.vec_id = p.ida
       |  JOIN u ub ON ub.vec_id = p.idb AND ua.i = ub.i
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT ida, idb, ROUND(dot / (na.nrm * nb.nrm), 5) AS cos
       |  FROM d JOIN n na ON ida = na.vec_id JOIN n nb ON idb = nb.vec_id)
       |SELECT ida, idb, cos FROM s WHERE cos >= 0.1 ORDER BY 1, 2""".stripMargin

  /** IVF approximate top-3 neighbors: 8 coarse centroids (the first 8
    * corpus vectors), queries probe their 2 nearest clusters. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    Similarity.ivfTopK(emb.filter(col("id") < 50), emb, centroids, 2, 3)
      .orderBy("qid", "nid")
  }

  /** Shared oracle CTE chain for the IVF rows: component table, norms,
    * all-pairs centroid cosines, rk=1 assignment, rk<=2 probes, and
    * the probed-cluster candidate scoring (same shape q_ann_ivf has
    * certified since round 3). */
  /** The IVF replay CTE chain, parameterized on the centroid-set
    * predicate so the retrain oracle can swap codebooks. */
  private def ivfScoredCteFor(centPred: String,
      candPred: String = "TRUE"): String =
    s"""WITH u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM u GROUP BY 1),
      |cc AS (
      |  SELECT e.vec_id AS id, c.vec_id AS cid,
      |    ROUND(SUM(eu.v * cu.v) / (ne.nrm * nc.nrm), 5) AS ccos
      |  FROM embeddings e JOIN embeddings c ON $centPred
      |  JOIN u eu ON eu.vec_id = e.vec_id
      |  JOIN u cu ON cu.vec_id = c.vec_id AND cu.i = eu.i
      |  JOIN n ne ON ne.vec_id = e.vec_id
      |  JOIN n nc ON nc.vec_id = c.vec_id
      |  GROUP BY 1, 2, ne.nrm, nc.nrm),
      |assigned AS (
      |  SELECT id, cid FROM (
      |    SELECT id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
      |    FROM cc) WHERE rk = 1),
      |probes AS (
      |  SELECT id AS qid, cid FROM (
      |    SELECT id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
      |    FROM cc WHERE id < 50) WHERE rk <= 2),
      |cand AS (
      |  SELECT p.qid, a.id AS nid
      |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.qid <> a.id
      |    AND ($candPred)),
      |scored AS (
      |  SELECT cand.qid, cand.nid,
      |    ROUND(SUM(qu.v * nu.v) / (nq.nrm * nn.nrm), 5) AS cos
      |  FROM cand
      |  JOIN u qu ON qu.vec_id = cand.qid
      |  JOIN u nu ON nu.vec_id = cand.nid AND nu.i = qu.i
      |  JOIN n nq ON nq.vec_id = cand.qid
      |  JOIN n nn ON nn.vec_id = cand.nid
      |  GROUP BY 1, 2, nq.nrm, nn.nrm)""".stripMargin

  private val ivfScoredCte: String = ivfScoredCteFor("c.vec_id < 8")

  val annIvfSql: String =
    s"""$ivfScoredCte,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |      FROM scored)
       |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** FILTERED (hybrid) ANN serve: metadata predicate + cosine top-k
    * over the generational IVF index — the `WHERE lang = 'en' ORDER BY
    * cos DESC LIMIT 3` shape every production vector search runs. The
    * `lang` column is ingested as index METADATA at init/append (any
    * non-(id, vec) column is), and [[VecIndex.ivfTopK]]'s `filter`
    * applies it on the probed lists scan BEFORE ranking — k stays full
    * among matching rows, where post-filtering an unfiltered top-k
    * silently under-fills (spec-pinned in VecIndexSpec). The oracle
    * replays plain IVF with candidates restricted to matching ids. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tagged = emb.withColumn("lang",
      when(pmod(col("id"), lit(3)) === 0, "en").otherwise("xx"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-filtered")
    Memo.once(path) {
      val half = tagged.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(tagged.filter(col("id") <= half), 64, path,
        centroids = Some(centroids), cbBuckets = 4)
      VecIndex.append(tagged.filter(col("id") > half), idx)
    }
    VecIndex.ivfTopK(spark, emb.filter(col("id") < 50),
        VecIndex.open(spark, path), 2, 3,
        filter = Some(col("lang") === "en"))
      .orderBy("qid", "nid")
  }

  val annFilteredSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8", "a.id % 3 = 0")},
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |      FROM scored)
       |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  /** MULTI-VECTOR (max-sim) document ranking
    * ([[VecIndex.maxSimTopK]]): the index holds chunk-level
    * embeddings with the parent doc id as metadata (synthetic
    * chunk→doc map: `doc = vec_id div 4`, four chunks per doc), a
    * query retrieves its top-8 chunk candidates through the probed
    * IVF serve, and docs rank by the MAX of their retrieved chunks'
    * cosines to a top-3 — the ColBERT-lite serve shape for RAG over
    * passage embeddings. The oracle replays probe → chunk top-8 →
    * per-doc max → per-qid rank end to end. */
  /** Build-or-reuse the shared chunk-level (max-sim) fixture WITHOUT
    * serving — same rationale as [[ivfGenIdx]]: q_ann_colbert used to
    * pay a discarded maxSimTopK serve per pass just to ensure it. */
  private def maxsimIdx(spark: SparkSession, dir: String): VecIndex.Index = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val chunks = emb.withColumn("doc", expr("id div 4"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-maxsim")
    Memo.once(path) {
      val half = chunks.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(chunks.filter(col("id") <= half), 64, path,
        centroids = Some(centroids), cbBuckets = 4)
      VecIndex.append(chunks.filter(col("id") > half), idx)
    }
    VecIndex.open(spark, path)
  }

  def annMaxsim(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    VecIndex.maxSimTopK(spark, emb.filter(col("id") < 20),
        maxsimIdx(spark, dir), "doc", nProbe = 2, nChunks = 8,
        k = 3)
      .orderBy("qid", "doc")
  }

  val annMaxsimSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |chnk AS (
       |  SELECT qid, nid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |      AS rk
       |  FROM scored WHERE qid < 20),
       |agg AS (
       |  SELECT qid, CAST(nid // 4 AS BIGINT) AS doc, MAX(cos) AS score
       |  FROM chnk WHERE rk <= 8 GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, doc, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc)
       |      AS rk
       |  FROM agg)
       |SELECT qid, doc, score FROM r WHERE rk <= 3
       |ORDER BY qid, doc""".stripMargin

  /** OFFLINE RETRIEVAL EVAL ([[Eval.rankMetrics]]): the probed IVF
    * serve (nProbe=2, top-10) graded per query against EXACT-cosine
    * top-3 qrels (graded rel 3/2/1 by true rank) — recall@10,
    * reciprocal rank, nDCG@10 per qid, the measurement loop a serving
    * stack runs per index generation. The oracle replays BOTH sides
    * (probed candidates, exact truth) and every metric formula. */
  /** Shared eval fixture: (probed-serve results, exact-cosine graded
    * qrels) — used by BOTH eval oracle rows so the two can never
    * silently grade different setups. */
  private def evalServe(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = emb.filter(col("id") < 20)
    val results = VecIndex.ivfTopK(spark, qs, vIdx, 2, 10)
      .select(col("qid"), col("nid").as("id"), col("cos").as("score"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    val qrels = Similarity.cosineTopK(qs, emb, 3)
      .withColumn("rel", lit(4) - row_number().over(wt))
      .select(col("qid"), col("nid").as("id"), col("rel"))
    (results, qrels)
  }

  def evalRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val (results, qrels) = evalServe(spark, dir)
    Eval.rankMetrics(results, qrels, 10).orderBy("qid")
  }

  private val evalTruthCte: String =
    """tu AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |tn AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM tu GROUP BY 1),
      |td AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS id, SUM(q.v * c.v) AS dot
      |  FROM tu q JOIN tu c ON q.i = c.i AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 20
      |  GROUP BY 1, 2),
      |ts AS (
      |  SELECT qid, id, ROUND(dot / (nq.nrm * nc.nrm), 5) AS tcos
      |  FROM td JOIN tn nq ON qid = nq.vec_id
      |    JOIN tn nc ON id = nc.vec_id),
      |truth AS (
      |  SELECT qid, id, 4 - rk AS rel FROM (
      |    SELECT qid, id,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY tcos DESC, id)
      |        AS rk
      |    FROM ts) WHERE rk <= 3),
      |ranked AS (
      |  SELECT qid, nid AS id, rk AS rank FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
      |        AS rk
      |    FROM scored WHERE qid < 20) WHERE rk <= 10)""".stripMargin

  val evalRetrievalSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |$evalTruthCte,
       |hits AS (
       |  SELECT ranked.qid, ranked.rank,
       |    COALESCE(truth.rel, 0) AS rel
       |  FROM ranked LEFT JOIN truth
       |    ON ranked.qid = truth.qid AND ranked.id = truth.id),
       |perq AS (
       |  SELECT qid,
       |    SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
       |    COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0) AS frst,
       |    SUM(rel / (LN(rank + 1.0) / LN(2.0))) AS dcg
       |  FROM hits GROUP BY 1),
       |ideal AS (
       |  SELECT qid, COUNT(*) AS nrel,
       |    SUM(CASE WHEN irk <= 10
       |      THEN rel / (LN(irk + 1.0) / LN(2.0)) ELSE 0 END) AS idcg
       |  FROM (
       |    SELECT qid, rel,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, id)
       |        AS irk
       |    FROM truth) GROUP BY 1)
       |SELECT COALESCE(perq.qid, ideal.qid) AS qid,
       |  ROUND(COALESCE(CAST(hits AS DOUBLE) / nrel, 0), 6) AS recall_k,
       |  ROUND(CASE WHEN COALESCE(frst, 0) > 0 THEN 1.0 / frst
       |    ELSE 0 END, 6) AS rr,
       |  ROUND(CASE WHEN COALESCE(idcg, 0) > 0
       |    THEN COALESCE(dcg, 0) / idcg ELSE 0 END, 6) AS ndcg_k
       |FROM perq FULL OUTER JOIN ideal ON perq.qid = ideal.qid
       |ORDER BY COALESCE(perq.qid, ideal.qid)""".stripMargin

  /** CORPUS-LEVEL EVAL SUMMARY ([[Eval.summary]]): the per-query
    * metrics of `q_eval_retrieval` collapsed to the one dashboard row
    * — (n_queries, mean recall@10, MRR, mean nDCG@10). Means are
    * exact-decimal sums divided once (bit-reproducible across
    * engines); the oracle replays the whole per-query grading and the
    * same aggregation. */
  def evalSummary(spark: SparkSession, dir: String): DataFrame = {
    val (results, qrels) = evalServe(spark, dir)
    Eval.summary(results, qrels, 10)
  }

  val evalSummarySql: String =
    s"""SELECT COUNT(*) AS n_queries,
       |  ROUND(CAST(SUM(CAST(recall_k AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_recall_k,
       |  ROUND(CAST(SUM(CAST(rr AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mrr,
       |  ROUND(CAST(SUM(CAST(ndcg_k AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_ndcg_k
       |FROM (
       |$evalRetrievalSql
       |) t""".stripMargin

  /** The CALL face of the eval loop
    * (`CALL graft_sql.system.eval_retrieval(results, qrels, k)`): the
    * SAME fixture frames as `q_eval_retrieval` registered as views and
    * graded through the SQL procedure — certified by the SAME oracle,
    * pinning the SQL face bit-for-bit to [[Eval.rankMetrics]]. The
    * serving tier is thereby fully SQL-drivable end to end: serve
    * (`bm25`/`ann_topk`/`hybrid_topk`) AND measurement. */
  def evalSql(spark: SparkSession, dir: String): DataFrame = {
    val (results, qrels) = evalServe(spark, dir)
    results.createOrReplaceTempView("graft_eval_results")
    qrels.createOrReplaceTempView("graft_eval_qrels")
    spark.conf.set("spark.sql.catalog.graft_sql",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse",
      "target/tmp/graft-sql-warehouse")
    spark.sql("CALL graft_sql.system.eval_retrieval(" +
        "'graft_eval_results', 'graft_eval_qrels', 10)")
      .orderBy("qid")
  }

  /** HARD-NEGATIVE mining ([[Eval.hardNegatives]]): per query, the 5
    * best-ranked probed-serve candidates that are NOT among the
    * exact-cosine top-3 truth — the contrastive pairs a dense
    * retriever mines from its own index. */
  def evalNegatives(spark: SparkSession, dir: String): DataFrame = {
    val (results, qrels) = evalServe(spark, dir)
    Eval.hardNegatives(results, qrels, 5).orderBy("qid", "neg_rank")
  }

  val evalNegativesSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |$evalTruthCte,
       |negs AS (
       |  SELECT s2.qid, s2.nid AS id, s2.cos
       |  FROM scored s2 LEFT JOIN truth
       |    ON s2.qid = truth.qid AND s2.nid = truth.id
       |  WHERE s2.qid < 20 AND truth.id IS NULL),
       |rankedneg AS (
       |  SELECT qid, id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id)
       |      AS neg_rank
       |  FROM negs)
       |SELECT qid, id, neg_rank FROM rankedneg WHERE neg_rank <= 5
       |ORDER BY qid, neg_rank""".stripMargin

  /** FULL ColBERT late-interaction serve
    * ([[VecIndex.maxSimTopKMulti]]): each query is TWO token
    * embeddings, docs are 4-chunk groups (`doc = vec_id div 4`), and
    * a doc scores the SUM over query tokens of the MAX cosine over
    * its retrieved chunks (top-8 per token through the probed IVF
    * read). The oracle replays probe → per-token chunk top-8 →
    * per-(token, doc) max → per-doc sum → per-qid rank end to end. */
  def annColbert(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idx = maxsimIdx(spark, dir)
    import spark.implicits._
    val qmap = Seq((0L, 20L), (0L, 21L), (1L, 22L), (1L, 23L),
      (2L, 24L), (2L, 25L)).toDF("qid", "qtok")
    val queries = qmap.join(emb.withColumnRenamed("id", "qtok"), "qtok")
    VecIndex.maxSimTopKMulti(spark, queries, idx, "doc", nProbe = 2,
        nChunks = 8, k = 3)
      .orderBy("qid", "doc")
  }

  val annColbertSql: String =
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |chnk AS (
       |  SELECT qid AS qtok, nid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |      AS rk
       |  FROM scored WHERE qid >= 20 AND qid < 26),
       |qt AS (
       |  SELECT CAST(q AS BIGINT) AS qid, CAST(t AS BIGINT) AS qtok
       |  FROM (VALUES (0, 20), (0, 21), (1, 22), (1, 23),
       |    (2, 24), (2, 25)) v(q, t)),
       |permax AS (
       |  SELECT qt.qid, CAST(nid // 4 AS BIGINT) AS doc, chnk.qtok,
       |    MAX(cos) AS mx
       |  FROM chnk JOIN qt ON chnk.qtok = qt.qtok
       |  WHERE rk <= 8 GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT qid, doc, ROUND(SUM(mx), 5) AS score
       |  FROM permax GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, doc, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc)
       |      AS rk
       |  FROM agg)
       |SELECT qid, doc, score FROM r WHERE rk <= 3
       |ORDER BY qid, doc""".stripMargin

  /** HYBRID retrieval ([[Hybrid.hybridTopK]]): BM25 top-20 for the
    * standard term set from the at-rest inverted index + cosine
    * top-20 for embedding 0 from the generational IVF index (probed,
    * nProbe=2), fused by reciprocal rank fusion (k0=60) to a top-10.
    * Both candidate reads stay pruned (|terms| buckets; probed cb
    * dirs) and the fusion touches only the 40 candidate rows. The
    * oracle replays BOTH retrieval formulas (the q_search_bm25 and
    * q_ann_ivf CTEs) and the RRF arithmetic end to end. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Hybrid.hybridTopK(spark, sIdx, vIdx, SearchTerms,
        emb.filter(col("id") === 0), nProbe = 2, nLex = 20, nSem = 20,
        k0 = 60, topK = 10)
      .orderBy("id")
  }

  val hybridSearchSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |sem AS (
       |  SELECT nid AS id, rk AS r FROM (
       |    SELECT nid, ROW_NUMBER() OVER (ORDER BY cos DESC, nid) AS rk
       |    FROM scored WHERE qid = 0) WHERE rk <= 20),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1),
       |lex AS (
       |  SELECT id, rk AS r FROM (
       |    SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rk
       |    FROM bsc) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem ON l.id = sem.id),
       |topf AS (
       |  SELECT id, rrf, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM fused)
       |SELECT id, rrf FROM topf WHERE rk <= 10 ORDER BY id""".stripMargin
  }

  /** FILTERED hybrid retrieval: [[hybridSearch]] with the `lang='en'`
    * metadata predicate bound to BOTH sides, below each retriever's
    * top-k — the semantic read takes it on the probed scan (candidates
    * restricted like q_ann_filtered) and the lexical side runs
    * [[Search.searchBm25]]'s own filtered serve (the text index stores
    * `lang` as doc metadata), so BOTH top-20 lists stay full among
    * matching docs. The oracle replays the whole composition:
    * candidate-restricted IVF, candidate-restricted BM25 (corpus
    * constants unfiltered — Lucene filtered-query semantics), RRF. */
  /** Build-or-reuse the lang-tagged vector fixture WITHOUT serving —
    * same rationale as [[ivfGenIdx]]: q_hybrid_batch_filtered used to
    * "ensure" it by running the ENTIRE single-query hybridFiltered
    * serve (~1.2 s at sf0.1) and discarding the result. */
  private def hybridFltIdx(spark: SparkSession, dir: String): VecIndex.Index = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // the vector index stores the REAL documents.lang as metadata, so
    // the one predicate means the same thing on both sides
    val tagged = emb.join(Tables.read(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("lang")), "id")
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-hybridflt")
    Memo.once(path) {
      val half = tagged.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(tagged.filter(col("id") <= half), 64, path,
        centroids = Some(centroids), cbBuckets = 4)
      VecIndex.append(tagged.filter(col("id") > half), idx)
    }
    VecIndex.open(spark, path)
  }

  def hybridFiltered(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Hybrid.hybridTopK(spark, sIdx, hybridFltIdx(spark, dir),
        SearchTerms, emb.filter(col("id") === 0), nProbe = 2, nLex = 20,
        nSem = 20, k0 = 60, topK = 10,
        filter = Some(col("lang") === "en"))
      .orderBy("id")
  }

  val hybridFilteredSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""${ivfScoredCteFor("c.vec_id < 8",
        "a.id IN (SELECT doc_id FROM documents WHERE lang = 'en')")},
       |sem AS (
       |  SELECT nid AS id, rk AS r FROM (
       |    SELECT nid, ROW_NUMBER() OVER (ORDER BY cos DESC, nid) AS rk
       |    FROM scored WHERE qid = 0) WHERE rk <= 20),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1),
       |lex AS (
       |  SELECT id, rk AS r FROM (
       |    SELECT bsc.id,
       |      ROW_NUMBER() OVER (ORDER BY score DESC, bsc.id) AS rk
       |    FROM bsc JOIN documents doc ON bsc.id = doc.doc_id
       |    WHERE doc.lang = 'en') WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem ON l.id = sem.id),
       |topf AS (
       |  SELECT id, rrf, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM fused)
       |SELECT id, rrf FROM topf WHERE rk <= 10 ORDER BY id""".stripMargin
  }

  /** WEIGHTED hybrid fusion ([[Hybrid.rrf]] with per-list weights):
    * the same two candidate lists as [[hybridSearch]] fused
    * lexical-heavy — `0.75/(k0+r_lex) + 0.25/(k0+r_sem)` — the
    * first knob every hybrid deployment tunes. Oracle replays the
    * weighted RRF arithmetic end to end. */
  def hybridWeighted(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val lex = Search.searchBm25(spark, sIdx, SearchTerms, topK = 20)
    val sem = VecIndex.ivfTopK(spark, emb.filter(col("id") === 0),
      vIdx, 2, 20)
    Hybrid.rrf(Seq((lex, "id", "score"), (sem, "nid", "cos")),
        k0 = 60, topK = 10, weights = Seq(0.75, 0.25))
      .orderBy("id")
  }

  val hybridWeightedSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |sem AS (
       |  SELECT nid AS id, rk AS r FROM (
       |    SELECT nid, ROW_NUMBER() OVER (ORDER BY cos DESC, nid) AS rk
       |    FROM scored WHERE qid = 0) WHERE rk <= 20),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1),
       |lex AS (
       |  SELECT id, rk AS r FROM (
       |    SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rk
       |    FROM bsc) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(0.75 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(0.25 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem ON l.id = sem.id),
       |topf AS (
       |  SELECT id, rrf, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM fused)
       |SELECT id, rrf FROM topf WHERE rk <= 10 ORDER BY id""".stripMargin
  }

  /** MIN-MAX score fusion ([[Hybrid.minMaxFuse]]): the same two
    * candidate lists, each normalized to [0, 1] over its own top-20
    * (`(s - min) / (max - min)`), weighted 0.75/0.25 and summed —
    * the rank-free fusion that keeps score magnitude. Oracle replays
    * both normalizations and the weighted sum. */
  def hybridMinmax(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val lex = Search.searchBm25(spark, sIdx, SearchTerms, topK = 20)
    val sem = VecIndex.ivfTopK(spark, emb.filter(col("id") === 0),
      vIdx, 2, 20)
    Hybrid.minMaxFuse(Seq((lex, "id", "score"), (sem, "nid", "cos")),
        weights = Seq(0.75, 0.25), topK = 10)
      .orderBy("id")
  }

  val hybridMinmaxSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |sem AS (
       |  SELECT nid AS id, cos FROM (
       |    SELECT nid, cos,
       |      ROW_NUMBER() OVER (ORDER BY cos DESC, nid) AS rk
       |    FROM scored WHERE qid = 0) WHERE rk <= 20),
       |smm AS (SELECT MIN(cos) AS mn, MAX(cos) AS mx FROM sem),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN ($termList) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok), stats GROUP BY 1),
       |lex AS (
       |  SELECT id, score FROM (
       |    SELECT id, score,
       |      ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rk
       |    FROM bsc) WHERE rk <= 20),
       |lmm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM lex),
       |lnorm AS (
       |  SELECT id, CAST(0.75 AS DOUBLE) * (CASE WHEN lmm.mx = lmm.mn
       |    THEN 1.0 ELSE (score - lmm.mn) / (lmm.mx - lmm.mn) END) AS c
       |  FROM lex, lmm),
       |snorm AS (
       |  SELECT id, CAST(0.25 AS DOUBLE) * (CASE WHEN smm.mx = smm.mn
       |    THEN 1.0 ELSE (cos - smm.mn) / (smm.mx - smm.mn) END) AS c
       |  FROM sem, smm),
       |fusedt AS (
       |  SELECT COALESCE(l.id, s.id) AS id,
       |    ROUND(COALESCE(l.c, 0) + COALESCE(s.c, 0), 8) AS fused
       |  FROM lnorm l FULL OUTER JOIN snorm s ON l.id = s.id),
       |topf AS (
       |  SELECT id, fused,
       |    ROW_NUMBER() OVER (ORDER BY fused DESC, id) AS rk
       |  FROM fusedt)
       |SELECT id, fused FROM topf WHERE rk <= 10 ORDER BY id""".stripMargin
  }

  /** BATCHED hybrid retrieval ([[Hybrid.hybridTopKBatch]]): three
    * queries with DIFFERENT term sets and query vectors served in one
    * pass — the lexical side evaluates all term sets in a single
    * bucket-pruned postings read (shared per-term df), the semantic
    * side is the already-batched probed IVF read, fusion is
    * qid-partitioned RRF. No per-query job fan-out (spec-pinned in
    * HybridSpec); the oracle replays BM25 + IVF + per-qid RRF for all
    * three queries end to end. */
  def hybridBatch(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    import spark.implicits._
    val termSets = Seq(
      (0L, Seq("window", "merge", "vector")),
      (1L, Seq("window", "merge")),
      (2L, Seq("merge", "vector"))).toDF("qid", "terms")
    val queries = termSets.join(emb.withColumnRenamed("id", "qid"), "qid")
    Hybrid.hybridTopKBatch(spark, sIdx, vIdx, queries, nProbe = 2,
        nLex = 20, nSem = 20, k0 = 60, topK = 10)
      .orderBy("qid", "id")
  }

  val hybridBatchSql: String = {
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |qt AS (
       |  SELECT CAST(q AS BIGINT) AS qid, tok FROM (VALUES
       |    (0, 'window'), (0, 'merge'), (0, 'vector'),
       |    (1, 'window'), (1, 'merge'),
       |    (2, 'merge'), (2, 'vector')) v(q, tok)),
       |sem AS (
       |  SELECT qid, nid AS id, rk AS r FROM (
       |    SELECT qid, nid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |        AS rk
       |    FROM scored WHERE qid IN (0, 1, 2)) WHERE rk <= 20),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT qt.qid, f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok) JOIN qt USING (tok), stats
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, id, rk AS r FROM (
       |    SELECT qid, id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id)
       |        AS rk
       |    FROM bsc) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.qid, sem.qid) AS qid,
       |    COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem
       |    ON l.qid = sem.qid AND l.id = sem.id),
       |topf AS (
       |  SELECT qid, id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, id)
       |      AS rk
       |  FROM fused)
       |SELECT qid, id, rrf FROM topf WHERE rk <= 10
       |ORDER BY qid, id""".stripMargin
  }

  /** TYPO-TOLERANT batched hybrid
    * ([[Hybrid.hybridTopKBatch]]`(fuzzyDist = 1)`): two queries with
    * typo'd term sets — the lexical side rewrites each query's terms
    * to their shared capped vocabulary expansions before the one-pass
    * batched BM25, the semantic side serves unchanged, fusion is
    * per-qid RRF. The oracle replays expansion (per-qid levenshtein
    * against the vocabulary), batch BM25, probed IVF, and RRF end to
    * end. */
  def hybridFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = ivfGenIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    import spark.implicits._
    val queries = Seq(
        (0L, Seq("windoq", "mergs")),
        (1L, Seq("ag"))).toDF("qid", "terms")
      .join(emb.withColumnRenamed("id", "qid"), "qid")
    Hybrid.hybridTopKBatch(spark, sIdx, vIdx, queries, nProbe = 2,
        nLex = 20, nSem = 20, k0 = 60, topK = 10, fuzzyDist = 1)
      .orderBy("qid", "id")
  }

  val hybridFuzzySql: String = {
    s"""${ivfScoredCteFor("c.vec_id < 8")},
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |vocab AS (SELECT DISTINCT tok FROM t),
       |qraw AS (SELECT CAST(q AS BIGINT) AS qid, term FROM (VALUES
       |  (0, 'windoq'), (0, 'mergs'), (1, 'ag')) v(q, term)),
       |qt AS (
       |  SELECT DISTINCT qraw.qid, v.tok
       |  FROM vocab v JOIN qraw
       |    ON substr(v.tok, 1, 1) = substr(qraw.term, 1, 1)
       |      AND abs(len(v.tok) - len(qraw.term)) <= 1
       |      AND levenshtein(v.tok, qraw.term) <= 1),
       |sem AS (
       |  SELECT qid, nid AS id, rk AS r FROM (
       |    SELECT qid, nid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |        AS rk
       |    FROM scored WHERE qid IN (0, 1)) WHERE rk <= 20),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT qt.qid, f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok) JOIN qt USING (tok), stats
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, id, rk AS r FROM (
       |    SELECT qid, id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id)
       |        AS rk
       |    FROM bsc) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.qid, sem.qid) AS qid,
       |    COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem
       |    ON l.qid = sem.qid AND l.id = sem.id),
       |topf AS (
       |  SELECT qid, id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, id)
       |      AS rk
       |  FROM fused)
       |SELECT qid, id, rrf FROM topf WHERE rk <= 10
       |ORDER BY qid, id""".stripMargin
  }

  /** FILTERED batched hybrid ([[Hybrid.hybridTopKBatch]] with a
    * metadata predicate): the three-query batch with `lang='en'`
    * bound to BOTH sides below each retriever's top-k — the lexical
    * side takes the full-k filtered postings path (the text index
    * stores `lang` in its docs sidecar) and the semantic side the
    * probed filtered scan. The oracle replays candidate-restricted
    * BM25 (corpus constants unfiltered — Lucene filtered-query
    * semantics), candidate-restricted IVF, and per-qid RRF. */
  def hybridBatchFiltered(spark: SparkSession, dir: String): DataFrame = {
    val sIdx = searchIndex(spark, dir)
    val vIdx = hybridFltIdx(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    import spark.implicits._
    val termSets = Seq(
      (0L, Seq("window", "merge", "vector")),
      (1L, Seq("window", "merge")),
      (2L, Seq("merge", "vector"))).toDF("qid", "terms")
    val queries = termSets.join(emb.withColumnRenamed("id", "qid"), "qid")
    Hybrid.hybridTopKBatch(spark, sIdx, vIdx, queries, nProbe = 2,
        nLex = 20, nSem = 20, k0 = 60, topK = 10,
        filter = Some(col("lang") === "en"))
      .orderBy("qid", "id")
  }

  val hybridBatchFilteredSql: String = {
    s"""${ivfScoredCteFor("c.vec_id < 8",
        "a.id IN (SELECT doc_id FROM documents WHERE lang = 'en')")},
       |qt AS (
       |  SELECT CAST(q AS BIGINT) AS qid, tok FROM (VALUES
       |    (0, 'window'), (0, 'merge'), (0, 'vector'),
       |    (1, 'window'), (1, 'merge'),
       |    (2, 'merge'), (2, 'vector')) v(q, tok)),
       |sem AS (
       |  SELECT qid, nid AS id, rk AS r FROM (
       |    SELECT qid, nid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |        AS rk
       |    FROM scored WHERE qid IN (0, 1, 2)) WHERE rk <= 20),
       |t AS (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS tok,
       |        len(string_split(text, ' ')) AS dlen
       |      FROM documents),
       |f AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dlen) AS dlen
       |      FROM t WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
       |stats AS (SELECT COUNT(*) AS nn,
       |            SUM(len(string_split(text, ' '))) AS sl
       |          FROM documents),
       |d AS (SELECT tok, COUNT(*) AS dfc FROM f GROUP BY 1),
       |bsc AS (
       |  SELECT qt.qid, f.doc_id AS id, ROUND(SUM(
       |    LN((stats.nn - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (f.tf * ${Search.Bm25K1 + 1.0})
       |      / (f.tf + ${Search.Bm25K1} * (1.0 - ${Search.Bm25B}
       |          + ${Search.Bm25B} * f.dlen
       |            / (CAST(stats.sl AS DOUBLE) / stats.nn)))), 6) AS score
       |  FROM f JOIN d USING (tok) JOIN qt USING (tok), stats
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, id, rk AS r FROM (
       |    SELECT bsc.qid, bsc.id,
       |      ROW_NUMBER() OVER (PARTITION BY bsc.qid
       |        ORDER BY score DESC, bsc.id) AS rk
       |    FROM bsc JOIN documents doc ON bsc.id = doc.doc_id
       |    WHERE doc.lang = 'en') WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.qid, sem.qid) AS qid,
       |    COALESCE(l.id, sem.id) AS id,
       |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem.r), 0), 8)
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem
       |    ON l.qid = sem.qid AND l.id = sem.id),
       |topf AS (
       |  SELECT qid, id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, id)
       |      AS rk
       |  FROM fused)
       |SELECT qid, id, rrf FROM topf WHERE rk <= 10
       |ORDER BY qid, id""".stripMargin
  }

  /** IVF radius search: everything with cosine >= 0.3 inside the
    * probed clusters — [[Similarity.ivfRange]], the threshold-driven
    * retrieval shape next to top-k. */
  def annRange(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = emb.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    Similarity.ivfRange(emb.filter(col("id") < 50), emb, centroids, 2, 0.3)
      .orderBy("qid", "nid")
  }

  val annRangeSql: String =
    s"""$ivfScoredCte
       |SELECT qid, nid, cos FROM scored WHERE cos >= 0.3
       |ORDER BY qid, nid""".stripMargin

  /** Trained centroids (k x dim rows — tiny): q_kmeans and
    * q_ann_ivf_kmeans share one Lloyd run per (session, dir). Collected
    * rows, not a persisted frame (nothing to release), but dropped by
    * [[Queries.clearCache]] all the same: the key holds the session. */
  private def trainedCentroids(spark: SparkSession, dir: String): Seq[(Int, Int, Double)] =
    Memo.once(("kmeans", spark, dir), (_: Seq[(Int, Int, Double)]) => ()) {
      val emb = Tables.read(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.kmeansCentroids(emb, 8, 2).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    }

  /** Deterministic Lloyd k-means over the embedding corpus: k=8
    * centroids (init = first 8 vectors), 2 iterations; output = final
    * centroids in long form. Mirrors [[Similarity.kmeansCentroids]]'s
    * rounding contract exactly (d to 5, components to 6). */
  def kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedCentroids(spark, dir).toDF("cid", "i", "v").orderBy("cid", "i")
  }

  /** CTE chain computing 2 Lloyd iterations over `u`/`vv` into a final
    * centroid CTE `c2` (1-based i internally; consumers shift to
    * Spark's 0-based pos where needed). Shared by q_kmeans and the
    * composed q_ann_ivf_kmeans. */
  private val kmeansCtes: String = {
    val k = 8
    def iter(cPrev: String, cNext: String, t: Int): String =
      s"""cn$t AS (SELECT cid, SUM(v * v) AS cn2 FROM $cPrev GROUP BY 1),
         |dot$t AS (
         |  SELECT u.vec_id, c.cid, SUM(u.v * c.v) AS dp
         |  FROM u JOIN $cPrev c USING (i) GROUP BY 1, 2),
         |d$t AS (
         |  SELECT dot$t.vec_id, dot$t.cid,
         |    ROUND(cn$t.cn2 - 2 * dp + vv.n2, 5) AS d
         |  FROM dot$t JOIN cn$t USING (cid)
         |  JOIN vv ON vv.vec_id = dot$t.vec_id),
         |s$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |    FROM d$t) WHERE rk = 1),
         |$cNext AS (
         |  SELECT s$t.cid, u.i, ROUND(AVG(u.v), 6) AS v
         |  FROM s$t JOIN u USING (vec_id) GROUP BY 1, 2)""".stripMargin
    s"""u AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |vv AS (SELECT vec_id, SUM(v * v) AS n2 FROM u GROUP BY 1),
       |c0 AS (SELECT vec_id AS cid, i, v FROM u WHERE vec_id < $k),
       |${iter("c0", "c1", 0)},
       |${iter("c1", "c2", 1)}""".stripMargin
  }

  val kmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT cid, i - 1 AS i, v FROM c2 ORDER BY cid, i""".stripMargin

  /** Composition row: IVF top-3 probing k-means-TRAINED centroids
    * (kmeansCentroids -> ivfTopK), certifying the similarity stack
    * composes — trained codebook in, ANN results out. */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = trainedCentroids(spark, dir)
      .groupBy(_._1).toSeq
      .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3)) }
      .toDF("cid", "cvec")
    Similarity.ivfTopK(emb.filter(col("id") < 50), emb, centroids, 2, 3)
      .orderBy("qid", "nid")
  }

  val annIvfKmeansSql: String =
    s"""WITH $kmeansCtes,
       |n AS (SELECT vec_id, SQRT(n2) AS nrm FROM vv),
       |cn AS (SELECT cid, SQRT(SUM(v * v)) AS nrm FROM c2 GROUP BY 1),
       |cc AS (
       |  SELECT u.vec_id AS id, c.cid,
       |    ROUND(SUM(u.v * c.v) / (MAX(n.nrm) * MAX(cn.nrm)), 5) AS ccos
       |  FROM u JOIN c2 c USING (i)
       |  JOIN n ON n.vec_id = u.vec_id
       |  JOIN cn ON cn.cid = c.cid
       |  GROUP BY 1, 2),
       |assigned AS (
       |  SELECT id, cid FROM (
       |    SELECT id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
       |    FROM cc) WHERE rk = 1),
       |probes AS (
       |  SELECT id AS qid, cid FROM (
       |    SELECT id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, cid) AS rk
       |    FROM cc WHERE id < 50) WHERE rk <= 2),
       |cand AS (
       |  SELECT p.qid, a.id AS nid
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.qid <> a.id),
       |scored AS (
       |  SELECT cand.qid, cand.nid,
       |    ROUND(SUM(qu.v * nu.v) / (MAX(nq.nrm) * MAX(nn.nrm)), 5) AS cos
       |  FROM cand
       |  JOIN u qu ON qu.vec_id = cand.qid
       |  JOIN u nu ON nu.vec_id = cand.nid AND nu.i = qu.i
       |  JOIN n nq ON nq.vec_id = cand.qid
       |  JOIN n nn ON nn.vec_id = cand.nid
       |  GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |      FROM scored)
       |SELECT qid, nid, cos FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin

  // PQ parameters for the oracle row: 4 subspaces x 16 dims, 8
  // centroids each (2 Lloyd iterations), 3 queries, top-5. Production
  // shape is k=256 (one byte per code) over the same machinery — 8
  // keeps the unrolled SQL oracle tractable.
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 8
  private val PqNQueries = 3
  private val PqTopK = 5
  // IVF-PQ: coarse codebook = first C corpus vectors, nProbe clusters
  // probed per query. Declared here (before the oracle vals that
  // interpolate them) — object init order matters.
  private val IvfPqC = 8
  private val IvfPqNProbe = 2

  /** Product quantization end-to-end: train M per-subspace codebooks
    * (deterministic Lloyd), ENCODE the corpus to M codes (one narrow
    * codegen'd projection — the 64-floats-to-M-codes compression pass),
    * then ADC search: each query's m x k distance table is driver
    * arithmetic and every corpus distance is M table lookups on the
    * codes, so the search never rereads the floats. The billion-vector
    * memory path next to IVF (which prunes WORK; PQ shrinks MEMORY —
    * production stacks compose them). */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val books = Similarity.pqTrainCodebooks(emb, PqM, PqSubDim, PqK, 2)
    val codes = Similarity.pqEncode(emb, books, PqSubDim)
    val queries = emb.filter(col("id") < PqNQueries).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    Similarity.pqSearch(codes, books, queries, PqSubDim, PqTopK)
      .orderBy("qid", "rk")
  }

  /** PQ ADC search served from the GENERATIONAL index: the same
    * codebooks installed at [[VecIndex.init]], the corpus folded in as
    * base + append + a delete/re-append cycle (live set = full
    * corpus), codes encoded PER GENERATION and the serve scan reading
    * only (id, code0..code3) across the live generations. Output must
    * be IDENTICAL to the inline `q_ann_pq` — same oracle SQL. */
  def annPqGen(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val books = Similarity.pqTrainCodebooks(emb, PqM, PqSubDim, PqK, 2)
    val path = Queries.fixturePath(spark, dir, "vecidx-pqgen")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half), 64, path,
        pq = Some(books))
      VecIndex.append(emb.filter(col("id") > half), idx)
      import spark.implicits._
      VecIndex.delete(Seq(7L).toDF("id"), "id", idx)
      VecIndex.append(emb.filter(col("id") === 7L), idx)
    }
    val queries = emb.filter(col("id") < PqNQueries).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    VecIndex.pqTopK(spark, queries, VecIndex.open(spark, path), PqTopK)
      .orderBy("qid", "rk")
  }

  /** Unrolled PQ oracle: per subspace, the same 2-iteration Lloyd CTE
    * chain as q_kmeans (restricted to the subspace's i-range, with the
    * engine's keep-empty-cluster semantics via LEFT JOIN + COALESCE),
    * then a final assignment (codes), per-query subspace distance
    * tables rounded to 6, and the fixed-order 4-term total rounded to
    * 5 with id tie-breaks. */
  /** Shared generator: per-subspace PQ TRAINING chain over a long-form
    * source `src(vec_id, i, v)` — subspace slice `u$s`, init centroids
    * from `vec_id` in [initLo, initLo+k) (cid = vec_id - initLo,
    * matching the engine's position-indexed codebooks), two Lloyd
    * iterations with keep-empty-cluster semantics, and the final code
    * assignment `code$s`. Used by q_ann_pq (src = raw vectors) and
    * q_ann_ivfpq (src = coarse residuals, init past the zero-residual
    * centroid vectors). */
  private def pqTrainSubCtes(src: String, s: Int, initLo: Int): String = {
    val lo = s * PqSubDim + 1
    val hi = (s + 1) * PqSubDim
    def iter(cPrev: String, cNext: String, t: Int): String =
      s"""cn${s}_$t AS (SELECT cid, SUM(v * v) AS cn2 FROM $cPrev GROUP BY 1),
         |dot${s}_$t AS (
         |  SELECT u$s.vec_id, c.cid, SUM(u$s.v * c.v) AS dp
         |  FROM u$s JOIN $cPrev c USING (i) GROUP BY 1, 2),
         |d${s}_$t AS (
         |  SELECT dot${s}_$t.vec_id, dot${s}_$t.cid,
         |    ROUND(cn${s}_$t.cn2 - 2 * dp + vv$s.n2, 5) AS d
         |  FROM dot${s}_$t JOIN cn${s}_$t USING (cid)
         |  JOIN vv$s ON vv$s.vec_id = dot${s}_$t.vec_id),
         |s${s}_$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |    FROM d${s}_$t) WHERE rk = 1),
         |$cNext AS MATERIALIZED (
         |  SELECT p.cid, p.i, COALESCE(nx.v, p.v) AS v
         |  FROM $cPrev p LEFT JOIN (
         |    SELECT s${s}_$t.cid, u2.i, ROUND(AVG(u2.v), 6) AS v
         |    FROM s${s}_$t JOIN u$s u2 USING (vec_id) GROUP BY 1, 2) nx
         |  ON nx.cid = p.cid AND nx.i = p.i)""".stripMargin
    s"""u$s AS MATERIALIZED (SELECT vec_id, i, v FROM $src WHERE i BETWEEN $lo AND $hi),
       |vv$s AS (SELECT vec_id, SUM(v * v) AS n2 FROM u$s GROUP BY 1),
       |c0_$s AS (SELECT vec_id - $initLo AS cid, i, v FROM u$s
       |  WHERE vec_id BETWEEN $initLo AND ${initLo + PqK - 1}),
       |${iter(s"c0_$s", s"c1_$s", 0)},
       |${iter(s"c1_$s", s"c2_$s", 1)},
       |cnf$s AS (SELECT cid, SUM(v * v) AS cn2 FROM c2_$s GROUP BY 1),
       |dotf$s AS (
       |  SELECT u$s.vec_id, c.cid, SUM(u$s.v * c.v) AS dp
       |  FROM u$s JOIN c2_$s c USING (i) GROUP BY 1, 2),
       |df$s AS (
       |  SELECT dotf$s.vec_id, dotf$s.cid,
       |    ROUND(cnf$s.cn2 - 2 * dp + vv$s.n2, 5) AS d
       |  FROM dotf$s JOIN cnf$s USING (cid)
       |  JOIN vv$s ON vv$s.vec_id = dotf$s.vec_id),
       |code$s AS MATERIALIZED (
       |  SELECT vec_id, cid AS code FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |    FROM df$s) WHERE rk = 1)""".stripMargin
  }

  val annPqSql: String = {
    def sub(s: Int): String =
      s"""${pqTrainSubCtes("u", s, 0)},
         |adc$s AS MATERIALIZED (
         |  SELECT q.vec_id AS qid, c.cid,
         |    ROUND(SUM((q.v - c.v) * (q.v - c.v)), 6) AS d
         |  FROM u$s q JOIN c2_$s c USING (i)
         |  WHERE q.vec_id < $PqNQueries GROUP BY 1, 2)""".stripMargin
    val subs = (0 until PqM).map(sub).mkString(",\n")
    val codeJoins = (1 until PqM)
      .map(s => s"JOIN code$s USING (vec_id)").mkString(" ")
    val adcJoins = (0 until PqM).map { s =>
      val qidCond = if (s == 0) "" else s" AND a$s.qid = a0.qid"
      s"JOIN adc$s a$s ON a$s.cid = code$s.code$qidCond"
    }.mkString("\n  ")
    val total = (0 until PqM).map(s => s"a$s.d").mkString(" + ")
    s"""WITH u AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |$subs,
       |t AS (
       |  SELECT a0.qid, code0.vec_id, ROUND($total, 6) AS d
       |  FROM code0 $codeJoins
       |  $adcJoins),
       |r AS (SELECT qid, vec_id, d,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
       |  FROM t)
       |SELECT qid, vec_id, d, rk FROM r WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  /** Unrolled IVF-PQ oracle: coarse codebook = first C vectors, coarse
    * assignment (euclidean, round-5, cid ties), residuals, the shared
    * per-subspace PQ training chains over the residuals (init past the
    * zero-residual centroid vectors), nProbe probing per query, ADC
    * tables from residual queries (q - probed coarse), candidates
    * restricted to probed clusters, fixed-order totals, id tie-breaks. */
  val ivfPqSql: String = {
    val subs = (0 until PqM).map { s =>
      val lo = s * PqSubDim + 1
      val hi = (s + 1) * PqSubDim
      s"""${pqTrainSubCtes("res", s, IvfPqC)},
         |adc$s AS MATERIALIZED (
         |  SELECT p.qid, p.cid AS ccid, c.cid AS code,
         |    ROUND(SUM((q.v - pc.v - c.v) * (q.v - pc.v - c.v)), 6) AS d
         |  FROM probes p
         |  JOIN u q ON q.vec_id = p.qid AND q.i BETWEEN $lo AND $hi
         |  JOIN cc pc ON pc.cid = p.cid AND pc.i = q.i
         |  JOIN c2_$s c ON c.i = q.i
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN code$s ON code$s.vec_id = ca.vec_id").mkString("\n  ")
    val adcJoins = (0 until PqM).map { s =>
      s"JOIN adc$s a$s ON a$s.qid = p.qid AND a$s.ccid = ca.cid " +
        s"AND a$s.code = code$s.code"
    }.mkString("\n  ")
    val total = (0 until PqM).map(s => s"a$s.d").mkString(" + ")
    s"""WITH u AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |cc AS MATERIALIZED (SELECT vec_id AS cid, i, v FROM u WHERE vec_id < $IvfPqC),
       |ccn AS (SELECT cid, SUM(v * v) AS cn2 FROM cc GROUP BY 1),
       |uvv AS (SELECT vec_id, SUM(v * v) AS n2 FROM u GROUP BY 1),
       |cdot AS (SELECT u.vec_id, c.cid, SUM(u.v * c.v) AS dp
       |  FROM u JOIN cc c USING (i) GROUP BY 1, 2),
       |cd AS MATERIALIZED (SELECT cdot.vec_id, cdot.cid,
       |    ROUND(ccn.cn2 - 2 * dp + uvv.n2, 5) AS d
       |  FROM cdot JOIN ccn USING (cid)
       |  JOIN uvv ON uvv.vec_id = cdot.vec_id),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |    FROM cd) WHERE rk = 1),
       |res AS MATERIALIZED (
       |  SELECT u.vec_id, u.i, u.v - cc.v AS v
       |  FROM u JOIN cassign USING (vec_id)
       |  JOIN cc ON cc.cid = cassign.cid AND cc.i = u.i),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |    FROM cd WHERE vec_id < $PqNQueries) WHERE rk <= $IvfPqNProbe),
       |$subs,
       |t AS (
       |  SELECT p.qid, ca.vec_id, ROUND($total, 6) AS d
       |  FROM cassign ca
       |  JOIN probes p ON p.cid = ca.cid
       |  $codeJoins
       |  $adcJoins),
       |rr AS (SELECT qid, vec_id, d,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
       |  FROM t)
       |SELECT qid, vec_id, d, rk FROM rr WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------- IVF-PQ (IVFADC) ----------

  /** Coarse assignment + residual PQ state, persisted once per
    * (session, dir): `assigned` carries the O(C*dim) coarse assignment
    * behind a persist barrier (the projection-collapse rule), `books`
    * are the residual-trained PQ codebooks. Dropped by
    * [[Queries.clearCache]]. */
  private final case class IvfPqState(assigned: DataFrame,
      coarse: Seq[Array[Double]], cn2: Array[Double],
      books: Seq[Array[Array[Double]]])

  private def ivfPqShared(spark: SparkSession, dir: String): IvfPqState =
    Memo.once(("ivfpq", spark, dir),
        (st: IvfPqState) => st.assigned.unpersist(blocking = false)) {
      val dim = PqM * PqSubDim
      val emb = Tables.read(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val coarse: Seq[Array[Double]] = emb.filter(col("id") < IvfPqC)
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Number](1).map(_.doubleValue()).toArray))
        .sortBy(_._1).map(_._2).toSeq
      val cn2 = coarse.map(v => v.map(x => x * x).sum).toArray
      val assignExpr = element_at(
        graft.functions.VectorFunctions.nearestCentroids(
          col("vec"), coarse.toArray, cn2,
          (0 until IvfPqC).map(_.toLong).toArray, 1, euclidean = true), 1)
      val assigned = emb
        .select(col("id"), col("vec"), assignExpr.as("ccid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val books = Similarity.pqTrainCodebooks(
        ivfPqResiduals(assigned, coarse), PqM, PqSubDim, PqK, 2,
        initFrom = IvfPqC)
      IvfPqState(assigned, coarse, cn2, books)
    }

  /** Residual projection v - coarse[ccid(v)]: pure column arithmetic
    * against the coarse codebook as a flat literal (C*dim doubles) —
    * no join, and the assignment is read from the persisted frame, not
    * recomputed per component. */
  private def ivfPqResiduals(assigned: DataFrame,
      coarse: Seq[Array[Double]]): DataFrame = {
    val dim = PqM * PqSubDim
    val flat = typedlit(coarse.flatten.toSeq)
    val resVec = array((0 until dim).map(i =>
      col("vec").getItem(i).cast("double") -
        element_at(flat, col("ccid").cast("int") * dim + i + 1)): _*)
    assigned.select(col("id"), col("ccid"), resVec.as("vec"))
  }

  /** IVF-PQ end-to-end: coarse-quantize the corpus (first-C codebook,
    * the q_ann_ivf convention), train PQ on the RESIDUALS (seeded past
    * the zero-residual centroid vectors), encode, then ADC-search with
    * candidates pruned to each query's nProbe coarse clusters. The
    * per-(query, probe) distance tables are computed on the driver from
    * the residual query vectors and ride in the broadcast probes frame. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = PqM * PqSubDim
    val st = ivfPqShared(spark, dir)
    val codes = Similarity.pqEncode(ivfPqResiduals(st.assigned, st.coarse),
      st.books, PqSubDim, extra = Seq("ccid"))
    val queries = Tables.read(spark, dir, "embeddings")
      .filter(col("vec_id") < PqNQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1)
    val probeRows = queries.flatMap { case (qid, q) =>
      val ranked = st.coarse.zipWithIndex.map { case (c, cid) =>
        var dot = 0.0
        var n2 = 0.0
        var j = 0
        while (j < dim) { dot += q(j) * c(j); n2 += q(j) * q(j); j += 1 }
        (graft.functions.NearestCentroids.round5(
          st.cn2(cid) - 2 * dot + n2), cid.toLong)
      }.sorted.take(IvfPqNProbe)
      ranked.map { case (_, ccid) =>
        val c = st.coarse(ccid.toInt)
        val tables = (0 until PqM).map { s =>
          st.books(s).toSeq.map { cent =>
            var d = 0.0
            var j = 0
            while (j < PqSubDim) {
              val diff = (q(s * PqSubDim + j) - c(s * PqSubDim + j)) - cent(j)
              d += diff * diff
              j += 1
            }
            BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
        }
        (qid, ccid, tables(0), tables(1), tables(2), tables(3))
      }
    }
    val probes = probeRows.toSeq.toDF("qid", "ccid", "t0", "t1", "t2", "t3")
    Similarity.ivfPqSearch(codes, probes, PqM, PqTopK).orderBy("qid", "rk")
  }

  /** IVFADC served from the GENERATIONAL index: the same coarse
    * codebook + residual-trained PQ books as the inline `q_ann_ivfpq`
    * installed at [[VecIndex.init]], the corpus folded in two
    * generations, the serve reading only (ccid, id, code*) of the
    * probed bucket dirs. Output must be IDENTICAL to the inline row —
    * same oracle SQL — so the lifecycle (euclidean assign + residual
    * encode per generation) is certified end to end by the driver
    * gate. */
  def annIvfPqGen(spark: SparkSession, dir: String): DataFrame = {
    val st = ivfPqShared(spark, dir)
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = Queries.fixturePath(spark, dir, "vecidx-ivfpqgen")
    Memo.once(path) {
      val half = emb.agg(max("id")).head().getLong(0) / 2
      val idx = VecIndex.init(emb.filter(col("id") <= half),
        PqM * PqSubDim, path, cbBuckets = 4,
        ivfPq = Some((st.coarse, st.books)))
      VecIndex.append(emb.filter(col("id") > half), idx)
    }
    val queries = Tables.read(spark, dir, "embeddings")
      .filter(col("vec_id") < PqNQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .sortBy(_._1).toSeq
    VecIndex.ivfPqTopK(spark, queries, VecIndex.open(spark, path),
        IvfPqNProbe, PqTopK)
      .orderBy("qid", "rk")
  }

  /** Cross-document CONTENT-DEFINED chunk duplicates
    * ([[Dedup.cdcDuplicates]]): chunk boundaries fall where the
    * rolling 4-token window hash ≡ 0 mod 8, so an insertion reflows
    * one chunk and every later fingerprint survives (the FastCDC
    * boundary idea at token granularity — the shift-robust complement
    * to the fixed 16-token grid of `q_chunk_dedup`). The oracle
    * replays the window hash, boundary flags, running chunk ids, and
    * chunk md5s cell-for-cell; all outputs exact integers + md5
    * strings. */
  def dedupCdc(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcDuplicates(
        Tables.read(spark, dir, "documents"), "doc_id", "text")
      .select(col("fp"), col("occurrences").cast("long").as("occurrences"),
        col("n_docs").cast("long").as("n_docs"))
      .orderBy("fp")

  val dedupCdcSql: String = {
    val winHash = Dedup.tokenIdSql("t3 || ' ' || t2 || ' ' || t1 || ' ' || tok")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
       |    unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, pos, tok,
       |    LAG(tok, 3) OVER w AS t3, LAG(tok, 2) OVER w AS t2,
       |    LAG(tok, 1) OVER w AS t1
       |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN pos >= ${Dedup.CdcWindow - 1}
       |      AND $winHash % ${Dedup.CdcDivisor} = 0 THEN 1 ELSE 0 END AS bf
       |  FROM l),
       |c AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(bf) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM b),
       |ch AS (
       |  SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
       |  FROM c GROUP BY 1, 2)
       |SELECT fp, CAST(COUNT(*) AS BIGINT) AS occurrences,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY fp""".stripMargin
  }

  /** Rolling polynomial document fingerprint (Karp-Rabin), computed as
    * a codegen'd column fold in Spark and a list_reduce in the oracle. */
  def fingerprintRolling(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val fingerprintRollingSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % ${TextOps.RollingMod}) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Winnowing document fingerprints — [[TextOps.winnowFingerprints]]
    * (MOSS, Schleimer et al. 2003) over the documents table. */
  def fingerprintWinnow(spark: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(
      Tables.read(spark, dir, "documents"),
      "doc_id", "text", WinnowK, WinnowW)
      .orderBy("doc_id")

  val fingerprintWinnowSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text) - ${WinnowK - 1})) AS pos, text
       |  FROM documents WHERE length(text) >= $WinnowK),
       |h AS (
       |  SELECT doc_id, pos,
       |    CAST(('0x' || substr(md5(substr(text, pos, $WinnowK)), 1, $WinnowHashHex)) AS BIGINT)
       |      * ${1L << WinnowPosBits} + pos AS comb,
       |    length(text) - ${WinnowK - 1} AS np
       |  FROM pos),
       |m AS (
       |  SELECT doc_id, pos, np,
       |    MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
       |                    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mc
       |  FROM h),
       |sel AS (
       |  SELECT DISTINCT doc_id, mc FROM m
       |  WHERE pos <= GREATEST(np - ${WinnowW - 1}, 1))
       |SELECT doc_id, COUNT(*) AS n_fp,
       |  CAST(SUM(mc // ${1L << WinnowPosBits}) AS BIGINT) AS fp_sum
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- multimodal ----------

  /** Multimodal plumbing: payload size + byte-distribution entropy via
    * the batch decode path (documents as UTF-8 media payloads). The
    * corpus is restricted to ASCII rows by construction so the oracle's
    * per-character accounting equals the engine's per-byte accounting
    * (multi-byte codepoints would diverge by definition, not by bug). */
  def multimodalStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ascii = Tables.read(spark, dir, "documents")
      .filter(octet_length(col("text")) === length(col("text")))
    // columnar projection after the typed decode step — round() stays
    // in codegen where a per-row BigDecimal map would leave it
    Multimodal.extractFeatures(
      Multimodal.asMedia(ascii), new Multimodal.FakeDecoder(16))
      .toDF()
      .select(col("id").as("doc_id"), col("nBytes").as("n_bytes"),
        round(col("byteEntropy"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  val multimodalStatsSql: String =
    """WITH ascii AS (
      |  SELECT * FROM documents WHERE octet_length(encode(text)) = length(text)),
      |ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM ascii),
      |f AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2),
      |n AS (SELECT doc_id, SUM(cnt) AS n FROM f GROUP BY 1)
      |SELECT f.doc_id,
      |  CAST(MAX(n.n) AS BIGINT) AS n_bytes,
      |  ROUND(SUM(-(CAST(cnt AS DOUBLE) / n.n) * LOG2(CAST(cnt AS DOUBLE) / n.n)), 6) AS entropy
      |FROM f JOIN n ON f.doc_id = n.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Frame-sampling plumbing over the ASCII corpus: every 2nd 32-byte
    * frame, identified by (doc, frame index, byte length, md5). The
    * oracle recomputes frames as substrings (ASCII ⇒ byte == char). */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    val ascii = Tables.read(spark, dir, "documents")
      .filter(octet_length(col("text")) === length(col("text")))
    Multimodal.sampleFrames(Multimodal.asMedia(ascii), 32, 2)
      .select(col("id").as("doc_id"), col("frameIdx").as("frame_idx"),
        octet_length(col("frame")).as("n_bytes"),
        md5(col("frame")).as("fp"))
      .orderBy("doc_id", "frame_idx")
  }

  val multimodalFramesSql: String =
    """WITH ascii AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE octet_length(encode(text)) = length(text)),
      |idx AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0,
      |      CAST(CEIL(length(text) / 32.0) AS INTEGER) - 1)) AS i
      |  FROM ascii),
      |f AS (
      |  SELECT doc_id, i AS frame_idx,
      |    substring(text, i * 32 + 1, 32) AS frame
      |  FROM idx WHERE i % 2 = 0)
      |SELECT doc_id, frame_idx, length(frame) AS n_bytes, md5(frame) AS fp
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Deterministic binary-media fixture parameters, shared between the
    * Spark-side generators and the formula-only DuckDB oracles below.
    * The fixtures are sf-independent (the testdata carries no binary
    * media), so the oracle rows certify the REAL decoders on identical
    * data at every scale factor. */
  private val NImages = 40
  private val ImgGrid = 4
  private val NClips = 30
  private val AudioSegs = 8

  private def mediaFixturePath(spark: SparkSession, kind: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_media_" + kind + "_" +
        java.lang.Integer.toHexString(System.identityHashCode(spark)))
      .toString

  /** Media fixture parquets, written once per JVM ([[Memo.once]], so
    * fixtures of different kinds build concurrently). The fixtures are
    * DETERMINISTIC (pixel/sample formulas) and sf-independent, so the
    * per-call rebuild the media queries used to do (driver-side
    * encode of every PNG/WAV/Y4M + a parquet overwrite, ~0.2-0.4 s
    * per serve) was pure discarded work: build once per (session,
    * kind) — the bench's untimed warm pass absorbs it — and serve
    * from the at-rest fixture; the DECODE path (the operator under
    * test) still executes fully on every serve. Session hash in the
    * path so concurrent sessions never share files (which the old
    * shared-path overwrite raced on). */
  private def ensureMediaFixture(spark: SparkSession, kind: String)(
      build: String => Unit): String = {
    val fix = mediaFixturePath(spark, kind)
    Memo.once(fix) { build(fix) }
    fix
  }

  /** REAL image decode, oracle-certified end to end: deterministic
    * gradient PNGs — pixel (x, y) of image id is the gray value
    * (id*37 + x*5 + y*11) % 256, sizes varying so grid cells get
    * unequal pixel counts — are encoded with `ImageIO.write`, written
    * to a binary-payload parquet, read back, and decoded DISTRIBUTED
    * through [[Multimodal.ImageIoDecoder]] (the same
    * mapPartitions batch path as every media query). The oracle never
    * sees the PNG bytes: it recomputes each grid cell's mean luma from
    * the pixel FORMULA alone, so a decode that was anything but
    * bit-faithful (PNG is lossless) would hash-diverge. */
  def multimodalImage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def recs = (0 until NImages).map { id =>
      val w = 16 + id % 13
      val h = 16 + id % 7
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = (id * 37 + x * 5 + y * 11) % 256
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Multimodal.MediaRecord(id.toLong, "image", bos.toByteArray,
        Map("w" -> w.toString, "h" -> h.toString))
    }
    val fix = ensureMediaFixture(spark, "img") { p =>
      spark.createDataset(recs).write.mode("overwrite").parquet(p)
    }
    Multimodal.extractFeatures(
      spark.read.parquet(fix).as[Multimodal.MediaRecord],
      new Multimodal.ImageIoDecoder(ImgGrid))
      .toDF()
      .select(col("id"), posexplode(col("descriptor")).as(Seq("cell", "luma")))
      .select(col("id"), col("cell"),
        round(col("luma").cast("double"), 3).as("luma"))
      .orderBy("id", "cell")
  }

  val multimodalImageSql: String =
    s"""WITH imgs AS (
       |  SELECT CAST(i AS BIGINT) AS id, 16 + i % 13 AS w, 16 + i % 7 AS h
       |  FROM range(0, $NImages) t(i)),
       |px AS (
       |  SELECT id,
       |    LEAST((y * $ImgGrid) // h, ${ImgGrid - 1}) * $ImgGrid
       |      + LEAST((x * $ImgGrid) // w, ${ImgGrid - 1}) AS cell,
       |    CAST((id * 37 + x * 5 + y * 11) % 256 AS DOUBLE) AS g
       |  FROM imgs, range(0, 28) xs(x), range(0, 22) ys(y)
       |  WHERE x < w AND y < h)
       |SELECT id, CAST(cell AS INTEGER) AS cell,
       |  ROUND(AVG(0.299 * g + 0.587 * g + 0.114 * g) / 255.0, 3) AS luma
       |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** REAL audio decode, oracle-certified the same way: deterministic
    * 16-bit PCM mono WAVs — frame f of clip id is the raw sample
    * ((id*31 + f*7) % 2001 - 1000) * 32 — encoded with
    * `AudioSystem.write`, round-tripped through a binary parquet, and
    * decoded distributed via [[Multimodal.WavDecoder]]'s RMS-envelope
    * path; the oracle recomputes the per-segment RMS from the sample
    * formula (16-bit PCM is exact). */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def recs = (0 until NClips).map { id =>
      val n = 800 + id % 50
      val fmt = new javax.sound.sampled.AudioFormat(
        8000f, 16, 1, true, false) // 16-bit signed PCM, mono, little-endian
      val bytes = new Array[Byte](n * 2)
      var f = 0
      while (f < n) {
        val raw = (((id * 31 + f * 7) % 2001) - 1000) * 32
        bytes(2 * f) = (raw & 0xFF).toByte
        bytes(2 * f + 1) = ((raw >> 8) & 0xFF).toByte
        f += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      Multimodal.MediaRecord(id.toLong, "audio", bos.toByteArray,
        Map("frames" -> n.toString))
    }
    val fix = ensureMediaFixture(spark, "wav") { p =>
      spark.createDataset(recs).write.mode("overwrite").parquet(p)
    }
    Multimodal.extractFeatures(
      spark.read.parquet(fix).as[Multimodal.MediaRecord],
      new Multimodal.WavDecoder(AudioSegs))
      .toDF()
      .select(col("id"), posexplode(col("descriptor")).as(Seq("seg", "rms")))
      .select(col("id"), col("seg"),
        round(col("rms").cast("double"), 3).as("rms"))
      .orderBy("id", "seg")
  }

  val multimodalAudioSql: String =
    s"""WITH clips AS (
       |  SELECT CAST(i AS BIGINT) AS id, 800 + i % 50 AS n
       |  FROM range(0, $NClips) t(i)),
       |s AS (
       |  SELECT id, LEAST((f * $AudioSegs) // n, ${AudioSegs - 1}) AS seg,
       |    (((id * 31 + f * 7) % 2001) - 1000) * 32 / 32768.0 AS v
       |  FROM clips, range(0, 850) fs(f) WHERE f < n)
       |SELECT id, CAST(seg AS INTEGER) AS seg,
       |  ROUND(SQRT(AVG(v * v)), 3) AS rms
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** REAL video container decode, oracle-certified like image/audio:
    * deterministic Y4M clips — luma of pixel (x, y) in frame f of
    * clip id is (id*23 + f*17 + x*5 + y*3) % 256, dims and frame
    * counts varying — are written with [[graft.pipeline.Y4m.encode]],
    * round-tripped through a binary parquet, and re-framed
    * DISTRIBUTED by [[Multimodal.y4mFrames]] using the container's
    * own FRAME markers (every 2nd frame sampled). The oracle never
    * sees the Y4M bytes: it recomputes each sampled frame's exact
    * integer luma sum from the pixel formula, so any header/marker/
    * plane-offset parsing error hash-diverges. */
  private val NVids = 20

  def multimodalVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def recs = (0 until NVids).map { id =>
      val w = 8 + 2 * (id % 3)
      val h = 8
      val n = 10 + id % 7
      val planes = (0 until n).map { f =>
        val y = new Array[Byte](w * h)
        var yy = 0
        while (yy < h) {
          var x = 0
          while (x < w) {
            y(yy * w + x) = ((id * 23 + f * 17 + x * 5 + yy * 3) % 256).toByte
            x += 1
          }
          yy += 1
        }
        y
      }
      Multimodal.MediaRecord(id.toLong, "video",
        graft.pipeline.Y4m.encode(w, h, planes),
        Map("w" -> w.toString, "h" -> h.toString, "frames" -> n.toString))
    }
    val fix = ensureMediaFixture(spark, "y4m") { p =>
      spark.createDataset(recs).write.mode("overwrite").parquet(p)
    }
    Multimodal.y4mFrames(
        spark.read.parquet(fix).as[Multimodal.MediaRecord], 2)
      .select(col("id"), col("frameIdx").as("frame_idx"),
        col("w"), col("h"), col("lumaSum").as("luma_sum"))
      .orderBy("id", "frame_idx")
  }

  val multimodalVideoSql: String =
    s"""WITH clips AS (
       |  SELECT CAST(i AS BIGINT) AS id, 8 + 2 * (i % 3) AS w, 8 AS h,
       |    10 + i % 7 AS n
       |  FROM range(0, $NVids) t(i)),
       |fr AS (
       |  SELECT id, w, h, f FROM clips, range(0, 17) fs(f)
       |  WHERE f < n AND f % 2 = 0),
       |px AS (
       |  SELECT id, w, h, f, (id * 23 + f * 17 + x * 5 + y * 3) % 256 AS g
       |  FROM fr, range(0, 12) xs(x), range(0, 8) ys(y)
       |  WHERE x < w AND y < h)
       |SELECT id, CAST(f AS INTEGER) AS frame_idx,
       |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       |  CAST(SUM(g) AS BIGINT) AS luma_sum
       |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin

  /** FRAME-LEVEL dedup over DECODED video (multimodal × dedup
    * composition): sample frames through the real Y4M container
    * decode, key each by its decoded signature (dims + exact luma
    * sum), collapse duplicates keeping the first (id, frame) — the
    * cross-video repeated-frame shape (intros, slates, freeze
    * frames) a multimodal curation pass removes before training.
    * The oracle recomputes the signatures from the pixel formula and
    * replays the keeper choice, so a single wrong decoded byte
    * changes a sum and hash-mismatches. */
  def multimodalFrameDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    multimodalVideo(spark, dir) // builds + memoizes the y4m fixture
    val fix = mediaFixturePath(spark, "y4m")
    val frames = Multimodal.y4mFrames(
      spark.read.parquet(fix).as[Multimodal.MediaRecord], 2)
    frames
      .groupBy(col("w"), col("h"), col("lumaSum").as("luma_sum"))
      .agg(count(lit(1)).as("n_frames"),
        min(struct(col("id"), col("frameIdx"))).as("keeper"))
      .select(col("w"), col("h"), col("luma_sum"), col("n_frames"),
        col("keeper.id").as("keeper_id"),
        col("keeper.frameIdx").as("keeper_frame"))
      .orderBy("w", "h", "luma_sum")
  }

  val multimodalFrameDedupSql: String =
    s"""WITH clips AS (
       |  SELECT CAST(i AS BIGINT) AS id, 8 + 2 * (i % 3) AS w, 8 AS h,
       |    10 + i % 7 AS n
       |  FROM range(0, $NVids) t(i)),
       |fr AS (
       |  SELECT id, w, h, f FROM clips, range(0, 17) fs(f)
       |  WHERE f < n AND f % 2 = 0),
       |px AS (
       |  SELECT id, w, h, f, (id * 23 + f * 17 + x * 5 + y * 3) % 256 AS g
       |  FROM fr, range(0, 12) xs(x), range(0, 8) ys(y)
       |  WHERE x < w AND y < h),
       |fsum AS (
       |  SELECT id, CAST(f AS INTEGER) AS frame_idx, CAST(w AS INTEGER) AS w,
       |    CAST(h AS INTEGER) AS h, CAST(SUM(g) AS BIGINT) AS luma_sum
       |  FROM px GROUP BY 1, 2, 3, 4),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY w, h, luma_sum
       |    ORDER BY id, frame_idx) AS rk,
       |    COUNT(*) OVER (PARTITION BY w, h, luma_sum) AS n_frames
       |  FROM fsum)
       |SELECT w, h, luma_sum, n_frames, id AS keeper_id,
       |  frame_idx AS keeper_frame
       |FROM r WHERE rk = 1 ORDER BY w, h, luma_sum""".stripMargin

  /** Data-quality gate over the documents batch
    * ([[Expectations.run]]): seven declared checks — key completeness
    * and uniqueness, payload/metadata completeness, the lang enum,
    * the n_chars range, and a cross-column consistency predicate —
    * ALL evaluated in one aggregation pass (one corpus scan + the
    * count_distinct expand). Violations are exact integer row counts,
    * so the report hash-matches an independent engine and thresholds
    * are row budgets, not float scores. This is the promote/refuse
    * gate a pipeline runs on every ingest batch. */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val docs = Tables.read(spark, dir, "documents")
    run(docs, Seq(
      complete("doc_id"),
      unique("doc_id"),
      complete("text"),
      complete("lang"),
      inSet("lang", Seq("de", "en", "es", "fr", "zh")),
      inRange("n_chars", 1L, 1000000L),
      satisfies("text_len_matches", "n_chars",
        length(col("text")) === col("n_chars"))))
      .orderBy("check", "column")
  }

  val expectationsSql: String = {
    def row(check: String, column: String, viol: String,
        allowed: Long = 0L): String =
      s"""SELECT '$check' AS "check", '$column' AS "column",
         |  $viol AS violations, CAST($allowed AS BIGINT) AS allowed,
         |  $viol <= $allowed AS passed FROM m""".stripMargin
    s"""WITH m AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_id_null,
       |    CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) AS v_id_dup,
       |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_text_null,
       |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_lang_null,
       |    CAST(SUM(CASE WHEN lang IN ('de','en','es','fr','zh')
       |      THEN 0 ELSE 1 END) AS BIGINT) AS v_lang_set,
       |    CAST(SUM(CASE WHEN n_chars >= 1 AND n_chars <= 1000000
       |      THEN 0 ELSE 1 END) AS BIGINT) AS v_range,
       |    CAST(SUM(CASE WHEN length(text) = n_chars
       |      THEN 0 ELSE 1 END) AS BIGINT) AS v_len
       |  FROM documents)
       |${row("complete", "doc_id", "v_id_null")}
       |UNION ALL ${row("unique", "doc_id", "v_id_dup")}
       |UNION ALL ${row("complete", "text", "v_text_null")}
       |UNION ALL ${row("complete", "lang", "v_lang_null")}
       |UNION ALL ${row("in_set", "lang", "v_lang_set")}
       |UNION ALL ${row("in_range", "n_chars", "v_range")}
       |UNION ALL ${row("text_len_matches", "n_chars", "v_len")}
       |ORDER BY "check", "column"""".stripMargin
  }

  /** The APPROXIMATE-unique expectation ([[Expectations.uniqueApprox]],
    * r11): uniqueness estimated through the in-house HLL aggregate —
    * 2^b bytes of state per check and NO distinct-aggregate Expand,
    * so a wide profiling suite on high-cardinality columns keeps the
    * one-scan constant-state story. Fully oracle-checkable because
    * [[graft.functions.HllSketchAgg]] is bit-compatible with the
    * certified HLL SQL (same md5 bucket/rank split, same estimate
    * algebra — q_distinct_hll's contract): violations
    * = GREATEST(count - estimate, 0) is the same integer on both
    * engines. Mixed suite: two approx checks beside two exact ones,
    * all in the single aggregation pass. */
  def expectationsApprox(spark: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val docs = Tables.read(spark, dir, "documents")
    run(docs, Seq(
      uniqueApprox("doc_id", allowed = 100000L, b = 8),
      uniqueApprox("lang", allowed = 100000000L, b = 8),
      complete("doc_id"),
      inRange("n_chars", 1L, 1000000L)))
      .orderBy("check", "column")
  }

  val expectationsApproxSql: String = {
    def approxRow(column: String, allowed: Long): String =
      s"""SELECT 'unique_approx' AS "check", '$column' AS "column",
         |  CAST(viol AS BIGINT) AS violations,
         |  CAST($allowed AS BIGINT) AS allowed, viol <= $allowed AS passed
         |  FROM mv WHERE g = '$column'""".stripMargin
    s"""WITH t0 AS (
       |  SELECT 'doc_id' AS g, CAST(doc_id AS VARCHAR) AS v
       |  FROM documents WHERE doc_id IS NOT NULL
       |  UNION ALL
       |  SELECT 'lang', lang FROM documents WHERE lang IS NOT NULL),
       |${Sketches.hllDistinctSql("t0", "g", "v")},
       |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM t0 GROUP BY 1),
       |mv AS (
       |  SELECT c.g, GREATEST(c.c - h.est_distinct, 0) AS viol
       |  FROM cnt c JOIN hll h USING (g)),
       |ex AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_id_null,
       |    CAST(SUM(CASE WHEN n_chars >= 1 AND n_chars <= 1000000
       |      THEN 0 ELSE 1 END) AS BIGINT) AS v_range
       |  FROM documents)
       |${approxRow("doc_id", 100000L)}
       |UNION ALL ${approxRow("lang", 100000000L)}
       |UNION ALL SELECT 'complete', 'doc_id', v_id_null,
       |  CAST(0 AS BIGINT), v_id_null <= 0 FROM ex
       |UNION ALL SELECT 'in_range', 'n_chars', v_range,
       |  CAST(0 AS BIGINT), v_range <= 0 FROM ex
       |ORDER BY "check", "column"""".stripMargin
  }

  // ---------- registry (extended by the dedup/similarity batch) ----------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_token_count" -> tokenCount _,
    "q_text_quality" -> textQuality _,
    "q_langid" -> langId _,
    "q_fingerprint" -> fingerprint _,
    "q_doc_stats" -> docStats _,
    "q_dedup_exact" -> dedupExact _,
    "q_dedup_jaccard" -> dedupJaccard _,
    "q_dedup_jaccard3" -> dedupJaccard3 _,
    "q_dedup_jaccard_rest" -> dedupJaccardRest _,
    "q_distinct_kmv" -> distinctKmv _,
    "q_distinct_hll" -> distinctHll _,
    "q_search_conj" -> searchConj _,
    "q_search_bm25" -> searchBm25 _,
    "q_search_bm25_call" -> searchBm25Call _,
    "q_search_bm25_stream" -> searchBm25Stream _,
    "q_search_inc_maintain" -> searchBm25Inc _,
    "q_search_auto_maintain" -> searchBm25Auto _,
    "q_search_phrase" -> searchPhrase _,
    "q_search_any" -> searchAny _,
    "q_search_near" -> searchNear _,
    "q_search_facets" -> searchFacets _,
    "q_heavy_hitters" -> heavyHitters _,
    "q_heavy_mg" -> heavyHittersMg _,
    "q_heavy_mg_grouped" -> heavyHittersMgGrouped _,
    "q_heavy_mg_rest" -> heavyHittersMgRest _,
    "q_stream_heavy" -> heavyHittersMgStream _,
    "q_quantile_sketch" -> quantileSketch _,
    "q_quality_trim" -> qualityTrim _,
    "q_quality_trim_float" -> qualityTrimFloat _,
    "q_distinct_overlap" -> distinctOverlap _,
    "q_distinct_hll_native" -> distinctHll _,
    "q_embed_quantize" -> embedQuantize _,
    "q_bloom_join" -> bloomJoin _,
    "q_dedup_minhash" -> dedupMinhash _,
    "q_dedup_simhash" -> dedupSimhash _,
    "q_dedup_components" -> dedupComponents _,
    "q_clean_pipeline" -> cleanPipeline _,
    "q_subword_count" -> subwordCount _,
    "q_bpe_encode" -> bpeEncode _,
    "q_tfidf" -> tfidf _,
    "q_ann_cosine" -> annCosine _,
    "q_ann_matryoshka" -> annMatryoshka _,
    "q_chunk_overlap" -> chunkOverlap _,
    "q_ann_binary" -> annBinary _,
    "q_ann_binary_rest" -> annBinaryRest _,
    "q_ann_binary_gen" -> annBinaryGen _,
    "q_ann_ivf_gen" -> annIvfGen _,
    "q_ann_ivf_inc" -> annIvfInc _,
    "q_ann_binary_ivf_gen" -> annBinaryIvfGen _,
    "q_ann_ivf_retrain" -> annIvfRetrain _,
    "q_ann_binary_stream" -> annBinaryStream _,
    "q_ann_pq_gen" -> annPqGen _,
    "q_ann_ivfpq_gen" -> annIvfPqGen _,
    "q_dedup_cdc" -> dedupCdc _,
    "q_ann_lsh_buckets" -> annLshBuckets _,
    "q_ann_neardup" -> annNearDup _,
    "q_ann_neardup_multi" -> annNearDupMulti _,
    "q_ann_ivf" -> annIvf _,
    "q_ann_filtered" -> annFiltered _,
    "q_hybrid_search" -> hybridSearch _,
    "q_hybrid_filtered" -> hybridFiltered _,
    "q_hybrid_weighted" -> hybridWeighted _,
    "q_hybrid_minmax" -> hybridMinmax _,
    "q_hybrid_fuzzy" -> hybridFuzzy _,
    "q_hybrid_batch" -> hybridBatch _,
    "q_hybrid_batch_filtered" -> hybridBatchFiltered _,
    "q_ann_maxsim" -> annMaxsim _,
    "q_ann_colbert" -> annColbert _,
    "q_eval_retrieval" -> evalRetrieval _,
    "q_eval_negatives" -> evalNegatives _,
    "q_eval_sql" -> evalSql _,
    "q_eval_summary" -> evalSummary _,
    "q_search_filtered" -> searchFiltered _,
    "q_search_fuzzy" -> searchFuzzy _,
    "q_search_prefix" -> searchPrefix _,
    "q_search_fuzzy_capped" -> searchFuzzyCapped _,
    "q_search_prefix_capped" -> searchPrefixCapped _,
    "q_search_fuzzy_batch" -> searchFuzzyBatchQ _,
    "q_search_prefix_batch" -> searchPrefixBatchQ _,
    "q_table_index_sync" -> tableIndexSync _,
    "q_table_index_sync_vec" -> tableIndexSyncVec _,
    "q_fingerprint_rolling" -> fingerprintRolling _,
    "q_multimodal_stats" -> multimodalStats _,
    "q_multimodal_frames" -> multimodalFrames _,
    "q_vocab_topk" -> vocabTopK _,
    "q_kmeans" -> kmeans _,
    "q_ann_ivf_kmeans" -> annIvfKmeans _,
    "q_ann_pq" -> annPq _,
    "q_ann_ivfpq" -> annIvfPq _,
    "q_decontaminate" -> decontaminate _,
    "q_split" -> splitAssign _,
    "q_repetition" -> repetition _,
    "q_quality_filter" -> qualityFilter _,
    "q_sample_stratified" -> sampleStratified _,
    "q_sample_weighted" -> sampleWeighted _,
    "q_export_manifest" -> exportManifest _,
    "q_dedup_edit" -> dedupEdit _,
    "q_chunk_dedup" -> chunkDedup _,
    "q_semdedup" -> semDedup _,
    "q_bpe_pairs" -> bpePairs _,
    "q_pii_scrub" -> piiScrub _,
    "q_curate" -> curate _,
    "q_quality_percentile" -> qualityPercentile _,
    "q_lm_score" -> lmScore _,
    "q_dedup_best_keeper" -> dedupBestKeeper _,
    "q_mixture" -> mixture _,
    "q_pack_sequences" -> packSequences _,
    "q_dup_passages" -> dupPassages _,
    "q_lm_perplexity" -> lmPerplexity _,
    "q_fingerprint_winnow" -> fingerprintWinnow _,
    "q_dup_span_coverage" -> dupSpanCoverage _,
    "q_tokenize_pack" -> tokenizePack _,
    "q_ann_range" -> annRange _,
    "q_dedup_winnow" -> dedupWinnow _,
    "q_normalize_nfc" -> normalizeNfcQ _,
    "q_multimodal_image" -> multimodalImage _,
    "q_multimodal_audio" -> multimodalAudio _,
    "q_multimodal_video" -> multimodalVideo _,
    "q_multimodal_frame_dedup" -> multimodalFrameDedup _,
    "q_expectations" -> expectations _,
    "q_expectations_approx" -> expectationsApprox _)

  val oracles: Map[String, String] = Map(
    "q_token_count" -> tokenCountSql,
    "q_text_quality" -> textQualitySql,
    "q_langid" -> langIdSql,
    "q_fingerprint" -> fingerprintSql,
    "q_doc_stats" -> docStatsSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_jaccard" -> dedupJaccardSql,
    "q_dedup_jaccard3" -> dedupJaccard3Sql,
    "q_dedup_jaccard_rest" -> dedupJaccardRestSql,
    "q_distinct_kmv" -> distinctKmvSql,
    "q_distinct_hll" -> distinctHllSql,
    "q_search_conj" -> searchConjSql,
    "q_search_bm25" -> searchBm25Sql,
    "q_search_bm25_call" -> searchBm25Sql, // CALL face == inline serve
    "q_search_bm25_stream" -> searchBm25Sql,  // streaming ingest, same live set
    "q_search_inc_maintain" -> searchBm25IncSql,
    "q_search_auto_maintain" -> searchBm25IncSql,
    "q_search_phrase" -> searchPhraseSql,
    "q_search_any" -> searchAnySql,
    "q_search_near" -> searchNearSql,
    "q_search_facets" -> searchFacetsSql,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_heavy_mg" -> heavyHittersMgSql,
    "q_heavy_mg_grouped" -> heavyHittersMgGroupedSql,
    "q_heavy_mg_rest" -> heavyHittersMgSql,  // same exact set as q_heavy_mg
    "q_stream_heavy" -> heavyHittersMgSql,  // same exact set as q_heavy_mg
    "q_quantile_sketch" -> quantileSketchSql,
    "q_quality_trim" -> qualityTrimSql,
    "q_quality_trim_float" -> qualityTrimFloatSql,
    "q_distinct_overlap" -> distinctOverlapSql,
    "q_distinct_hll_native" -> distinctHllSql,
    "q_embed_quantize" -> embedQuantizeSql,
    "q_bloom_join" -> bloomJoinSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_dedup_components" -> dedupComponentsSql,
    "q_clean_pipeline" -> cleanPipelineSql,
    "q_subword_count" -> subwordCountSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_tfidf" -> tfidfSql,
    "q_ann_cosine" -> annCosineSql,
    "q_ann_matryoshka" -> annMatryoshkaSql,
    "q_chunk_overlap" -> chunkOverlapSql,
    "q_ann_binary" -> annBinarySql,
    "q_ann_binary_rest" -> annBinarySql,  // identical output to the inline path
    "q_ann_binary_gen" -> annBinarySql,   // generational lifecycle, same live set
    "q_ann_ivf_gen" -> annIvfSql,         // generational lifecycle, same live set
    "q_ann_ivf_inc" -> annIvfSql,         // incremental fold + vacuum, same live set
    "q_ann_binary_ivf_gen" -> annBinaryIvfGenSql,
    "q_ann_ivf_retrain" -> annIvfRetrainSql,
    "q_ann_binary_stream" -> annBinarySql, // streaming-ingested index, same live set
    "q_ann_pq_gen" -> annPqSql,            // generational PQ codes, same live set
    "q_ann_ivfpq_gen" -> ivfPqSql,         // generational IVFADC, same live set
    "q_dedup_cdc" -> dedupCdcSql,
    "q_ann_lsh_buckets" -> annLshBucketsSql,
    "q_ann_neardup" -> annNearDupSql,
    "q_ann_neardup_multi" -> annNearDupMultiSql,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_filtered" -> annFilteredSql,
    "q_hybrid_search" -> hybridSearchSql,
    "q_hybrid_filtered" -> hybridFilteredSql,
    "q_hybrid_weighted" -> hybridWeightedSql,
    "q_hybrid_minmax" -> hybridMinmaxSql,
    "q_hybrid_fuzzy" -> hybridFuzzySql,
    "q_hybrid_batch" -> hybridBatchSql,
    "q_hybrid_batch_filtered" -> hybridBatchFilteredSql,
    "q_ann_maxsim" -> annMaxsimSql,
    "q_ann_colbert" -> annColbertSql,
    "q_eval_retrieval" -> evalRetrievalSql,
    "q_eval_negatives" -> evalNegativesSql,
    "q_eval_sql" -> evalRetrievalSql, // CALL face == Eval.rankMetrics
    "q_eval_summary" -> evalSummarySql,
    "q_search_filtered" -> searchFilteredSql,
    "q_search_fuzzy" -> searchFuzzySql,
    "q_search_prefix" -> searchPrefixSql,
    "q_search_fuzzy_capped" -> searchFuzzyCappedSql,
    "q_search_prefix_capped" -> searchPrefixCappedSql,
    "q_search_fuzzy_batch" -> searchFuzzyBatchSql,
    "q_search_prefix_batch" -> searchPrefixBatchSql,
    "q_table_index_sync" -> tableIndexSyncSql,
    "q_table_index_sync_vec" -> tableIndexSyncVecSql,
    "q_fingerprint_rolling" -> fingerprintRollingSql,
    "q_multimodal_stats" -> multimodalStatsSql,
    "q_multimodal_frames" -> multimodalFramesSql,
    "q_vocab_topk" -> vocabTopKSql,
    "q_kmeans" -> kmeansSql,
    "q_ann_ivf_kmeans" -> annIvfKmeansSql,
    "q_ann_pq" -> annPqSql,
    "q_ann_ivfpq" -> ivfPqSql,
    "q_decontaminate" -> decontaminateSql,
    "q_split" -> splitAssignSql,
    "q_repetition" -> repetitionSql,
    "q_quality_filter" -> qualityFilterSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_export_manifest" -> exportManifestSql,
    "q_dedup_edit" -> dedupEditSql,
    "q_chunk_dedup" -> chunkDedupSql,
    "q_semdedup" -> semDedupSql,
    "q_bpe_pairs" -> bpePairsSql,
    "q_pii_scrub" -> piiScrubSql,
    "q_curate" -> curateSql,
    "q_quality_percentile" -> qualityPercentileSql,
    "q_lm_score" -> lmScoreSql,
    "q_dedup_best_keeper" -> dedupBestKeeperSql,
    "q_mixture" -> mixtureSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_dup_passages" -> dupPassagesSql,
    "q_lm_perplexity" -> lmPerplexitySql,
    "q_fingerprint_winnow" -> fingerprintWinnowSql,
    "q_dup_span_coverage" -> dupSpanCoverageSql,
    "q_tokenize_pack" -> tokenizePackSql,
    "q_ann_range" -> annRangeSql,
    "q_dedup_winnow" -> dedupWinnowSql,
    "q_normalize_nfc" -> normalizeNfcSql,
    "q_multimodal_image" -> multimodalImageSql,
    "q_multimodal_audio" -> multimodalAudioSql,
    "q_multimodal_video" -> multimodalVideoSql,
    "q_multimodal_frame_dedup" -> multimodalFrameDedupSql,
    "q_expectations" -> expectationsSql,
    "q_expectations_approx" -> expectationsApproxSql)
}
