package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact (hash
 * groupBy), n-gram Jaccard via an inverted-index join, MinHash + LSH
 * banding, and SimHash. All are declarative DataFrame plans — Catalyst
 * handles partial aggregation, and the joins are standard shuffled
 * hash/sort-merge joins on high-cardinality keys (token, band), which is
 * exactly the shape that scales: candidate generation is O(postings),
 * never O(n^2) over documents.
 *
 * Token ids are derived arithmetically from md5(token) — a pure
 * per-row expression, so there is NO global vocabulary pass (no
 * distinct, no window, no join): the id of a token is a function of its
 * bytes, computed identically by the DuckDB oracle. At 100 TB the
 * vocabulary is billions of tokens; any materialized vocabulary (let
 * alone a global-sort window) is a hard stop, while this path adds zero
 * jobs.
 */
object Dedup {

  /** MinHash parameters: k universal hashes h_i(x) = (a_i*x + b_i) mod p. */
  val MinhashP: Long = 2147483647L
  val MinhashA: Array[Long] = Array(7L, 13L, 31L, 61L, 127L, 251L, 509L,
    1021L, 2039L, 4093L, 8191L, 16381L, 32749L, 65521L, 131071L, 262139L)
  val MinhashB: Array[Long] = Array(3L, 17L, 29L, 53L, 101L, 211L, 401L,
    809L, 1601L, 3203L, 6421L, 12809L, 25603L, 51203L, 102407L, 204803L)
  val NumHashes: Int = MinhashA.length // 16
  val BandSize: Int = 4                // -> 4 bands

  /**
   * Token id in [0, MinhashP): the first 15 hex digits of md5(tok) read
   * as an integer, reduced mod p. 15 hex digits = 60 bits, so the
   * intermediate fits a signed long, and a*tokId + b (a <= 2^21,
   * tokId < 2^31) never overflows. The DuckDB oracle computes the
   * identical value via CAST('0x' || substr(md5(tok),1,15) AS BIGINT).
   */
  def tokenId(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % MinhashP

  /** Same token id as SQL text for the DuckDB oracle. */
  def tokenIdSql(tok: String): String =
    s"(CAST(('0x' || substr(md5($tok), 1, 15)) AS BIGINT) % $MinhashP)"

  /**
   * Exact deduplication: every row mapped to the minimum id sharing its
   * content hash. `keeper == id` marks the row to keep. One shuffle on
   * the content hash; at 100 TB this is the canonical hash-partition
   * dedup (the window's partition key is the md5, so skew = true
   * duplicate mass).
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
    df.select(col(idCol), min(col(idCol)).over(w).as("keeper"))
  }

  /** (id, token) postings with per-document distinct tokens. */
  private def postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))

  /**
   * Postings with a document-frequency cap: tokens present in more than
   * `maxDf` documents are dropped (PPJoin-style hot-token filtering).
   * A stopword shared by 10^9 documents would otherwise make its join
   * group quadratic; dropping it bounds every group at maxDf while
   * near-identical documents still share nearly all their informative
   * tokens. One extra partial-agg pass; skipped entirely when
   * maxDf == Long.MaxValue.
   */
  def cappedPostings(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long): DataFrame =
    capByDocFrequency(postings(df, idCol, textCol), maxDf)

  /** Apply the df cap to any (id, tok) frame (shared by the token and
    * shingle paths so the cap semantics can never diverge). */
  private def capByDocFrequency(post: DataFrame, maxDf: Long): DataFrame = {
    if (maxDf == Long.MaxValue) post
    else {
      val dfc = post.groupBy("tok").agg(count("*").as("dfc"))
        .filter(col("dfc") <= maxDf).drop("dfc")
      post.join(dfc, "tok").select("id", "tok")
    }
  }

  // ---------- incremental corpus addition, at rest ----------

  /** Handle to a [[jaccardRestInit]]-built on-disk working set. Nothing
    * is persisted in executor memory between folds — the state IS the
    * table. */
  final case class JaccardRest(path: String, nBuckets: Int, fold: Int,
      threshold: Double, maxDf: Long)

  private def bucketOf(c: Column, n: Int) =
    pmod(xxhash64(c), lit(n)).cast("int")

  /** Append `df` under `dir` as a parquet table DIRECTORY-PARTITIONED
    * by `bcol` (token or id hash bucket) and row-group-sorted by
    * `sortCol`, so probe joins on (bucket, key) get all three read
    * levers: static partition pruning on literal bucket sets, dynamic
    * partition pruning from a joined probe side, and min/max row-group
    * skipping inside each file. */
  private def writeBucketed(df: DataFrame, dir: String, bcol: String,
      sortCol: String): Unit =
    df.repartition(col(bcol)).sortWithinPartitions(sortCol)
      .write.mode("append").partitionBy(bcol).parquet(dir)

  private def writeRestMeta(st: JaccardRest): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    Seq((st.nBuckets, st.fold, st.threshold, st.maxDf))
      .toDF("nBuckets", "fold", "threshold", "maxDf")
      .coalesce(1).write.mode("overwrite").parquet(s"${st.path}/meta")
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Present under a set's path from a fold's first append until its
    * meta commits. A fold that died in between left a shard's postings
    * and df deltas in the logs; folding that shard again would count
    * them twice. */
  private val FoldMarker = "_FOLD_IN_PROGRESS"

  private def requireNoInterruptedFold(spark: SparkSession, path: String): Unit =
    if (fsOf(spark, path).exists(new Path(path, FoldMarker)))
      throw new IllegalStateException(s"at-rest Jaccard set $path holds an " +
        s"interrupted fold ($FoldMarker): its logs may count a shard twice; " +
        "the set must be rebuilt with jaccardRestInit")

  /** Per-id row count `n` and non-null-text count `nt` of a shard. */
  private def shardIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(idCol).as("id"))
      .agg(count(lit(1)).as("n"), count(col(textCol)).as("nt"))

  /** Refuses a shard holding a null or repeated id: postings explode per
    * row, so two rows of one id would score as one document holding
    * both token sets. One job over `ids` ([[shardIds]]); returns the
    * shard's row count with text. */
  private def requireUniqueIds(ids: DataFrame, idCol: String, who: String): Long = {
    val (bad, texts) = ids.rdd
      .map(r => (if (r.isNullAt(0) || r.getLong(1) > 1) Some(String.valueOf(r.get(0)))
        else None, r.getLong(2)))
      .fold((None, 0L)) { case ((a, x), (b, y)) => (a.orElse(b), x + y) }
    require(bad.isEmpty, s"$who: id column '$idCol' holds a null or repeated " +
      s"id (${bad.get}); ids must be non-null and unique within a shard")
    texts
  }

  /** Reopen an at-rest working set written by a previous session. */
  def jaccardRestOpen(spark: SparkSession, path: String): JaccardRest = {
    requireNoInterruptedFold(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
    JaccardRest(path, m.getInt(0), m.getInt(1), m.getDouble(2), m.getLong(3))
  }

  /**
   * Build the Jaccard dedup working set AT REST from a first shard;
   * [[jaccardRestMerge]] folds in the next ones. The corpus lives on
   * disk as bucket-partitioned parquet, and a fold touches it only
   * through (bucket, key) equi-joins whose probe side is delta-sized —
   * partition-pruned when the probe's buckets are few, broadcast (zero
   * corpus shuffle) when AQE sees the probe is small, and at worst ONE
   * sort-merge pass over the corpus postings.
   *
   * Layout under `path` (all plain parquet, append-only logs):
   *  - `post_tok/tb=B/` postings partitioned by token hash bucket —
   *    the partner-probe side;
   *  - `post_id/ib=B/` the same postings partitioned by doc-id bucket
   *    — read ONLY on the rare df-cap-crossing path to fetch affected
   *    old docs' full token sets;
   *  - `dflog/tb=B/` per-fold token document-frequency DELTAS; the
   *    current df of a token set is a pruned sum over its buckets
   *    (ingest never rewrites the vocabulary table);
   *  - `sizes/` (id, sz, fold): capped token-set sizes, latest fold
   *    per id wins;
   *  - `pairs/` (ida, idb, jaccard, fold): scored-pair emissions;
   *  - `wm/` (id, fold): the affected-doc watermark. Every fold
   *    re-emits ALL surviving pairs that involve a doc it touched, so
   *    at read time a pair is live iff its emission fold >= both
   *    sides' watermarks — deletion without tombstones, and fold cost
   *    never includes a scan of the pairs log.
   * [[jaccardRestPairs]] resolves pairs+wm; compaction (rewriting the
   * logs resolved) is the same checkpoint lever as the versioned
   * table's and is left to the caller's cadence.
   *
   * Refused before an existing set at `path` is dropped: `nBuckets <= 0`,
   * a shard without postings (empty, or every text null) and a null or
   * repeated id.
   */
  def jaccardRestInit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long, path: String,
      nBuckets: Int = 64): JaccardRest = {
    require(nBuckets > 0, s"jaccardRestInit: nBuckets must be positive, got $nBuckets")
    val texts = requireUniqueIds(shardIds(df, idCol, textCol), idCol,
      "jaccardRestInit")
    require(texts > 0, "jaccardRestInit: the shard has no postings (it is " +
      s"empty or every '$textCol' is null)")
    val spark = df.sparkSession
    jaccardRestDrop(spark, path)
    val post = postings(df, idCol, textCol)
      .withColumn("tb", bucketOf(col("tok"), nBuckets))
    writeBucketed(post, s"$path/post_tok", "tb", "tok")
    // re-read the written postings (columnar) rather than re-exploding
    // the source text for each downstream pass
    val postR = spark.read.parquet(s"$path/post_tok")
    writeBucketed(postR.select(col("id"), col("tok"),
      bucketOf(col("id"), nBuckets).as("ib")), s"$path/post_id", "ib", "id")
    val dfTab = postR.groupBy("tb", "tok").agg(count(lit(1)).as("dfc"))
    writeBucketed(dfTab, s"$path/dflog", "tb", "tok")
    val capped = postR
      .join(spark.read.parquet(s"$path/dflog")
        .groupBy("tok").agg(sum("dfc").as("dfc"))
        .filter(col("dfc") <= maxDf).select("tok"), "tok")
      .select("id", "tok")
    capped.groupBy("id").agg(count(lit(1)).as("sz"))
      .withColumn("fold", lit(0))
      .write.mode("append").parquet(s"$path/sizes")
    jaccardFromPostings(capped, threshold)
      .withColumn("fold", lit(0))
      .write.mode("append").parquet(s"$path/pairs")
    spark.range(0).select(col("id"), lit(0).as("fold"))
      .write.parquet(s"$path/wm")
    val st = JaccardRest(path, nBuckets, 0, threshold, maxDf)
    writeRestMeta(st)
    st
  }

  /** Latest committed capped size per doc. */
  private def latestSizes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/sizes")
      .groupBy("id")
      .agg(max(struct(col("fold"), col("sz"))).getField("sz").as("sz"))

  /**
   * Fold one shard into an at-rest working set. The resolved pairs
   * equal a full recompute over the union (spec-pinned, including
   * df-cap crossings); every read is delta-sized:
   *  - crossing check = pruned (tb, tok) probe of the df log by the
   *    shard vocabulary;
   *  - affected old docs (crossings only) = pruned probe of `post_tok`
   *    by the crossed tokens, then of `post_id` by the affected ids;
   *  - partner/intersection rows = ONE probe of `post_tok` by the
   *    affected docs' capped tokens. Intersections of affected pairs
   *    only ever involve the affected side's own tokens, so this probe
   *    is the complete rescore input; partner sizes come from the
   *    maintained sizes log.
   * A null or repeated id within the shard is refused before anything
   * is written; ids must also be unique across shards (caller's
   * contract). A marker under `path` spans the first append to the meta
   * commit, so a fold that dies in between makes every later use of the
   * set refuse until it is rebuilt.
   */
  def jaccardRestMerge(st: JaccardRest, delta: DataFrame, idCol: String,
      textCol: String): JaccardRest = {
    import org.apache.spark.storage.StorageLevel
    val spark = delta.sparkSession
    val nB = st.nBuckets
    val fold = st.fold + 1
    val path = st.path
    requireNoInterruptedFold(spark, path)
    val deltaIds = shardIds(delta, idCol, textCol).localCheckpoint(true)
    requireUniqueIds(deltaIds, idCol, "jaccardRestMerge")
    val dPost = postings(delta, idCol, textCol)
      .withColumn("tb", bucketOf(col("tok"), nB))
      .localCheckpoint(true)
    val dDf = dPost.groupBy("tb", "tok").agg(count(lit(1)).as("dfc"))
      .localCheckpoint(true)
    // tokens the shard pushes over the cap: pre-shard df of the SHARD
    // vocabulary only (pruned probe of the df log)
    val crossed = spark.read.parquet(s"$path/dflog")
      .join(dDf.withColumnRenamed("dfc", "ddfc"), Seq("tb", "tok"))
      .groupBy("tb", "tok", "ddfc").agg(sum("dfc").as("olddfc"))
      .filter(col("olddfc") <= st.maxDf &&
        col("olddfc") + col("ddfc") > st.maxDf)
      .select("tb", "tok")
      .localCheckpoint(true)
    val hasCrossed = crossed.limit(1).count() > 0
    val affectedOld =
      if (hasCrossed)
        spark.read.parquet(s"$path/post_tok")
          .join(crossed, Seq("tb", "tok")).select("id").distinct()
          .localCheckpoint(true)
      else spark.range(0).select(col("id"))
    val affected = affectedOld.unionByName(deltaIds.select("id")).distinct()
      .localCheckpoint(true)
    // full token sets of affected OLD docs, via the id-bucketed copy;
    // materialized BEFORE the shard is appended (lazy reads would see
    // the new files)
    val affPost = (if (hasCrossed)
        spark.read.parquet(s"$path/post_id")
          .join(affectedOld.withColumn("ib", bucketOf(col("id"), nB)),
            Seq("ib", "id"))
          .select(col("id"), col("tok"), bucketOf(col("tok"), nB).as("tb"))
          .unionByName(dPost.select("id", "tok", "tb"))
      else dPost.select("id", "tok", "tb"))
      .localCheckpoint(true)
    // publish the shard (postings + df deltas); everything below reads
    // the merged state
    val marker = new Path(path, FoldMarker)
    fsOf(spark, path).create(marker, false).close()
    writeBucketed(dPost.select("id", "tok", "tb"), s"$path/post_tok", "tb", "tok")
    writeBucketed(dPost.select(col("id"), col("tok"),
      bucketOf(col("id"), nB).as("ib")), s"$path/post_id", "ib", "id")
    writeBucketed(dDf, s"$path/dflog", "tb", "tok")
    // capped tokens of affected docs against the MERGED df (pruned sum)
    val aTok = spark.read.parquet(s"$path/dflog")
      .join(affPost.select("tb", "tok").distinct(), Seq("tb", "tok"))
      .groupBy("tb", "tok").agg(sum("dfc").as("dfc"))
      .filter(col("dfc") <= st.maxDf)
      .select("tb", "tok")
      .localCheckpoint(true)
    // THE corpus probe: every (id, tok in aTok) row, shard included —
    // one pruned/broadcast-joined pass, materialized once
    val nbrRows = spark.read.parquet(s"$path/post_tok")
      .join(aTok, Seq("tb", "tok")).select("id", "tok")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val aP = nbrRows.join(affected, Seq("id"), "left_semi")
    val pP = nbrRows.join(affected, Seq("id"), "left_anti")
    // capped sizes: affected recomputed (aP IS their capped postings),
    // partners from the sizes log (unchanged by this fold)
    val szAff = aP.groupBy("id").agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    val szPart = latestSizes(spark, path)
      .join(pP.select("id").distinct(), Seq("id"), "left_semi")
    val inter = aP.as("a").join(pP.as("b"), col("a.tok") === col("b.tok"))
      .select(least(col("a.id"), col("b.id")).as("ida"),
        greatest(col("a.id"), col("b.id")).as("idb"))
      .unionByName(aP.as("a").join(aP.as("b"),
          col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
        .select(col("a.id").as("ida"), col("b.id").as("idb")))
      .groupBy("ida", "idb").agg(count(lit(1)).as("i"))
    scorePairs(inter, szAff.unionByName(szPart), st.threshold)
      .withColumn("fold", lit(fold))
      .write.mode("append").parquet(s"$path/pairs")
    affected.withColumn("fold", lit(fold))
      .write.mode("append").parquet(s"$path/wm")
    szAff.withColumn("fold", lit(fold))
      .write.mode("append").parquet(s"$path/sizes")
    nbrRows.unpersist(blocking = false)
    val next = st.copy(fold = fold)
    writeRestMeta(next)
    fsOf(spark, path).delete(marker, false)
    next
  }

  /** Live scored pairs of an at-rest working set: latest emission per
    * pair, kept iff emitted at or after BOTH sides' affected
    * watermarks (every fold re-emits all surviving pairs of the docs
    * it touched, so an older emission involving a touched doc is dead
    * by construction). */
  def jaccardRestPairs(spark: SparkSession, st: JaccardRest): DataFrame = {
    requireNoInterruptedFold(spark, st.path)
    val latest = spark.read.parquet(s"${st.path}/pairs")
      .groupBy("ida", "idb")
      .agg(max(struct(col("fold"), col("jaccard"))).as("s"))
      .select(col("ida"), col("idb"), col("s.fold").as("pf"),
        col("s.jaccard").as("jaccard"))
    val wm = spark.read.parquet(s"${st.path}/wm")
      .groupBy("id").agg(max("fold").as("wf"))
    latest
      .join(wm.select(col("id").as("ida"), col("wf").as("wa")), Seq("ida"), "left")
      .join(wm.select(col("id").as("idb"), col("wf").as("wb")), Seq("idb"), "left")
      .filter(col("pf") >= coalesce(col("wa"), lit(0)) &&
        col("pf") >= coalesce(col("wb"), lit(0)))
      .select("ida", "idb", "jaccard")
  }

  /**
   * Checkpoint-compact an at-rest working set: every log is rewritten
   * RESOLVED — pairs to the live set (watermarks folded in, wm log
   * emptied), sizes to latest-per-doc, the df log to one aggregated
   * fold, and the two postings tables coalesced (shard appends
   * accumulate small files per bucket; compaction rewrites each bucket
   * once). O(corpus) cost by design — the same cadence lever as the
   * versioned table's `compact`: fold cost stays delta-sized between
   * compactions, read-resolve cost resets to zero history. Single
   * writer, like every other mutation here.
   */
  def jaccardRestCompact(spark: SparkSession, st: JaccardRest): JaccardRest = {
    val path = st.path
    requireNoInterruptedFold(spark, path)
    val f = fsOf(spark, path)
    def swapIn(sub: String)(write: String => Unit): Unit = {
      val tmp = s"$path/.compact-$sub"
      f.delete(new Path(tmp), true)
      write(tmp)
      f.delete(new Path(s"$path/$sub"), true)
      f.rename(new Path(tmp), new Path(s"$path/$sub"))
      ()
    }
    // each swap WRITES the resolved view to a temp dir (reading the
    // still-present source logs), then deletes the source and renames —
    // no lineage ever outlives its files. Resolved pairs re-stamp at
    // the current fold; all watermarks are thereby satisfied, so the
    // wm log restarts empty.
    swapIn("pairs")(t => jaccardRestPairs(spark, st)
      .withColumn("fold", lit(st.fold)).write.parquet(t))
    swapIn("wm")(t => spark.range(0)
      .select(col("id"), lit(0).as("fold")).write.parquet(t))
    swapIn("sizes")(t => latestSizes(spark, path)
      .withColumn("fold", lit(st.fold)).write.parquet(t))
    swapIn("dflog")(t => spark.read.parquet(s"$path/dflog")
      .groupBy("tb", "tok").agg(sum("dfc").as("dfc"))
      .repartition(col("tb")).sortWithinPartitions("tok")
      .write.partitionBy("tb").parquet(t))
    Seq("post_tok" -> "tb", "post_id" -> "ib").foreach { case (sub, bcol) =>
      swapIn(sub)(t => spark.read.parquet(s"$path/$sub")
        .repartition(col(bcol))
        .sortWithinPartitions(if (bcol == "tb") "tok" else "id")
        .write.partitionBy(bcol).parquet(t))
    }
    writeRestMeta(st)
    st
  }

  /**
   * Retention sweep for an at-rest working set. [[jaccardRestCompact]]
   * reclaims the logs themselves (each swap-in deletes the superseded
   * log before renaming its resolved rewrite in), so the only garbage
   * a crash can strand is a half-written `.compact-*` staging dir —
   * this sweeps those, age-guarded like [[graft.io.Versioned.vacuum]]'s
   * staging sweep so an in-flight compaction survives. Returns the
   * deleted paths. Storage is therefore bounded across fold/compact
   * cycles: logs reset to resolved size at each compaction and staging
   * leftovers cannot accumulate past one horizon.
   */
  def jaccardRestVacuum(spark: SparkSession, st: JaccardRest,
      horizonMs: Long = 3600L * 1000): Seq[String] = {
    val root = new Path(st.path)
    val f = fsOf(spark, st.path)
    if (!f.exists(root)) return Nil
    val now = System.currentTimeMillis()
    f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact-"))
      .filter(s => now - s.getModificationTime > horizonMs)
      .map { s => f.delete(s.getPath, true); s.getPath.toString }
  }

  /** Destroy an at-rest working set. */
  def jaccardRestDrop(spark: SparkSession, path: String): Unit = {
    fsOf(spark, path).delete(new Path(path), true)
    ()
  }

  /**
   * N-gram (word shingle) Jaccard similarity over all candidate pairs
   * sharing at least one shingle — inverted-index join, partial-agg
   * friendly. Returns (ida, idb, jaccard) for pairs >= `threshold`.
   * For n = 1 this is token-set Jaccard. With a finite `maxDf`,
   * similarity is defined over the capped token space (hot tokens
   * contribute to neither intersections nor sizes — both engines agree).
   */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    // materialize the shingle postings and the capped set ONCE: the
    // downstream pair topology consumes the capped frame three times
    // (sizes + both join sides) and the cap itself reads the shingles
    // twice (df table + join) — left lazy, the n-gram explode ran 6x
    // per call (r18 profile). Postings are skinny (id, tok) rows.
    val sh = shingles(df, idCol, textCol, n).localCheckpoint()
    val capped =
      if (maxDf == Long.MaxValue) sh
      else capByDocFrequency(sh, maxDf).localCheckpoint()
    jaccardFromPostings(capped, threshold)
  }

  /** Jaccard pairs >= threshold over a prepared (id, tok) postings frame
    * — lets callers persist one postings set and reuse it across the
    * dedup family (pairs, components, clean pipeline) instead of
    * re-deriving it per query. */
  def jaccardFromPostings(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count("*").as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count("*").as("i"))
    scorePairs(inter, sizes, threshold)
  }

  /** The score every Jaccard pair path emits: |A ∩ B| / |A ∪ B| from the
    * intersection and the two set sizes, rounded to 6 places — the
    * rounding the DuckDB oracle reproduces. */
  private def jaccardScore(i: Column, sa: Column, sb: Column): Column =
    round(i.cast("double") / (sa + sb - i), 6)

  /** (ida, idb, i) intersection counts joined to (id, sz) set sizes and
    * scored; pairs below `threshold` are dropped. */
  private def scorePairs(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "ida").withColumnRenamed("sz", "sa"), "ida")
      .join(sizes.withColumnRenamed("id", "idb").withColumnRenamed("sz", "sb"), "idb")
      .select(col("ida"), col("idb"),
        jaccardScore(col("i"), col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /**
   * Cross-corpus Jaccard (decontamination core): similarity of every
   * (left, right) pair sharing a shingle across TWO corpora — the
   * train-vs-eval overlap check an LLM data pipeline runs before
   * training. Same inverted-index topology as [[ngramJaccard]], but the
   * join is across corpora (and therefore never self-quadratic). Hot
   * shingles are df-capped on the UNION of both sides so the join-group
   * bound holds regardless of which corpus a stopword-like gram comes
   * from; similarity is over the capped shingle space on both sides
   * (the engines agree by construction).
   * Returns (lid, rid, jaccard) with jaccard >= threshold.
   */
  def crossJaccard(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame = {
    // materialized once per side — each side is consumed two or three
    // times below (union df-cap + size agg + the cross join); left
    // lazy, the shingle explode re-ran per consumer (r18 profile)
    val lsh0 = shingles(left, idCol, textCol, n).localCheckpoint()
    val rsh0 = shingles(right, idCol, textCol, n).localCheckpoint()
    // the surviving-token set is consumed by BOTH sides' caps and the
    // df aggregate re-runs per side — measured (r19): checkpointing it
    // is a wash at bench scale and pins a VOCABULARY-sized frame on
    // the executors at 100 TB, so the recompute (one extra partial-agg
    // pass over two already-checkpointed postings frames) is the
    // better scale shape and stays
    val keep =
      if (maxDf == Long.MaxValue) null
      else lsh0.select("tok").union(rsh0.select("tok"))
        .groupBy("tok").agg(count("*").as("dfc"))
        .filter(col("dfc") <= maxDf).drop("dfc")
    def cap(post: DataFrame): DataFrame =
      if (keep == null) post
      else post.join(keep, "tok").select("id", "tok").localCheckpoint()
    val lsh = cap(lsh0)
    val rsh = cap(rsh0)
    val lsz = lsh.groupBy("id").agg(count("*").as("lsz"))
    val rsz = rsh.groupBy("id").agg(count("*").as("rsz"))
    val inter = lsh.withColumnRenamed("id", "lid")
      .join(rsh.withColumnRenamed("id", "rid"), "tok")
      .groupBy("lid", "rid").agg(count("*").as("i"))
    inter
      .join(lsz.withColumnRenamed("id", "lid"), "lid")
      .join(rsz.withColumnRenamed("id", "rid"), "rid")
      .select(col("lid"), col("rid"),
        jaccardScore(col("i"), col("lsz"), col("rsz")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Positional key packing for sub-document dedup: (doc, idx) pairs
    * order like (doc asc, idx asc) under doc*ChunkKeyBase + idx.
    * Preconditions (validated in [[chunkDedup]]): doc ids non-negative
    * and < Long.MaxValue/ChunkKeyBase; documents shorter than
    * ChunkKeyBase chunks. */
  val ChunkKeyBase: Long = 1000000L

  /**
   * Sub-document (paragraph/chunk) exact deduplication: each document
   * splits into consecutive `chunkTokens`-token chunks; every chunk is
   * labeled with the first (minimum (doc, idx)) occurrence of its
   * content anywhere in the corpus. Duplicated boilerplate paragraphs
   * dedup across documents while unique content keeps itself.
   *
   * Same scale shape as [[exact]]: one shuffle keyed on the content
   * hash (chunk explosion is narrow); skew = true duplicate mass. The
   * packed keeper key keeps the window state one long per row.
   * Output: (doc_id, chunk_idx, keeper_doc, keeper_idx).
   */
  /** (doc_id, chunk_idx, chunk) rows: each document split into
    * consecutive `chunkTokens`-token chunks — a stateless narrow
    * projection, so it runs identically under batch and readStream.
    * `carry` columns (e.g. an event-time column for streaming) pass
    * through unchanged. */
  def chunkRows(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, carry: Seq[String] = Nil): DataFrame = {
    val toks = split(col(textCol), " ")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    df.select(carry.map(col) ++ Seq(col(idCol).cast("long").as("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
        .as(Seq("chunk_idx", "chunk"))): _*)
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val chunks = chunkRows(df, idCol, textCol, chunkTokens)
    val w = Window.partitionBy(md5(col("chunk")))
    // key packing needs non-negative in-range ids and idx < base — fail
    // loudly instead of silently corrupting keeper labels
    val guarded = chunks.withColumn("k",
      when(col("doc_id") < 0 ||
          col("doc_id") >= Long.MaxValue / ChunkKeyBase ||
          col("chunk_idx") >= ChunkKeyBase,
        raise_error(concat(lit("chunkDedup: id/idx out of packing range: "),
          col("doc_id"), lit("/"), col("chunk_idx"))))
        .otherwise(col("doc_id") * ChunkKeyBase + col("chunk_idx")))
    // unpack with exact integer division — `/` on longs is lossy double
    // division (diverges from the oracle's `//` above 2^53)
    guarded
      .withColumn("kk", min(col("k")).over(w))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"kk div $ChunkKeyBase").as("keeper_doc"),
        (col("kk") % ChunkKeyBase).as("keeper_idx"))
  }

  /** (id, tok) distinct word n-gram shingles. Documents shorter than n
    * tokens contribute no shingles (no truncated grams). The gram
    * builder is the native [[graft.functions.NGramShingles]] kernel —
    * one linear scan per doc; the HOF formulation
    * (transform + array_join(slice)) interprets its lambda per gram. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    if (n <= 1) postings(df, idCol, textCol)
    else {
      df.select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("id"),
          explode(array_distinct(
            graft.functions.TextFunctions.ngramShingles(col("toks"), n)))
            .as("tok"))
    }
  }

  /** (id, pos, tok) positional word n-gram shingles (pos 1-based, NOT
    * distinct — every occurrence keeps its position, unlike
    * [[shingles]]). Documents shorter than n tokens contribute none. */
  def shinglesPositional(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), posexplode(
        graft.functions.TextFunctions.ngramShingles(col("toks"), n))
        .as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("tok"))

  /**
   * Per-document duplicated-span coverage (the ExactSubstr dedup
   * metric, Lee et al. 2022 at fixed n-token granularity): the count
   * and fraction of each document's tokens covered by at least one
   * n-gram that occurs in 2+ distinct documents. The cross-document
   * span table is the same blocklist aggregate as duplicate-passage
   * mining (bounded by the HAVING, so the join back to positional
   * shingles is blocklist-vs-corpus — AQE broadcasts the blocklist
   * when it fits, shuffles on the shingle otherwise, never
   * self-quadratic). Coverage union = explode to covered indices +
   * distinct, both partition-local per document after the join.
   */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val pos = shinglesPositional(df, idCol, textCol, n)
    val dup = pos.groupBy("tok")
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("tok")
    val covered = pos.join(dup, "tok")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("ti"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_tokens"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_frac",
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /**
   * Winnowing near-duplicate pairs (the MOSS pipeline end-to-end):
   * document pairs whose winnowed fingerprint sets overlap with
   * containment shared/min(|A|,|B|) >= minContainment. The join is the
   * standard inverted index over fingerprint VALUES with a
   * document-frequency cap (a fingerprint selected by more than maxDf
   * docs is boilerplate — the same stop-shingle guard as Jaccard's
   * cappedPostings; similarity is defined over the capped sketch).
   * Winnowing keeps ~2/(w+1) of each doc's k-gram hashes, so the
   * index is w/2 smaller than a full shingle index for the same
   * k+w-1 guaranteed-match length. Containment (not Jaccard) so a
   * short document embedded in a long one still scores high — the
   * plagiarism/boilerplate shape winnowing exists for.
   */
  def winnowNearDup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDf: Long = 64L,
      minContainment: Double = 0.5): DataFrame = {
    // ONE linear pipeline, nothing persisted; three shuffles, of which
    // the hot-fingerprint count is |distinct fp| rows after map-side
    // partial aggregation:
    //   1. the sketch is the native WinnowPostings kernel — a pure
    //      narrow projection emitting (fp, |sketch|) pairs per doc, so
    //      sizes ride along for free (the declarative formulation
    //      shuffled ~12 rows per corpus character through a per-doc
    //      window + distinct, then needed a size window on top);
    //   2. the df cap is applied BEFORE any posting list materializes:
    //      a count-per-fingerprint pass (map-side partial agg, output =
    //      |distinct fp| rows) semi-joins the postings down to
    //      fingerprints with 2..maxDf docs, so the collect_list buffer
    //      that follows is bounded by maxDf — a boilerplate fingerprint
    //      shared by millions of docs never reaches an in-memory
    //      aggregation buffer (it would OOM the executor; the spillable
    //      count pass absorbs it instead);
    //   3. groupBy(fp) -> the (bounded) posting list per fingerprint,
    //      expanded to its i<j pairs PARTITION-LOCALLY by the native
    //      PairCombos kernel — the self-join formulation shuffled the
    //      whole sketch once more per side and shipped every (pair, fp)
    //      row through join machinery;
    //   4. groupBy(ida, idb) counts shared fingerprints (map-side
    //      partial agg) and closes with the containment filter.
    val sel = df.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions
          .winnowPostings(col(textCol), k, w)).as("p"))
      .select(col("id"), col("p.fp").as("fp"), col("p.n").as("n"))
    val inRange = sel.groupBy("fp").agg(count(lit(1)).as("__dfc"))
      .filter(col("__dfc").between(2, maxDf))
      .select("fp")
    val posting = sel.join(inRange, Seq("fp"), "left_semi")
      .groupBy("fp")
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
    posting.select(explode(graft.functions.TextFunctions
        .pairCombos(col("docs"))).as("p"))
      .select(col("p.ida").as("ida"), col("p.na").as("na"),
        col("p.idb").as("idb"), col("p.nb").as("nb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("shared"), min("na").as("na"),
        min("nb").as("nb"))
      .select(col("ida"), col("idb"), col("shared"),
        round(col("shared").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /**
   * MinHash signatures: for each document and hash i, the minimum of
   * (a_i * tokenId(tok) + b_i) mod p over the document's token set.
   * Output: (id, hashIdx, minv) long form.
   *
   * All k minima compute as k `min` aggregates in ONE groupBy(id) pass
   * over the postings — no k-way row blowup against a parameter table
   * (k x fewer shuffle rows; partial aggregation still applies). The
   * long form is restored by a narrow 16-element explode of the
   * aggregated row.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long = Long.MaxValue): DataFrame =
    signaturesFromPostings(cappedPostings(df, idCol, textCol, maxDf))

  private def signaturesFromPostings(post: DataFrame): DataFrame = {
    val tid = tokenId(col("tok"))
    val aggs = (0 until NumHashes).map { i =>
      min((lit(MinhashA(i)) * tid + MinhashB(i)) % MinhashP).as(s"m$i")
    }
    post.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), explode(array((0 until NumHashes).map(i =>
        struct(lit(i).as("hashIdx"), col(s"m$i").as("minv"))): _*)).as("hm"))
      .select(col("id"), col("hm.hashIdx").as("hashIdx"),
        col("hm.minv").as("minv"))
  }

  /**
   * MinHash + LSH near-duplicate candidates: band the k signatures into
   * k/BandSize bands, bucket-join on (band, band-signature), verify
   * candidates with exact token-set Jaccard (over the same capped token
   * space). Returns (ida, idb, jaccard) >= threshold. The self-join is
   * on band buckets (high cardinality), never all-pairs — the standard
   * web-scale dedup topology.
   */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long = Long.MaxValue): DataFrame =
    minhashLshFromPostings(cappedPostings(df, idCol, textCol, maxDf), threshold)

  /** MinHash + LSH over a prepared (id, tok) postings frame (shares the
    * cached postings with the Jaccard family). */
  def minhashLshFromPostings(post: DataFrame, threshold: Double): DataFrame = {
    // ONE aggregation pass over the postings yields all 16 minima AND
    // the per-doc token-set size; band keys project straight off the
    // wide row (no long-form re-aggregation, no separate sizes pass) and
    // sizes ride through the candidate join, so the only re-scan of the
    // postings is the unavoidable intersection self-join.
    val tid = tokenId(col("tok"))
    val aggs = (0 until NumHashes).map { i =>
      min((lit(MinhashA(i)) * tid + MinhashB(i)) % MinhashP).as(s"m$i")
    } :+ count("*").as("sz")
    val wide = post.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val nBands = NumHashes / BandSize
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until BandSize).map(i =>
          col(s"m${b * BandSize + i}")): _*).as("bkey"))
    }
    val bands = wide.select(col("id"), col("sz"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sz"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .distinct()
    val inter = cands.join(post.withColumnRenamed("id", "ida"), "ida")
      .join(post.withColumnRenamed("id", "idb").withColumnRenamed("tok", "tokb"), "idb")
      .filter(col("tok") === col("tokb"))
      .groupBy("ida", "idb", "sa", "sb").agg(count("*").as("i"))
    inter
      .select(col("ida"), col("idb"),
        jaccardScore(col("i"), col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Connected components over near-duplicate pairs: every node labeled
   * with the minimum id reachable through the pair graph — the keeper
   * assignment that turns pairwise near-dup hits into dedup clusters.
   *
   * Iterative min-label propagation: each round joins the (symmetrized)
   * edge set against current labels and keeps the per-node minimum;
   * rounds needed = graph diameter (near-dup clusters are shallow, so
   * typically 2-4). Each round persists its labels and truncates
   * lineage via localCheckpoint so the plan stays flat no matter how
   * many rounds run — the standard Spark iterative-dataframe pattern.
   * Output: (id, comp).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .union(pairs.select(col("idb").as("src"), col("ida").as("dst")))
      .distinct()
      .persist()
    // seed with the FIRST propagation step for free: each node starts
    // at min(self, direct neighbors) — diameter-1 clusters (the common
    // near-dup case) then converge after a single confirming round
    var labels = edges.select(col("src").as("id"), col("dst").as("comp"))
      .union(edges.select(col("src").as("id"), col("src").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
      .localCheckpoint()
    // labels only ever decrease, so sum(comp) is strictly monotone while
    // anything changes — convergence is one tiny aggregate per round,
    // not a join against the previous labels. The sum runs in
    // DECIMAL(38,0): a Long sum wraps at corpus scale (10^11 nodes x
    // 10^10 ids ~ 10^21 > 2^63), and a wrapped "converged" compare
    // could terminate early. coalesce handles the empty-graph case (no
    // pairs -> sum is NULL -> 0 -> immediate convergence, empty result).
    val zero = lit(0).cast("decimal(38,0)")
    def labelMass(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")), zero))
        .head.getDecimal(0)
    var mass = labelMass(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      labels = labels.union(prop)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      val nextMass = labelMass(labels)
      converged = nextMass.compareTo(mass) == 0
      mass = nextMass
      iter += 1
    }
    edges.unpersist(blocking = false)
    labels
  }

  /** SimHash parameters (single universal hash over token ids whose bits
    * are the hyperplane signs). */
  val SimhashBits: Int = 32
  val SimhashA: Long = 1103515245L
  val SimhashB: Long = 12345L
  /** Number of bit-segment band tables for near-dup blocking. */
  val SimhashBands: Int = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 8

  /**
   * 32-bit SimHash per document: bit k is set iff the count of tokens
   * whose hashed bit k is 1 strictly exceeds those with 0.
   * Output: (id, simhash: long).
   *
   * All 32 bit-sign sums compute in ONE groupBy(id) pass (32 sum
   * aggregates over the postings) instead of a 32x row blowup against a
   * bit table; the signature assembles from the aggregated row with a
   * pure projection.
   */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val post = postings(df, idCol, textCol)
    val h = (lit(SimhashA) * tokenId(col("tok")) + lit(SimhashB)) % lit(MinhashP)
    val aggs = (0 until SimhashBits).map { b =>
      sum(when(floor(h / math.pow(2.0, b)).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    post.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  /**
   * Near-duplicate pairs by SimHash Hamming distance <= maxDist, blocked
   * by multi-table bit-segment banding: the 32-bit signature splits into
   * 4 bands of 8 bits; a pair is a candidate iff it collides in ANY
   * band (guaranteed to catch every pair with hamming <= 3, and in
   * practice nearly all <= 6). Bucket count is 4 * 2^8 per distinct
   * band value — cost follows band-bucket occupancy, never a fixed
   * 2^16 ceiling.
   */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    val sig = simhash(df, idCol, textCol)
    val bandCols = (0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        (floor(col("simhash") / math.pow(256.0, b)).cast("long") % 256L)
          .as("bval"))
    }
    val bands = sig.select(col("id"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /**
   * Edit-distance near-duplicate pairs, prefix-blocked: candidates share
   * their first `prefixLen` characters (one equi-join key — never a
   * similarity cross product), and a block participates only when it
   * holds between 2 and `maxBucket` docs. The upper bound is the
   * boilerplate-prefix guard (the HotTokenCap idea applied to prefixes):
   * a shared header that millions of docs start with would otherwise
   * make one block quadratic. Within a block, i < j pairs are scored
   * with THRESHOLD-BANDED Levenshtein (the `levenshtein(l, r, k)`
   * overload, O(len * maxDist) per pair instead of O(len^2) — the band
   * abandons a pair the moment its distance provably exceeds
   * `maxDist`) and kept under `maxDist`.
   *
   * At 100 TB: pair cost is sum over blocks of |block|^2 <= maxBucket *
   * corpus — linear in the corpus with a constant the caller picks; the
   * block key is a plain hash-partition key. Per-pair cost is bounded
   * by the band, and `maxLen` (opt-in) truncates pathological long docs
   * before the distance — a truncated comparison is a documented
   * precision trade for corpora with multi-MB outliers. Recall trade
   * (documented, standard for blocking): edits inside the first
   * `prefixLen` chars move a doc to another block, so this targets
   * suffix-edit families (truncation, appended boilerplate, trailing
   * noise).
   */
  def editNearDup(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int, maxBucket: Long, maxDist: Int,
      maxLen: Int = Int.MaxValue): DataFrame = {
    val body = if (maxLen == Int.MaxValue) col(textCol)
      else substring(col(textCol), 1, maxLen)
    val keyed = df.select(col(idCol).as("id"), body.as("text"),
      substring(col(textCol), 1, prefixLen).as("bkey"))
    val live = keyed.groupBy("bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBucket)
      .select("bkey")
    val blocked = keyed.join(live, "bkey")
    blocked.select(col("bkey"), col("id").as("ida"), col("text").as("ta"))
      .join(blocked.select(col("bkey"), col("id").as("idb"),
        col("text").as("tb")), Seq("bkey"))
      .filter(col("ida") < col("idb"))
      // banded: returns -1 when the distance provably exceeds maxDist,
      // after O(len * maxDist) work instead of the full O(len^2) table
      .select(col("ida"), col("idb"),
        levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  // ---- content-defined chunking (FastCDC-shaped, token granularity) --

  /** CDC boundary window (tokens hashed per test) and divisor
    * (expected chunk length ≈ divisor tokens). */
  val CdcWindow: Int = 4
  val CdcDivisor: Long = 8L

  /**
   * CONTENT-DEFINED chunk fingerprints — the insertion-robust
   * alternative to fixed-size chunk dedup ([[chunkDedup]]'s 16-token
   * grid): a chunk boundary falls AFTER token i exactly when the
   * rolling [[CdcWindow]]-token window hash ≡ 0 mod [[CdcDivisor]],
   * so boundaries are functions of CONTENT, not position — an
   * insertion reflows only the chunk it lands in, and every later
   * chunk keeps its fingerprint (fixed-size chunking shifts the whole
   * grid; spec-pinned). This is the FastCDC/rsync boundary idea at
   * token granularity, the shape substring-level dedup of shifting
   * boilerplate needs.
   *
   * One posexplode + one doc-partitioned window pair + one (doc,
   * chunk) aggregate — the per-doc window is the same partitioned
   * shape every sequence operator here uses; nothing global. Returns
   * (id, chunk, n_toks, fp).
   */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    val p = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val win = concat_ws(" ", lag("tok", 3).over(w), lag("tok", 2).over(w),
      lag("tok", 1).over(w), col("tok"))
    val bf = when(col("pos") >= CdcWindow - 1 &&
      tokenId(win) % CdcDivisor === 0, 1L).otherwise(0L)
    p.withColumn("bf", bf)
      .withColumn("chunk", coalesce(
        sum(col("bf")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy("id", "chunk")
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")))).as("fp"))
  }

  /** Cross-document duplicated CDC chunks: fingerprints appearing in
    * >= 2 documents, with occurrence and document counts — the
    * blocklist a shift-robust substring dedup pass consumes. */
  def cdcDuplicates(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    cdcChunks(df, idCol, textCol)
      .groupBy("fp")
      .agg(count(lit(1)).as("occurrences"),
        count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
}
