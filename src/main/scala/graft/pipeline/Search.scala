package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed refusal from a FILTERED index serve ([[Search]] or
  * [[VecIndex]]): the metadata predicate references a column the
  * index does not store — ingest the column next to the payload, a
  * serve never post-filters. An `IllegalArgumentException` subclass
  * (existing callers unchanged); [[Hybrid.hybridTopK]]'s lexical
  * fallback catches exactly THIS CLASS, so any other argument error
  * propagates instead of silently switching retrieval semantics. */
final class FilterUnresolved(msg: String, cause: Throwable)
    extends IllegalArgumentException(msg, cause)


/**
 * Inverted-index text search AT REST — the serve path of a corpus
 * search/retrieval system. The index is a token-bucket-partitioned
 * parquet postings table (the same bucket-at-rest layout as
 * [[Dedup.jaccardRestInit]] and the IVF index in Similarity): a
 * conjunctive query reads ONLY its terms' buckets (static partition
 * pruning on literal bucket values) and, inside each bucket file,
 * only the row groups whose tok min/max straddle a query term
 * (postings are written tok-sorted). At 100 TB the per-query read is
 * O(matched postings), never a corpus scan — index build cost is one
 * explode + one groupBy, paid once and amortized over every query.
 *
 * Lifecycle (since r8): the index is a LOG OF GENERATIONS, committed
 * the Iceberg way — the commit marker file IS the commit:
 *
 * - each ingest ([[writeIndex]], [[append]]) or [[delete]] claims the
 *   next generation number with an atomic put-if-absent claim file,
 *   writes its data under `post/gen=N/tb=*` / `docs/gen=N` /
 *   `tombs/gen=N`, then publishes by atomically renaming a staged
 *   marker to `commits/N`. The marker carries the generation's kind
 *   and its EXACT stats delta (doc count, token-length sum), so the
 *   BM25 corpus constants are always consistent with exactly the set
 *   of visible generations — there is no read-modify-write stats file
 *   and no torn window between postings and stats. A crash at any
 *   point leaves either an invisible orphan (no marker — swept by
 *   [[vacuum]]) or a complete generation;
 * - [[delete]] commits TOMBSTONES (and a negative stats delta measured
 *   against the live doc-length table): every query anti-joins the
 *   pruned postings read against the committed tombstone set before
 *   aggregating, so a corrected document can leave the index —
 *   delete + [[append]] is the reingest cycle. When no tombstones
 *   exist the anti-join is skipped at planning time;
 * - [[compact]] rewrites live postings as one BASE generation
 *   (absolute stats, tombstones applied), bounding read fan-in the
 *   way Versioned checkpoints do; [[vacuum]] reclaims generations
 *   below the newest base plus any stale claims/orphans.
 *
 * Concurrent appends are slot-safe (distinct generations via the
 * claim CAS, routed through the session's pluggable
 * [[graft.io.LogStore]]). [[compact]] and [[delete]] additionally
 * REFUSE (fail-loud) while a lower generation slot is claimed but
 * unpublished — an in-flight append publishing below a new base
 * would be invisible forever (then vacuumed), and one publishing
 * below a tombstone snapshot would be wrongly killed by it; waiting
 * the appender out closes both races. vacuum keeps the same
 * single-maintainer contract as [[graft.io.Versioned.vacuum]].
 */
object Search {

  final case class Index(path: String, nBuckets: Int)

  // The generation-log machinery was extracted to [[graft.io.GenLog]]
  // in r10 (the vector indexes share it); these aliases keep Search's
  // internals and its concurrent-lifecycle specs reading naturally.
  // Marker fields here: a = doc-count delta, b = token-length-sum
  // delta, n = nBuckets.
  import graft.io.{GenLog, Memo}
  import graft.io.GenLog.{Meta, KindSeg, KindDel, KindBase}

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(c: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(c), lit(n)).cast("int")

  // ---- generation log (delegates) ----

  private def commitsDir(path: String) = GenLog.commitsDir(path)

  private def metas(spark: SparkSession, f: FileSystem,
      path: String): Seq[Meta] = GenLog.metas(spark, f, path)

  private def liveMetas(spark: SparkSession, f: FileSystem,
      path: String): Seq[Meta] = GenLog.liveMetas(spark, f, path)

  private[pipeline] def claimGen(spark: SparkSession, f: FileSystem,
      path: String): Int = GenLog.claimGen(spark, f, path)

  private[pipeline] def unpublishedGens(spark: SparkSession, f: FileSystem,
      path: String): Seq[Int] = GenLog.unpublishedGens(spark, f, path)

  private def requireNoInflightBelow(spark: SparkSession, f: FileSystem,
      path: String, g: Int, op: String): Unit =
    GenLog.requireNoInflightBelow(spark, f, path, g, op)

  private[pipeline] def publish(spark: SparkSession, f: FileSystem,
      path: String, g: Int, kind: String, nDocs: Long, sumDlen: Long,
      nBuckets: Int): Unit =
    GenLog.publish(spark, f, path, g, kind, nDocs, sumDlen, nBuckets)

  /** Tokenized postings for one document shard. */
  private def postingsOf(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")),
        size(split(col(textCol), " ")).cast("long").as("dlen"))
      .groupBy("id", "tok")
      .agg(count(lit(1)).as("tf"), first("dlen").as("dlen"),
        collect_list(col("pos")).as("positions"))

  /** Write one generation's postings + per-doc lengths, then commit. */
  private def commitSegment(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int, kind: String): Int = {
    val spark = df.sparkSession
    val f = fsOf(spark, path)
    val g = claimGen(spark, f, path)
    writeSegmentAt(df, idCol, textCol, path, nBuckets, kind, g)
  }

  /** Data write + publish for an ALREADY-CLAIMED generation slot —
    * split from [[commitSegment]] so the concurrent-lifecycle spec can
    * interleave claim and publish around a compaction. */
  private[pipeline] def writeSegmentAt(df: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int, kind: String,
      g: Int): Int = {
    val spark = df.sparkSession
    val f = fsOf(spark, path)
    postingsOf(df, idCol, textCol)
      .withColumn("tb", bucketOf(col("tok"), nBuckets))
      .repartition(col("tb")).sortWithinPartitions("tok")
      // small row groups so the tok-sorted min/max skipping actually
      // bites inside fat buckets (the 128 MB default makes one group
      // per file, turning every term probe into a full-bucket decode)
      .write.mode("overwrite").option("parquet.block.size", 1 << 20)
      .partitionBy("tb").parquet(s"$path/post/gen=$g")
    // per-doc token lengths: one row per doc — what a later delete of
    // bare ids needs to subtract exact stats without scanning
    // postings. Every OTHER ingest column is doc METADATA, stored
    // verbatim next to dlen — the substrate of the FILTERED serve
    // (searchBm25/searchAll's `filter` semi-joins this sidecar, so
    // top-k stays full among matching docs).
    val meta = df.columns.toSeq.filterNot(c => c == idCol || c == textCol)
    val clash = meta.filter(DocDerived)
    require(clash.isEmpty, s"metadata column(s) ${clash.mkString(", ")} " +
      "collide with index-derived doc-sidecar columns " +
      "(id/dlen/gen/g/tok/tb/tf/pos/positions)")
    df.select(Seq(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("dlen")) ++
        meta.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/docs/gen=$g")
    // coalesce: an EMPTY base segment is the legitimate streaming
    // bootstrap (writeIndex(df.limit(0)) then appendBatch per trigger)
    val st = df.select(size(split(col(textCol), " ")).cast("long").as("dlen"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dlen"), lit(0L)).as("sum_dlen")).head()
    publish(spark, f, path, g, kind, st.getLong(0), st.getLong(1), nBuckets)
    g
  }

  // ---- ingest / delete / maintenance ----

  /** Build a FRESH index at `path` (drops any existing state):
    * generation 1 is a base segment. */
  def writeIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Index = {
    val f = fsOf(df.sparkSession, path)
    f.delete(new Path(path), true)
    commitSegment(df, idCol, textCol, path, nBuckets, KindBase)
    Index(path, nBuckets)
  }

  /** Open an existing committed index (reads nBuckets from the log). */
  def open(spark: SparkSession, path: String): Index =
    Index(path, liveMetas(spark, fsOf(spark, path), path).last.n)

  /**
   * Incremental index ingest: fold a NEW shard of documents into an
   * existing index as its own generation. Ingest cost is O(shard),
   * never O(corpus) — the same at-rest fold contract as
   * [[Dedup.jaccardRestMerge]] — and the generation marker commits
   * postings and stats delta ATOMICALLY (no torn window).
   *
   * Caller contract (documented, not scanned-for): shard doc ids must
   * be new OR previously [[delete]]d — reingest of a live id would
   * double its postings. Concurrent appends are safe (distinct
   * generation slots via the claim CAS).
   */
  def append(df: DataFrame, idCol: String, textCol: String,
      idx: Index): Index = {
    commitSegment(df, idCol, textCol, idx.path, idx.nBuckets, KindSeg)
    idx
  }

  /** EXACTLY-ONCE streaming ingest (use from `foreachBatch`): one
    * generation per micro-batch, idempotent on replay — the batch id
    * rides in the marker kind (`seg@<id>`), and compaction records the
    * max folded batch id on its base marker, so a batch re-delivered
    * even AFTER compact+vacuum reclaimed its per-batch marker is
    * recognized and skipped. The same batch-marker scheme as
    * [[VecIndex.appendBatch]] / [[graft.io.Versioned.appendBatch]];
    * with it, `readStream … .foreachBatch(Search.appendBatch(_, "id",
    * "text", idx, _))` is a continuously-ingesting text index whose
    * postings and BM25 corpus constants are always one marker away
    * from consistent.
    *
    * `ingestId` scopes the replay guard: Structured Streaming batch
    * ids RESTART AT 0 for every new checkpoint location, so a fresh
    * ingest pointed at an existing compacted index would have its
    * early batches silently skipped by the folded watermark of the
    * OLD ingest. Pass the streaming query's (checkpoint-stable) id or
    * the checkpoint path — each ingest id carries its own watermark
    * ([[graft.io.GenLog.foldedBatchMaxes]]). The empty default keeps
    * the single-ingest legacy shape: correct only while the SAME
    * checkpoint feeds this index for its whole life. */
  def appendBatch(df: DataFrame, idCol: String, textCol: String,
      idx: Index, batchId: Long, ingestId: String = ""): Index = {
    val spark = df.sparkSession
    val f = fsOf(spark, idx.path)
    if (GenLog.batchApplied(GenLog.metas(spark, f, idx.path), batchId,
        ingestId)) idx
    else {
      commitSegment(df, idCol, textCol, idx.path, idx.nBuckets,
        GenLog.segKind(batchId, ingestId))
      idx
    }
  }

  /**
   * Delete documents by id (tombstone generation): `ids` is a
   * one-column frame of doc ids. Every subsequent query anti-joins the
   * postings read against the tombstone set, and the generation's
   * negative stats delta (count + token-length sum of the MATCHED LIVE
   * docs, from the `docs` sidecar — never a postings scan) keeps the
   * BM25 corpus constants exact. Deleting an unknown or already-dead
   * id is a no-op in both the postings view and the stats.
   * delete + [[append]] is the reingest cycle for a corrected doc.
   */
  def delete(ids: DataFrame, idCol: String, idx: Index): Index = {
    val spark = ids.sparkSession
    val f = fsOf(spark, idx.path)
    val g = claimGen(spark, f, idx.path)
    // an unpublished lower-gen append could land after this tombstone's
    // stats snapshot and be wrongly killed by it — refuse until it
    // publishes (fail-loud; see requireNoInflightBelow)
    requireNoInflightBelow(spark, f, idx.path, g, "delete")
    val live = liveDocs(spark, f, idx.path)
    val victims = live.join(
        ids.select(col(idCol).as("id")).distinct(), "id")
      .localCheckpoint() // pin: stats and tombstones must agree exactly
    victims.select("id")
      .write.mode("overwrite").parquet(s"${idx.path}/tombs/gen=$g")
    val st = victims.agg(count(lit(1)).as("n"),
      coalesce(sum("dlen"), lit(0L)).as("s")).head()
    publish(spark, f, idx.path, g, KindDel, -st.getLong(0), -st.getLong(1),
      idx.nBuckets)
    idx
  }

  /** PREDICATE tombstones — the GDPR/retention shape
    * (`DELETE FROM idx WHERE source = 'bad-crawl'`): resolve every
    * LIVE doc whose stored metadata (the docs sidecar ingested next
    * to `(id, text)`) matches `predicate`, then commit through the
    * ordinary gen-aware [[delete]] — identical lifecycle (tombstone
    * generation, stats delta, fold/vacuum behavior) and spec-pinned
    * equivalent to delete-by-ids on the same predicate. A predicate
    * referencing an un-stored column fails loudly
    * ([[FilterUnresolved]]); a predicate matching nothing commits an
    * empty tombstone generation (harmless, like deleting unknown
    * ids). Returns the number of matched live docs. */
  def deleteWhere(spark: SparkSession, idx: Index,
      predicate: org.apache.spark.sql.Column): Long = {
    val ids = filteredDocIds(spark, idx, predicate).localCheckpoint()
    delete(ids, "id", idx)
    ids.count()
  }

  /**
   * Compact: rewrite the live postings (tombstones applied) as ONE new
   * BASE generation with absolute stats, bounding the read fan-in the
   * way Versioned checkpoints do. Prior generations stay on disk for
   * in-flight readers until [[vacuum]] reclaims them. Single
   * maintainer, like every compaction here.
   */
  /** ONE-CALL auto-maintenance for the text index: run whatever the
    * metas-only policy ([[graft.io.GenLog.maintainPlan]]) calls for —
    * full compact (physical tombstone purge + bucket re-level) past
    * `purgeFrac`, LSM seg-merge fold past `deltaGens`, nothing
    * otherwise — then vacuum reclaimable generations. Returns the
    * (action, detail) list taken; the indexes' ops loop, mirroring
    * [[graft.io.Versioned.maintain]] for tables. */
  def maintain(spark: SparkSession, idx: Index,
      cfg: GenLog.MaintainConfig = GenLog.MaintainConfig())
      : Seq[(String, String)] = {
    val f = fsOf(spark, idx.path)
    val actions = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    GenLog.maintainPlan(spark, f, idx.path, cfg) match {
      case "full" =>
        compact(spark, idx)
        actions += (("compact", "tombstone purge + bucket re-level"))
      case "fold" =>
        compactIncremental(spark, idx)
        actions += (("fold", "LSM seg-merge, O(delta)"))
      case _ => ()
    }
    val got = vacuum(spark, idx)
    if (got.nonEmpty)
      actions += (("vacuum", s"reclaimed ${got.size} generation(s)"))
    if (actions.isEmpty) Seq(("noop", "below every threshold"))
    else actions.toSeq
  }

  def compact(spark: SparkSession, idx: Index): Index = {
    val f = fsOf(spark, idx.path)
    val g = claimGen(spark, f, idx.path)
    // an unpublished lower-gen append publishing AFTER this base commits
    // would sit below the base — invisible to liveMetas, then vacuumed:
    // silent loss. Refuse until the appender publishes.
    requireNoInflightBelow(spark, f, idx.path, g, "compact")
    postings(spark, idx)
      .select("id", "tok", "tf", "dlen", "positions") // drop gen/tb
      .withColumn("tb", bucketOf(col("tok"), idx.nBuckets))
      .repartition(col("tb")).sortWithinPartitions("tok")
      .write.mode("overwrite").option("parquet.block.size", 1 << 20)
      .partitionBy("tb").parquet(s"${idx.path}/post/gen=$g")
    liveDocs(spark, f, idx.path)
      .write.mode("overwrite").parquet(s"${idx.path}/docs/gen=$g")
    // the new base's stats ARE the marker-delta sums over the read set
    // (base absolute, seg +, del − with only LIVE victims counted) —
    // the invariant the markers exist to provide; no third docs scan
    val ms = liveMetas(spark, f, idx.path).filter(_.gen < g)
    val (n, s) = (ms.map(_.a).sum, ms.map(_.b).sum)
    // record the max folded streaming batch id PER INGEST on the base,
    // so the exactly-once appendBatch guard survives vacuum reclaiming
    // the folded per-batch seg@<id> markers without ever crossing
    // ingest scopes (fresh checkpoints restart batch ids at 0)
    val watermarks = GenLog.foldedBatchMaxes(ms)
    GenLog.publish(spark, f, idx.path, g, KindBase, n, s, idx.nBuckets,
      fold = watermarks.getOrElse("", -1L), folds = watermarks - "")
    idx
  }

  /**
   * INCREMENTAL compact — the LSM-style SEG-MERGE: fold the delta
   * generations' postings into ONE merged set of bucket dirs under
   * the new base (tombstones applied to the merged rows), and CARRY
   * every path of the previous base by reference (`_CARRY.tsv`
   * manifest; a bucket may then have the base's dir AND the merged
   * delta dir — readers union them). Fold cost is O(delta), NEVER
   * O(base): this is the only shape that survives 100 TB text, where
   * any realistic document delta contains tokens from essentially
   * every hash bucket — a dirty-bucket base rewrite would degenerate
   * to the full compact. Each fold adds at most one file set per
   * bucket; the full [[compact]] is the re-leveling defrag that
   * collapses them and purges tombstoned postings physically.
   *
   * The live tombstone set is consolidated into the new base's own
   * `tombs/gen=<base>` snapshot because carried postings still hold
   * dead docs' rows — the read-side anti-join keeps them hidden
   * (gen-aware: the snapshot rides at the base's gen, so fold-merged
   * rows outrank it and carried rows don't).
   *
   * The docs sidecar (one row per live doc — orders of magnitude
   * smaller than postings with their position arrays) is rewritten
   * consolidated each fold, keeping [[delete]]'s stats lookups
   * single-generation-bounded.
   *
   * Falls back to [[compact]] when no base exists yet. No-op (returns
   * the index, no new generation) when nothing committed above the
   * base. Same structural-commit guard as [[compact]].
   */
  def compactIncremental(spark: SparkSession, idx: Index,
      maxSetsPerBucket: Int = 4): Index = {
    require(maxSetsPerBucket >= 2,
      s"maxSetsPerBucket must be >= 2, got $maxSetsPerBucket")
    val f = fsOf(spark, idx.path)
    val ms = liveMetas(spark, f, idx.path)
    val baseGen = ms.filter(_.kind == KindBase).map(_.gen).maxOption
      .getOrElse(return compact(spark, idx))
    if (ms.forall(_.gen == baseGen)) return idx // nothing to fold
    val g = claimGen(spark, f, idx.path)
    requireNoInflightBelow(spark, f, idx.path, g, "compactIncremental")
    val segs = ms.filter(m => m.kind != KindDel && m.gen != baseGen)
    // per-segment bucket dirs (segments never carry; an empty segment
    // — zero-row streaming batch — contributes no dirs)
    val segPaths = segs.flatMap { m =>
      val dir = new Path(s"${idx.path}/post/gen=${m.gen}")
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("tb="))
        .map(_.getPath.toString)
    }
    val dels = ms.filter(_.kind == KindDel)
    // LEVELING: each fold normally adds one merged file set per bucket
    // (the LSM trade); a bucket whose carried sets reached
    // `maxSetsPerBucket` joins THIS merge — all its paths fold into
    // the new generation and drop from the carry, so no bucket's live
    // path count ever exceeds the cap, at the amortized cost of
    // re-merging one overgrown bucket's data (never the whole base)
    val eff = GenLog.effectiveParts(spark, f, idx.path, "post", baseGen)
    val (leveled, kept) = eff.partition {
      case (_, ps) => ps.size >= maxSetsPerBucket
    }
    val srcPaths = segPaths ++ leveled.values.flatten
    if (srcPaths.nonEmpty) {
      // merge the delta segments (and any leveled buckets) — never the
      // whole base; tombstones applied gen-aware while we're here
      val src = spark.read.option("basePath", s"${idx.path}/post")
        .parquet(srcPaths: _*)
      antiTombs(spark, f, idx.path, ms, src)
        .select("id", "tok", "tf", "dlen", "positions")
        .withColumn("tb", bucketOf(col("tok"), idx.nBuckets))
        .repartition(col("tb")).sortWithinPartitions("tok")
        .write.mode("overwrite").option("parquet.block.size", 1 << 20)
        .partitionBy("tb").parquet(s"${idx.path}/post/gen=$g")
    } else f.mkdirs(new Path(s"${idx.path}/post/gen=$g"))
    // carry every KEPT path of the previous base (its own dirs +
    // whatever it carried — addresses copy forward, no transitive
    // walk); leveled buckets live in this generation's own dirs now
    val carried = kept.toSeq.flatMap { case (k, ps) => ps.map(k -> _) }
    GenLog.writeCarry(spark, f, idx.path, "post", g, carried)
    // docs sidecar: same seg-merge — fold the delta segments' rows
    // (tombstones applied gen-aware, so a reingested doc keeps exactly
    // its newest dlen row) and carry the base's docs by reference;
    // without this the sidecar rewrite would be the fold's O(corpus)
    // floor. The docs unit is the whole gen dir (no partition
    // subdirs), carried under a synthetic `g=<gen>` label.
    val segDocDirs = segs
      .map(m => new Path(s"${idx.path}/docs/gen=${m.gen}"))
      .filter(d => f.exists(d) && f.listStatus(d)
        .exists(_.getPath.getName.endsWith(".parquet")))
      .map(_.toString)
    def docsDirIfData(x: Int): Seq[(String, String)] = {
      val d = f.makeQualified(new Path(s"${idx.path}/docs/gen=$x"))
      if (f.exists(d) && f.listStatus(d)
          .exists(_.getPath.getName.endsWith(".parquet")))
        Seq(s"g=$x" -> d.toString)
      else Nil
    }
    // docs sets level under the same cap: once the carried dirs reach
    // it, fold them all (plus the seg docs) into this generation's
    // consolidated sidecar and carry nothing older
    val prevDocs =
      GenLog.carryEntries(spark, f, idx.path, "docs", baseGen) ++
        docsDirIfData(baseGen)
    val levelDocs = prevDocs.size >= maxSetsPerBucket
    val docSrc = segDocDirs ++
      (if (levelDocs) prevDocs.map(_._2) else Nil)
    if (docSrc.nonEmpty) {
      val d = spark.read.option("basePath", s"${idx.path}/docs")
        .option("mergeSchema", "true") // metadata added mid-life: null
        .parquet(docSrc: _*)
      val resolved = antiTombs(spark, f, idx.path, ms, d)
      // carry metadata columns through the fold (drop only the gen
      // partition column and the synthetic carry label)
      resolved.select(resolved.columns
          .filterNot(c => c == "gen" || c == "g").map(col).toSeq: _*)
        .write.mode("overwrite").parquet(s"${idx.path}/docs/gen=$g")
    } else f.mkdirs(new Path(s"${idx.path}/docs/gen=$g"))
    // the manifest lists the kept docs dirs plus this fold's own
    // merged-docs dir — docs files sit directly in the gen dir (no
    // partition subdirs), so the self-entry is what makes genPaths see
    // them; Spark ignores the underscore-prefixed _CARRY.tsv inside
    // the same dir
    GenLog.writeCarry(spark, f, idx.path, "docs", g,
      (if (levelDocs) Nil else prevDocs) ++ docsDirIfData(g))
    // consolidated tombstone snapshot for the carried buckets' dead
    // rows. The ORIGINAL kill generation rides as an explicit `tgen`
    // column — re-stamping everything at the new base's gen would make
    // the gen-aware anti-join kill a deleted-then-REINGESTED doc's
    // live rows (merged at a previous fold, carried at an older gen)
    // one fold later: silent missing documents. Multiple kills of one
    // id keep the newest gen (the only one that can outrank re-adds).
    val dead = GenLog.consolidateTombs(spark, f, idx.path,
      (dels.map(_.gen) :+ baseGen), g)
    val (n, s) = (ms.map(_.a).sum, ms.map(_.b).sum)
    val watermarks = GenLog.foldedBatchMaxes(ms)
    GenLog.publish(spark, f, idx.path, g, KindBase, n, s, idx.nBuckets,
      fold = watermarks.getOrElse("", -1L), folds = watermarks - "",
      dead = dead)
    idx
  }

  /**
   * Retention: reclaim generation dirs + markers BELOW the newest base
   * (their content is subsumed by the base rewrite — an INCREMENTAL
   * base's manifest-carried dirs are kept in place), stale claim files,
   * and orphan data dirs whose generation never committed (age-guarded
   * so an in-flight writer's work survives). Returns reclaimed
   * generation numbers. Must not run concurrently with readers of
   * pre-base generations (same contract as [[graft.io.Versioned.vacuum]]).
   */
  def vacuum(spark: SparkSession, idx: Index): Seq[Int] =
    GenLog.vacuum(spark, fsOf(spark, idx.path), idx.path,
      Seq("post", "docs", "tombs"))

  // ---- read side ----

  /** Live doc-length table: committed docs sidecars minus tombstones. */
  /** Doc-sidecar column names the index derives or the layout owns —
    * ingest metadata must not collide (`g` is the synthetic carry
    * label, `gen` the partition column). */
  private val DocDerived = Set("id", "dlen", "gen", "g", "tok", "tb",
    "tf", "positions", "pos")

  /** The committed, tombstone-resolved per-doc sidecar: (id, dlen)
    * plus every stored METADATA column. mergeSchema because
    * generations ingested before a metadata column existed simply
    * read it as null. */
  private def liveDocs(spark: SparkSession, f: FileSystem,
      path: String): DataFrame = {
    val ms = liveMetas(spark, f, path)
    // carry-aware (an incremental base carries the previous base's
    // docs dir by reference; see compactIncremental)
    val paths = ms.filter(_.kind != KindDel)
      .flatMap(m => GenLog.genPaths(spark, f, path, "docs", m.gen))
    // mergeSchema union memoized per committed generation set — a
    // generation written before a metadata column existed still reads
    // it as null (explicit-schema parquet reads null-fill missing
    // columns), with the footer-merge job paid once, not per serve
    val root = s"$path/docs"
    val st = Memo.bySig(root, GenLog.commitsSig(f, path)) {
      spark.read.option("basePath", root).option("mergeSchema", "true")
        .parquet(paths: _*).schema
    }
    val docs = spark.read.schema(st).option("basePath", root)
      .parquet(paths: _*)
    val resolved = antiTombs(spark, f, path, ms, docs)
    resolved.select(resolved.columns
      .filterNot(c => c == "gen" || c == "g").map(col).toSeq: _*)
  }

  /** Matching doc ids for a metadata predicate over the docs sidecar
    * — the FILTERED-serve substrate (semi-joined below the top-k, so
    * k stays full among matching docs). A predicate referencing a
    * column the index doesn't store fails loudly listing the stored
    * ones. */
  private def filteredDocIds(spark: SparkSession, idx: Index,
      flt: org.apache.spark.sql.Column): DataFrame = {
    val docs = liveDocs(spark, fsOf(spark, idx.path), idx.path)
    val matched =
      try docs.filter(flt)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new FilterUnresolved(
            s"search filter does not resolve against the index at " +
              s"${idx.path} — stored doc columns: " +
              s"${docs.columns.mkString(", ")}. Ingest filter columns " +
              "next to (id, text) at writeIndex/append; a serve never " +
              "post-filters (that silently under-fills k).", e)
      }
    matched.select("id")
  }

  /** The committed, tombstone-resolved postings view. Filters applied
    * by callers on `tb`/`tok` push below the anti-join to the pruned
    * partition scan. */
  private def postings(spark: SparkSession, idx: Index): DataFrame = {
    val f = fsOf(spark, idx.path)
    val ms = liveMetas(spark, f, idx.path)
    // carry-aware: an incremental base contributes its own rewritten
    // bucket dirs PLUS its manifest-carried refs (which keep their
    // original gen partition value — exactly what the gen-aware
    // tombstone anti-join needs)
    val paths = ms.filter(_.kind != KindDel)
      .flatMap(m => GenLog.genPaths(spark, f, idx.path, "post", m.gen))
    // schema memoized per committed generation set (Memo.bySig)
    // — skips the per-call footer-inference job on the serve path
    val root = s"${idx.path}/post"
    val st = Memo.bySig(root, GenLog.commitsSig(f, idx.path)) {
      spark.read.option("basePath", root).parquet(paths: _*).schema
    }
    val post = spark.read.schema(st).option("basePath", root)
      .parquet(paths: _*)
    antiTombs(spark, f, idx.path, ms, post)
  }

  /** Anti-join `df` (which must carry its `gen` partition column)
    * against the read set's tombstones; skipped at planning time when
    * no delete generations are visible. A tombstone committed in
    * generation G kills rows from generations BEFORE G only — so a
    * reingested doc (delete in G, append in G+1) is live again, and
    * delete+append composes as the update cycle. */
  private def antiTombs(spark: SparkSession, f: FileSystem, path: String,
      ms: Seq[Meta], df: DataFrame): DataFrame = {
    // delete generations, PLUS an incremental base's consolidated
    // tombstone snapshot (its carried postings still hold the dead
    // docs' rows — only a FULL compact purges them physically). The
    // snapshot rides at the base's own gen, so rows the base rewrote
    // (gen = base) are never killed by it while carried rows
    // (gen < base) are.
    val dels = ms.filter(_.kind == KindDel) ++
      ms.filter(m => m.kind == KindBase &&
        f.exists(new Path(s"$path/tombs/gen=${m.gen}")))
    if (dels.isEmpty) df
    else {
      // ORIGINAL kill gens (explicit tgen in consolidated snapshots,
      // partition gen for plain deletes) — see GenLog.tombstones
      val t = GenLog.tombstones(spark, path,
          dels.map(m => s"$path/tombs/gen=${m.gen}"))
        .select(col("id").as("__tid"), col("tgen").as("__tgen"))
      df.join(t, df("id") === t("__tid") && df("gen") < t("__tgen"),
        "left_anti")
    }
  }

  /** Corpus constants (N, sum dlen) from the read set's marker
    * deltas — driver-side file reads, exact integer sums, zero data
    * scan. Public face: live doc count for emptiness/health checks
    * (the [[IndexSync]] bootstrap gate). */
  private[pipeline] def stats(spark: SparkSession, idx: Index): (Long, Long) = {
    val ms = liveMetas(spark, fsOf(spark, idx.path), idx.path)
    (ms.map(_.a).sum, ms.map(_.b).sum)
  }

  /** Conjunctive (AND-of-terms) search: docs containing EVERY query
    * term, scored by summed term frequency. Term buckets are computed
    * by running the index's own bucket expression on a literal frame —
    * never re-implemented driver-side — then pushed as literal
    * partition filters so planning-time pruning keeps the scan to
    * |terms| buckets. */
  def searchAll(spark: SparkSession, idx: Index, terms: Seq[String],
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(terms.nonEmpty, "empty term list")
    import spark.implicits._
    val buckets = terms.toDF("tok")
      .select(bucketOf(col("tok"), idx.nBuckets).as("tb"))
      .distinct().as[Int].collect().toSeq
    val post = postings(spark, idx)
      .filter(col("tb").isin(buckets: _*) && col("tok").isin(terms: _*))
    filter.map(flt => post.join(filteredDocIds(spark, idx, flt),
        Seq("id"), "left_semi")).getOrElse(post)
      .groupBy("id")
      .agg(count_distinct(col("tok")).as("nhit"), sum("tf").as("score"))
      .filter(col("nhit") === terms.length)
      .select(col("id"), col("score"))
  }

  /**
   * Disjunctive search with a minimum-should-match: docs containing at
   * least `minMatch` of the terms, scored by summed tf and matched-term
   * count. minMatch = terms.length degrades to [[searchAll]];
   * minMatch = 1 is plain OR. Same bucket-pruned read.
   */
  def searchAny(spark: SparkSession, idx: Index, terms: Seq[String],
      minMatch: Int): DataFrame = {
    require(minMatch >= 1 && minMatch <= terms.length,
      s"minMatch $minMatch out of range for ${terms.length} terms")
    import spark.implicits._
    val buckets = terms.toDF("tok")
      .select(bucketOf(col("tok"), idx.nBuckets).as("tb"))
      .distinct().as[Int].collect().toSeq
    postings(spark, idx)
      .filter(col("tb").isin(buckets: _*) && col("tok").isin(terms: _*))
      .groupBy("id")
      .agg(count_distinct(col("tok")).as("nhit"), sum("tf").as("score"))
      .filter(col("nhit") >= minMatch)
      .select(col("id"), col("nhit"), col("score"))
  }

  /**
   * Exact phrase search: docs where the terms appear CONSECUTIVELY, with
   * the occurrence count. Positions ride in the postings rows, so the
   * classic positional-index algorithm runs on the same bucket-pruned
   * read as every other query: explode each matched term's positions,
   * normalize to the would-be anchor (pos - term offset), and an anchor
   * hit by all |terms| offsets is one phrase occurrence. Cost is
   * O(matched postings positions) — never a text rescan.
   */
  def searchPhrase(spark: SparkSession, idx: Index,
      terms: Seq[String]): DataFrame = {
    require(terms.length >= 2, "phrase needs at least two terms")
    import spark.implicits._
    val termIdx = terms.zipWithIndex.toDF("tok", "ti")
    val distinctTerms = terms.distinct
    val buckets = distinctTerms.toDF("tok")
      .select(bucketOf(col("tok"), idx.nBuckets).as("tb"))
      .distinct().as[Int].collect().toSeq
    postings(spark, idx)
      .filter(col("tb").isin(buckets: _*)
        && col("tok").isin(distinctTerms: _*))
      .join(termIdx, "tok")
      .select(col("id"), col("ti"), explode(col("positions")).as("pos"))
      .withColumn("anchor", col("pos") - col("ti"))
      .groupBy("id", "anchor")
      .agg(count_distinct(col("ti")).as("nt"))
      .filter(col("nt") === terms.length)
      .groupBy("id").agg(count(lit(1)).as("occurrences"))
  }

  /**
   * Ordered PROXIMITY search (phrase-with-slop): docs where the terms
   * appear IN ORDER with each consecutive gap at most 1 + slop token
   * positions, counting the qualifying position tuples. slop = 0
   * degenerates to exact adjacency ([[searchPhrase]] semantics). Runs
   * on the same bucket-pruned positional read: each term's positions
   * explode once, then |terms|-1 id-keyed equi-joins with a bounded
   * gap predicate chain them — per-doc position lists are short, so
   * the join fan-out is the per-doc occurrence product, never corpus-
   * shaped. The tuple count (not a boolean) keeps the result
   * oracle-checkable against an engine-independent recurrence.
   */
  def searchNear(spark: SparkSession, idx: Index, terms: Seq[String],
      slop: Int): DataFrame = {
    require(terms.length >= 2, "proximity needs at least two terms")
    require(slop >= 0, s"negative slop $slop")
    import spark.implicits._
    val distinctTerms = terms.distinct
    val buckets = distinctTerms.toDF("tok")
      .select(bucketOf(col("tok"), idx.nBuckets).as("tb"))
      .distinct().as[Int].collect().toSeq
    val matched = postings(spark, idx)
      .filter(col("tb").isin(buckets: _*)
        && col("tok").isin(distinctTerms: _*))
      .select(col("id"), col("tok"), explode(col("positions")).as("pos"))
    def positionsOf(t: String, as: String) =
      matched.filter(col("tok") === t)
        .select(col("id"), col("pos").as(as))
    val first = positionsOf(terms.head, "p0")
    val chained = terms.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(positionsOf(t, s"p$i"), "id")
          .filter(col(s"p$i") - col(s"p${i - 1}") >= 1 &&
            col(s"p$i") - col(s"p${i - 1}") <= 1 + slop)
    }
    chained.groupBy("id").agg(count(lit(1)).as("occurrences"))
  }

  /** BM25 parameters (the standard Robertson defaults). */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75

  /** Driver-side refusal shared by the single-query faces: an empty
    * list, or a null element (which matches nothing and would silently
    * narrow the query), fails loudly naming the face. */
  private def requireQuery(face: String, what: String,
      q: Seq[String]): Unit = {
    require(q.nonEmpty, s"$face: empty $what list")
    require(!q.contains(null), s"$face: null $what — a null matches " +
      "nothing, so the query would silently narrow")
  }

  /** The single-query ranking step of the Search and Hybrid faces: drop
    * the constant qid, then global top-k by (score desc, id asc) as
    * sort + limit (TakeOrdered), rows in rank order. */
  private[pipeline] def topOne(scores: DataFrame, scoreCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, s"topK $topK must be > 0")
    scores.drop("qid").orderBy(col(scoreCol).desc, col("id").asc)
      .limit(topK)
  }

  /** `__rk` = position within the row's qid by (score desc, id asc) —
    * a qid-PARTITIONED window, never a global sort. */
  private[pipeline] def rankPerQid(df: DataFrame,
      scoreCol: String): DataFrame =
    df.withColumn("__rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("qid")
        .orderBy(col(scoreCol).desc, col("id").asc)))

  /** The batch ranking step: at most `topK` rows per qid. */
  private[pipeline] def topPerQid(df: DataFrame, scoreCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, s"topK $topK must be > 0")
    rankPerQid(df, scoreCol).filter(col("__rk") <= topK)
      .select("qid", "id", scoreCol)
  }

  /**
   * BM25-ranked disjunctive (OR-of-terms) search: top-k docs by the
   * Lucene-variant BM25 score (idf = ln((N-df+0.5)/(df+0.5) + 1), never
   * negative). Same bucket-pruned postings read as [[searchAll]], with
   * the terms as a literal `tok IN (...)` scan filter; df per term
   * falls out of the already-filtered postings (a term's df IS its
   * postings count), and dlen rides in the postings row, so the serve
   * path touches nothing but |terms| buckets plus the driver-side
   * marker stats. Scores are rounded before the id-tie-broken rank so
   * the exact top-k is reproducible across engines. A repeated term
   * counts once. An empty term list, a null term or `topK <= 0`
   * refuses with an `IllegalArgumentException`. `filter` is the Lucene
   * filtered-query contract: the predicate restricts CANDIDATES only —
   * corpus constants (N, avgdl) and per-term df stay unfiltered, so a
   * doc's score never changes under a filter and top-k stays FULL
   * among matching docs.
   */
  def searchBm25(spark: SparkSession, idx: Index, terms: Seq[String],
      topK: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    requireQuery("searchBm25", "term", terms)
    require(topK > 0, s"searchBm25: topK $topK must be > 0")
    // unresolvable filter fails at analysis time, before any job runs
    val fdocs = filter.map(flt => filteredDocIds(spark, idx, flt))
    topOne(bm25Scores(spark, idx, Left(terms.distinct), fdocs), "score",
      topK)
  }

  /**
   * FUZZY term expansion against the index VOCABULARY: every stored
   * token within banded edit distance `maxDist` of a query term,
   * constrained to share the term's first `prefixLen` characters —
   * Lucene `FuzzyQuery` semantics (its `prefix_length`, here floored
   * at 1): the prefix constraint is what keeps the dictionary probe
   * PRUNED instead of a full-vocabulary distance scan. Returns
   * `(term, tok)` expansion pairs (distance 0 — the exact term, when
   * indexed — included), CAPPED per term at the `maxExpansions`
   * highest-df variants (df desc, tok asc tie-break) — Lucene's
   * `maxExpansions` rewrite cap (default 50), for the same reason:
   * a 1-char-prefix term over a heavy-tailed vocabulary expands
   * unboundedly, and the highest-df variants are the ones that can
   * actually rank. A null term refuses. The probe is [[expandVocab]].
   */
  def fuzzyExpand(spark: SparkSession, idx: Index, terms: Seq[String],
      maxDist: Int, prefixLen: Int = 1,
      maxExpansions: Int = 50): DataFrame =
    fuzzyExpandDf(spark, idx, "fuzzyExpand", terms, maxDist, prefixLen,
      maxExpansions).select(col("key").as("term"), col("tok"))

  /** [[fuzzyExpand]] as `(key, tok, __df)`: validation on the driver,
    * then the shared vocabulary probe with the terms' prefixes pushed
    * to the scan. */
  private def fuzzyExpandDf(spark: SparkSession, idx: Index, face: String,
      terms: Seq[String], maxDist: Int, prefixLen: Int,
      maxExpansions: Int): DataFrame = {
    requireQuery(face, "term", terms)
    requireFuzzy(maxDist, prefixLen, maxExpansions)
    val ts = terms.distinct
    require(ts.forall(_.length >= prefixLen),
      s"$face: every term needs at least prefixLen=$prefixLen characters")
    expandVocab(spark, idx, spark.createDataFrame(ts.map(Tuple1(_)))
        .toDF("key"), fuzzyMatch(maxDist, prefixLen),
      ts.map(_.take(prefixLen)).distinct, maxExpansions)
  }

  private def requireFuzzy(maxDist: Int, prefixLen: Int,
      maxExpansions: Int): Unit = {
    require(maxDist >= 0 && maxDist <= 2,
      s"maxDist $maxDist out of the useful fuzzy band [0, 2]")
    require(prefixLen >= 1,
      "prefixLen must be >= 1: the shared prefix is what keeps the " +
        "vocabulary probe pruned (Lucene FuzzyQuery prefix_length)")
    require(maxExpansions >= 1,
      s"maxExpansions $maxExpansions must be >= 1 (Lucene " +
        "maxExpansions — the rewrite cap that bounds the variant set)")
  }

  /** Fuzzy match of a vocabulary `tok` to a query `key`: shared
    * `prefixLen` prefix, then the banded `levenshtein` (gives up after
    * O(len·maxDist) work) on the prefix-blocked survivors only. */
  private def fuzzyMatch(maxDist: Int, prefixLen: Int) =
    col("tok").startsWith(substring(col("key"), 1, prefixLen)) &&
      abs(length(col("tok")) - length(col("key"))) <= maxDist &&
      levenshtein(col("tok"), col("key"), maxDist) >= 0

  private def prefixMatch = col("tok").startsWith(col("key"))

  /** The one vocabulary expansion: `(key, tok, __df)` for every stored
    * token matching a key of `keys` (one `key` column), capped per key
    * at the `maxExpansions` highest-df tokens (df desc, tok asc).
    *
    * Scale shape: the probe reads ONE column (`tok`) of the postings
    * with the `pushed` prefix disjunction on the parquet scan —
    * postings are written tok-sorted, so `StringStartsWith` row-group
    * stats skip every block outside the prefix ranges (no prefixes =
    * the full tok-only dictionary column, still never the corpus).
    * The per-token df (the cap's ranking key, and `__df`) is one
    * aggregate over that read — exact, because a prefix filter keeps
    * whole tokens — and the cap is a key-PARTITIONED window: no global
    * sort, no driver collect of the variants. */
  private def expandVocab(spark: SparkSession, idx: Index,
      keys: DataFrame, matches: org.apache.spark.sql.Column,
      pushed: Seq[String], maxExpansions: Int): DataFrame = {
    val dict = postings(spark, idx)
    val pruned =
      if (pushed.isEmpty) dict
      else dict.filter(pushed.map(p => col("tok").startsWith(lit(p)))
        .reduce(_ || _))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("__df").desc, col("tok").asc)
    pruned.groupBy("tok").agg(count(lit(1)).as("__df"))
      .join(broadcast(keys), matches)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxExpansions)
      .select("key", "tok", "__df")
  }

  /** Serve one query's expansion `(key, tok, __df)` through the BM25
    * core: the variant set stays a DATAFRAME (materialized once — the
    * core's bucket collect and the serve plan both read it), so a
    * short prefix over a web-scale vocabulary is a capped window + a
    * broadcast join, never a driver collect or a literal in-list. */
  private def serveExpansion(spark: SparkSession, idx: Index,
      exp: DataFrame, topK: Int): DataFrame = {
    val qt = exp.select(lit(0L).as("qid"), col("tok"), col("__df"))
      .distinct().localCheckpoint()
    topOne(bm25Scores(spark, idx, Right(qt), None), "score", topK)
  }

  /** PREFIX search (Lucene `PrefixQuery` / `term*` semantics): every
    * vocabulary token starting with a query prefix — capped per
    * prefix at the `maxExpansions` highest-df variants (Lucene's
    * rewrite cap, default 50; df desc, tok asc tie-break) — served
    * through the BM25 core: the autocomplete/search-as-you-type
    * retrieval shape. The vocabulary probe is [[expandVocab]] with
    * the prefixes pushed to the scan; the variant set never
    * round-trips through the driver. Nothing matching → empty result.
    * An empty list, a null or empty-string prefix, or `topK <= 0`
    * refuses. */
  def searchPrefix(spark: SparkSession, idx: Index,
      prefixes: Seq[String], topK: Int,
      maxExpansions: Int = 50): DataFrame = {
    requireQuery("searchPrefix", "prefix", prefixes)
    require(prefixes.forall(_.nonEmpty), "searchPrefix: empty-string " +
      "prefix matches the whole vocabulary — give at least one character")
    require(maxExpansions >= 1,
      s"maxExpansions $maxExpansions must be >= 1 (Lucene PrefixQuery " +
        "rewrite cap — what bounds a 1-char prefix over a web-scale " +
        "vocabulary)")
    require(topK > 0, s"searchPrefix: topK $topK must be > 0")
    val ps = prefixes.distinct
    serveExpansion(spark, idx, expandVocab(spark, idx,
      spark.createDataFrame(ps.map(Tuple1(_))).toDF("key"), prefixMatch,
      ps, maxExpansions), topK)
  }

  /** Typo-tolerant BM25 search: expand each query term against the
    * vocabulary ([[fuzzyExpand]] — per-term df-ranked cap at
    * `maxExpansions`, Lucene parity) and serve the UNION of expansion
    * variants through the BM25 core — each variant scores with its
    * own df/idf (rare corrections outweigh common ones, the property
    * fuzzy retrieval wants) and the postings read stays bucket-pruned
    * to the expanded terms. A term with no expansion contributes
    * nothing; if NOTHING expands, the result is empty. An empty list,
    * a null term or `topK <= 0` refuses. */
  def searchFuzzy(spark: SparkSession, idx: Index, terms: Seq[String],
      maxDist: Int, topK: Int, prefixLen: Int = 1,
      maxExpansions: Int = 50): DataFrame = {
    require(topK > 0, s"searchFuzzy: topK $topK must be > 0")
    serveExpansion(spark, idx, fuzzyExpandDf(spark, idx, "searchFuzzy",
      terms, maxDist, prefixLen, maxExpansions), topK)
  }

  /** Prefix-pushdown cap for the BATCH expansions: the batch's
    * distinct key prefixes are collected only to build the
    * `StringStartsWith` scan filter; past this many the disjunction
    * stops paying (and the filter tree stops being codegen-friendly),
    * so the probe falls back to the full tok-only dictionary column
    * read — still one narrow column, never the corpus. */
  private val MaxPrefixPushdown = 64

  /** The prefixes a batch expansion pushes to the scan: the distinct
    * values of `prefixes` (one string column), or none past
    * [[MaxPrefixPushdown]]. */
  private def pushable(prefixes: DataFrame): Seq[String] = {
    val ps = prefixes.distinct().limit(MaxPrefixPushdown + 1)
      .collect().map(_.getString(0))
    if (ps.length <= MaxPrefixPushdown) ps.toSeq else Nil
  }

  /** A query batch's distinct `(qid, key)` rows from its `listCol`
    * array, materialized once. `explode_outer` keeps a null/empty list
    * visible as a null key, so a null/empty list and a null element
    * refuse together on the materialized frame (one job over the
    * caller's subtree, not a separate refusal scan); `bad` adds the
    * face's own per-key refusal. The single-query faces refuse the same
    * inputs, and a batch must not silently drop the query instead. */
  private def queryKeys(queries: DataFrame, listCol: String, face: String,
      what: String, bad: org.apache.spark.sql.Column = lit(false),
      badWhy: String = ""): DataFrame = {
    val qk = queries
      .select(col("qid"), explode_outer(col(listCol)).as("key"))
      .distinct().localCheckpoint()
    require(qk.filter(col("key").isNull || bad).isEmpty,
      s"$face: a query has a null/empty $what list or a null $what" +
        badWhy + " — the single-query faces refuse these, and a batch " +
        "must not silently drop the query")
    qk
  }

  /** Join a batch's `(qid, key)` rows to their expansion, as the
    * materialized `(qid, tok, __df)` DISTINCT-pair frame the BM25 core
    * consumes directly (query-count-bounded: qids × capped variants).
    * Materialized ONCE: the core's bucket collect would otherwise
    * re-run the dictionary scan; `__df` rides along so the serve skips
    * its own df aggregate — one postings scan in the fused plan. A
    * query none of whose keys expands drops from the frame. */
  private def expansionPairs(qk: DataFrame, exp: DataFrame): DataFrame =
    qk.join(exp, "key").select(col("qid"), col("tok"), col("__df"))
      .distinct().localCheckpoint()

  /** Rewrite a `(qid, terms)` query batch to its FUZZY-EXPANDED form:
    * each query's terms are replaced by the union of their
    * [[fuzzyExpand]] variants (expansion computed once over the
    * batch's distinct terms and shared, per-term capped). A query
    * whose terms ALL fail to expand drops from the frame — the batch
    * analogue of the single-query "nothing expands → empty result". A
    * null/empty term list or a null term refuses. The result plugs
    * straight into [[searchBm25Batch]] / the batched hybrid serve. */
  def expandQueriesFuzzy(spark: SparkSession, idx: Index,
      queries: DataFrame, maxDist: Int, prefixLen: Int = 1,
      maxExpansions: Int = 50): DataFrame =
    expandQueriesFuzzyPairs(spark, idx, queries, maxDist, prefixLen,
        maxExpansions, "expandQueriesFuzzy")
      .groupBy("qid").agg(collect_set(col("tok")).as("terms"))

  /** `(qid, tok, __df)` pair face of [[expandQueriesFuzzy]] — the
    * shape [[searchBm25BatchPairs]] consumes directly, skipping the
    * collect_set → re-explode round trip. The term frame is never
    * collected: the only driver read is the distinct PREFIX set for
    * the scan pushdown ([[pushable]]). */
  private[pipeline] def expandQueriesFuzzyPairs(spark: SparkSession,
      idx: Index, queries: DataFrame, maxDist: Int, prefixLen: Int,
      maxExpansions: Int, face: String): DataFrame = {
    requireFuzzy(maxDist, prefixLen, maxExpansions)
    val qk = queryKeys(queries, "terms", face, "term",
      length(col("key")) < prefixLen,
      s", or a term shorter than prefixLen=$prefixLen")
    val keys = qk.select("key").distinct()
    expansionPairs(qk, expandVocab(spark, idx, keys,
      fuzzyMatch(maxDist, prefixLen),
      pushable(keys.select(substring(col("key"), 1, prefixLen))),
      maxExpansions))
  }

  /** `(qid, tok, __df)` pairs of a `(qid, prefixes)` batch: each
    * query's prefixes replace themselves with the per-prefix df-ranked
    * top-`maxExpansions` vocabulary tokens (expansion computed once
    * over the batch's distinct prefixes and shared). A null/empty
    * prefix list, a null or an empty-string prefix refuses. */
  private[pipeline] def expandQueriesPrefixPairs(spark: SparkSession,
      idx: Index, queries: DataFrame, maxExpansions: Int,
      face: String): DataFrame = {
    require(maxExpansions >= 1,
      s"maxExpansions $maxExpansions must be >= 1")
    val qk = queryKeys(queries, "prefixes", face, "prefix",
      length(col("key")) === 0,
      ", or an empty-string prefix (it matches the whole vocabulary)")
    val keys = qk.select("key").distinct()
    expansionPairs(qk, expandVocab(spark, idx, keys, prefixMatch,
      pushable(keys), maxExpansions))
  }

  /** BATCHED prefix (autocomplete) search: [[searchPrefix]] for a
    * whole `(qid, prefixes)` frame in one pass — shared capped
    * expansion + the one-pass batched BM25 pipe. Per-query results
    * identical to [[searchPrefix]]; a query whose prefixes all match
    * nothing drops. */
  def searchPrefixBatch(spark: SparkSession, idx: Index,
      queries: DataFrame, topK: Int, maxExpansions: Int = 50,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchBm25BatchPairs(spark, idx, expandQueriesPrefixPairs(spark, idx,
      queries, maxExpansions, "searchPrefixBatch"), topK, filter)

  /** BATCHED typo-tolerant BM25: [[searchFuzzy]] for a whole
    * `(qid, terms)` frame in one pass — the expansion is shared
    * across the batch vocabulary ([[expandQueriesFuzzy]]) and the
    * serve is the batched BM25 pipe (one bucket-pruned postings read,
    * shared df/idf, qid-partitioned ranking). Per-query results
    * identical to [[searchFuzzy]] on that query alone; `filter`
    * carries the same Lucene filtered-query contract. */
  def searchFuzzyBatch(spark: SparkSession, idx: Index,
      queries: DataFrame, maxDist: Int, topK: Int, prefixLen: Int = 1,
      maxExpansions: Int = 50,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchBm25BatchPairs(spark, idx, expandQueriesFuzzyPairs(spark, idx,
        queries, maxDist, prefixLen, maxExpansions, "searchFuzzyBatch"),
      topK, filter)

  /**
   * BATCHED [[searchBm25]]: per-query BM25 top-k for a whole frame of
   * queries — `queries` is `(qid, terms: array<string>)` — in ONE
   * bucket-pruned postings pass, the offline-evaluation /
   * multi-tenant serve shape where looping the driver one query at a
   * time would fan out |queries| Spark jobs. Scores and per-query
   * ranking replicate [[searchBm25]] exactly (same core, same id
   * tie-break, duplicate terms inside one query count once); ranking
   * is a per-qid window. A null/empty term list or a null term
   * refuses; `filter` is the same Lucene filtered-query contract.
   */
  def searchBm25Batch(spark: SparkSession, idx: Index,
      queries: DataFrame, topK: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(topK > 0, s"searchBm25Batch: topK $topK must be > 0")
    // a filter that can't resolve fails HERE, at analysis time,
    // before any of the batch's eager work below runs (the hybrid
    // lexical fallback relies on the refusal being cheap)
    val fdocs = filter.map(flt => filteredDocIds(spark, idx, flt))
    val qt = queryKeys(queries, "terms", "searchBm25Batch", "term")
      .select(col("qid"), col("key").as("tok"))
    topPerQid(bm25Scores(spark, idx, Right(qt), fdocs), "score", topK)
  }

  /** Serve face of [[searchBm25Batch]] for a materialized DISTINCT
    * `(qid, tok, __df)` pair frame (the [[expandQueriesFuzzyPairs]] /
    * [[expandQueriesPrefixPairs]] output): no explode, and the
    * expansion's exact per-token df replaces the serve's own df
    * aggregate. */
  private[pipeline] def searchBm25BatchPairs(spark: SparkSession,
      idx: Index, pairs: DataFrame, topK: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(topK > 0, s"topK $topK must be > 0")
    val fdocs = filter.map(flt => filteredDocIds(spark, idx, flt))
    topPerQid(bm25Scores(spark, idx, Right(pairs), fdocs), "score", topK)
  }

  /**
   * The one BM25 score: unranked `(qid, id, score)` for a `query` that
   * is either the single BM25 face's validated terms (`Left`: one query,
   * qid 0) or validated DISTINCT `(qid, tok)` pairs (`Right`: local or
   * checkpointed, since the bucket collect below and the serve plan
   * both read them). A pair frame that carries `__df` (an expansion's
   * exact per-token postings count) has its df reused instead of
   * aggregated from the postings a second time.
   *
   * Scale shape: the postings scan is pruned to the UNION of the
   * query's term buckets and restricted to its vocabulary — a literal
   * `tok IN (...)` scan filter for the terms, a broadcast join that
   * also attaches qid and df for an expansion, a semi-join otherwise.
   * df/idf per term is computed ONCE and shared across queries, and
   * scores fan out to the qids through one join. `fdocs` restricts
   * candidates below the score (corpus constants and df stay
   * unfiltered). Scores round to 6 places before any ranking.
   */
  private def bm25Scores(spark: SparkSession, idx: Index,
      query: Either[Seq[String], DataFrame],
      fdocs: Option[DataFrame]): DataFrame = {
    val qt = query.fold(
      ts => spark.createDataFrame(ts.map(t => (0L, t))).toDF("qid", "tok"),
      identity)
    val carriesDf = qt.columns.contains("__df")
    val (nDocs, sumDlen) = stats(spark, idx)
    val avgdl = sumDlen.toDouble / nDocs
    // ONE bounded action gives both serve-planning inputs: the
    // distinct bucket list (<= idx.nBuckets rows, an index constant
    // regardless of query count) AND the pair-frame row count.
    // The row count gates the broadcast choice: query-frame joins
    // broadcast only while the batch is SMALL (measured ~1.8× faster
    // end-to-end at 1M docs), while a millions-of-queries offline
    // batch legitimately plans as a shuffle join instead of capping
    // at driver memory.
    val perBucket = qt
      .groupBy(bucketOf(col("tok"), idx.nBuckets).as("tb")).count()
      .collect()
    val buckets = perBucket.map(_.getInt(0)).toSeq
    val qtRows = perBucket.map(_.getLong(1)).sum
    def small(df: DataFrame): DataFrame =
      if (qtRows <= 1000000L) broadcast(df) else df
    val scan = postings(spark, idx).filter(col("tb").isin(buckets: _*))
    val matched = query match {
      case Left(ts) => scan.filter(col("tok").isin(ts: _*))
      case Right(_) if carriesDf =>
        scan.join(small(qt.select(col("qid"), col("tok"),
          col("__df").as("dfc"))), "tok")
      case Right(_) =>
        scan.join(small(qt.select("tok").distinct()), Seq("tok"),
          "left_semi")
    }
    val post = fdocs match {
      case None => matched
      case Some(ids) => matched.join(ids, Seq("id"), "left_semi")
    }
    val perPair =
      if (carriesDf) post
      else {
        val withDf = post.join(
          matched.groupBy("tok").agg(count(lit(1)).as("dfc")), "tok")
        if (query.isLeft) withDf.withColumn("qid", lit(0L))
        else withDf.join(small(qt.select("qid", "tok")), "tok")
      }
    perPair
      .withColumn("idf",
        log((lit(nDocs.toDouble) - col("dfc") + 0.5) / (col("dfc") + 0.5)
          + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * (Bm25K1 + 1.0))
          / (col("tf") + lit(Bm25K1)
            * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dlen") / avgdl)))
      .groupBy("qid", "id").agg(round(sum("s"), 6).as("score"))
  }
}
