package graft.pipeline


import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.io.{GenLog, Memo}

/**
 * The GENERATIONAL VECTOR INDEX — [[Similarity]]'s at-rest ANN
 * artifacts with the [[graft.io.GenLog]] lifecycle the text index
 * ([[Search]]) got in r8. One format serves both retrieval paths:
 * each generation's `vecs/gen=N` parquet carries
 * `(id, vec, nrm, bwords[, cid])` — the float vectors, their norms,
 * the packed sign bits for the binary-Hamming prefilter, and (when a
 * coarse codebook was installed at [[init]]) the IVF cluster
 * assignment — so the binary serve path column-prunes to
 * `(id, bwords)` and the IVF path to its probed clusters, over the
 * SAME files.
 *
 * Lifecycle, verbatim from the generation-log contract:
 *  - [[append]] folds a NEW shard in as its own generation — cost
 *    O(shard) (encode + write), never a corpus re-encode. Corpus
 *    growth is an append, not a rewrite: the r9 `binaryIndexWrite` /
 *    `ivfWriteIndex` write-once artifacts stay for static corpora,
 *    this is the growing-corpus path.
 *  - [[delete]] commits an id tombstone generation; every serve path
 *    anti-joins it (gen-aware, so delete + append is the re-embed /
 *    reingest cycle — exactly how an embedding refresh rolls through
 *    a corpus). Skipped at planning time when no tombstones exist.
 *  - [[compact]] rewrites the live rows as one new BASE generation;
 *    [[vacuum]] reclaims below it plus stale claims/orphans —
 *    directory count stays bounded across folds.
 *  - Markers carry `(nVecs delta, dim, cb-bucket count)`, so
 *    [[countVecs]] is an exact integer sum over the read set and
 *    [[open]] needs no data scan. Concurrent appends take distinct
 *    slots through the LogStore CAS; structural commits refuse while
 *    a lower slot is claimed-unpublished (same races, same guard as
 *    Search).
 *
 * IVF at rest: generations are directory-partitioned by
 * `cb = pmod(cid, nBuckets)`, so a query batch's probed clusters
 * prune to |probed buckets| directories at PLANNING time (the
 * Search term-bucket trick). The probed-cid collect that builds the
 * literal bucket list is bounded by the codebook contract
 * (<= C <= ~1024 distinct cids), the same bound [[Similarity.collectCodebook]]
 * already rides. Codebooks are VERSIONED (r11): every generation's
 * marker records the codebook version (`cbv`) its rows encode under,
 * appends assign against the current version, and [[retrain]] rolls
 * the corpus onto a new codebook through a staged install + re-encode
 * whose atomic swap is the new base generation's marker — embedding
 * drift no longer forces a fresh init with an unavailability window.
 */
object VecIndex {

  /** Handle: `cb` = IVF bucket-dir count (0 = binary-only index). */
  final case class Index(path: String, dim: Int, cbBuckets: Int) {
    def hasIvf: Boolean = cbBuckets > 0
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val DataDirs = Seq("vecs", "tombs")
  private val SidecarNames = Seq("centroids", "pq", "coarse")

  /** Column names the encoder derives or the layout owns. Everything
    * ELSE in an [[init]]/[[append]] frame beyond (id, vec) is a
    * METADATA column, stored verbatim next to the vectors in every
    * generation — the substrate of the FILTERED serve: a predicate
    * over these columns pushes into the probed generation scan, BELOW
    * the Hamming/ADC/cosine shortlist, so top-k stays full among
    * matching rows (post-filtering an unfiltered top-k silently
    * under-fills k — the shape every serve path here refuses). */
  private val Derived = Set("nrm", "bwords", "cid", "ccid", "cb", "gen",
    "__res", "__ovec")
  private def isDerived(c: String): Boolean =
    Derived(c) || c.matches("code\\d+")

  /** Stored column names of the live generations (footer reads only —
    * no data scan). mergeSchema: a metadata column added mid-life
    * (append after init) must be visible no matter which generation's
    * footer gets inferred first. */
  private def liveCols(spark: SparkSession, idx: Index): Seq[String] = {
    val f = fsOf(spark, idx.path)
    val root = s"${idx.path}/vecs"
    Memo.bySig(root, GenLog.commitsSig(f, idx.path)) {
      val ms = GenLog.liveMetas(spark, f, idx.path)
        .filter(_.kind != GenLog.KindDel)
      spark.read.option("basePath", root)
        .option("mergeSchema", "true")
        .parquet(ms.flatMap(m =>
          GenLog.genPaths(spark, f, idx.path, "vecs", m.gen)): _*)
        .schema
    }.fieldNames.toSeq
  }

  /** Versioned codebook sidecar path. Version 0 is the [[init]]
    * codebook at the unsuffixed legacy path (`centroids/`, `pq/`,
    * `coarse/`); [[retrain]] installs `<name>_v<V>` siblings. */
  private def sidecar(path: String, name: String, v: Int): String =
    if (v == 0) s"$path/$name" else s"$path/${name}_v$v"

  /** The version-`v` centroids sidecar through
    * [[Similarity.collectCodebook]]. The tiny, version-immutable
    * codebook SIDECARS (centroids here, pq and coarse below) are
    * memoized on the driver: every serve used to pay a parquet
    * footer-inference job plus a collect per call just to reload a
    * <= C·dim-doubles structure that never changes for a given version.
    * Keyed by the sidecar directory and its [[GenLog.dirSig]] (file
    * count, total bytes, newest mtime, sorted file-name hash), so
    * re-initializing an index under the same path serves the new
    * codebook. This memoizes INDEX STRUCTURE, not query results: every
    * serve still scans the probed lists and scores them. */
  private def centroidBook(spark: SparkSession, idx: Index,
      v: Int): Seq[(Long, Seq[Double], Double)] = {
    val dir = sidecar(idx.path, "centroids", v)
    Memo.bySig(dir, GenLog.dirSig(fsOf(spark, idx.path), new Path(dir))) {
      Similarity.collectCodebook(spark.read.parquet(dir))
    }
  }

  /** The CURRENT codebook version: the max `cbv` any committed
    * generation encodes under (0 before any retrain — markers written
    * pre-r11 carry no cbv field and read as 0). Derived from markers,
    * not sidecar files, so installing a new codebook's sidecars is
    * inert until the re-encoded base generation's marker lands. */
  def codebookVersion(spark: SparkSession, idx: Index): Int =
    GenLog.metas(spark, fsOf(spark, idx.path), idx.path)
      .map(_.cbv).maxOption.getOrElse(0)

  /** Live non-tombstone generations grouped by the codebook version
    * their rows were encoded under, ascending by version. Normally ONE
    * group; two only mid-roll, when an append that claimed its slot
    * during a [[retrain]] published after the new base (its rows are
    * v-old encodings above the v-new base). Serve paths probe each
    * group against ITS codebook — "generations read the codebook they
    * were encoded under". */
  private def cbvGroups(spark: SparkSession,
      idx: Index): Seq[(Int, Seq[Int])] =
    GenLog.liveMetas(spark, fsOf(spark, idx.path), idx.path)
      .filter(_.kind != GenLog.KindDel)
      .groupBy(_.cbv).toSeq.sortBy(_._1)
      .map { case (v, ms) => (v, ms.map(_.gen)) }

  /** Load the optional PQ codebook sidecar of version `v`: (m
    * codebooks of k×subDim), None when PQ wasn't installed. Driver-
    * side — m·k rows by the PQ contract (e.g. 4×256), same bound as
    * [[Similarity.collectCodebook]]. */
  private def pqBooks(spark: SparkSession, idx: Index,
      v: Int): Option[(Seq[Array[Array[Double]]], Int)] = {
    val f = fsOf(spark, idx.path)
    val dir = sidecar(idx.path, "pq", v)
    if (!f.exists(new Path(dir))) None
    else Some(Memo.bySig(dir, GenLog.dirSig(f, new Path(dir))) {
      val rows = spark.read.parquet(dir)
        .select("s", "cid", "comp").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val m = rows.map(_._1).max + 1
      val books: Seq[Array[Array[Double]]] = (0 until m).map { s =>
        rows.filter(_._1 == s).sortBy(_._2).map(_._3)
      }
      (books, books.head.head.length)
    })
  }

  /** Load the optional IVFADC coarse codebook sidecar of version `v`:
    * euclidean coarse centroids indexed by ccid (None when the index
    * is not residual-PQ flavored). Driver-side, C·dim doubles by
    * contract. */
  private def coarseBook(spark: SparkSession, idx: Index,
      v: Int): Option[Seq[Array[Double]]] = {
    val f = fsOf(spark, idx.path)
    val dir = sidecar(idx.path, "coarse", v)
    if (!f.exists(new Path(dir))) None
    else Some(Memo.bySig(dir, GenLog.dirSig(f, new Path(dir))) {
      spark.read.parquet(dir)
        .select("ccid", "comp").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2).toSeq
    })
  }

  // ---- encode + commit ----

  /** One generation's rows: floats + norm + packed sign bits, plus
    * per-flavor derived columns — cosine `cid` against the installed
    * IVF codebook, raw-PQ `code*` against the installed subspace
    * codebooks, or (IVFADC flavor) euclidean `ccid` + RESIDUAL codes
    * against the coarse + residual codebooks. */
  private def encoded(df: DataFrame, idx: Index, v: Int): DataFrame = {
    val spark = df.sparkSession
    // every non-(id, vec) column is metadata, carried verbatim into
    // the generation rows (the filtered-serve substrate)
    val meta = df.columns.toSeq.filterNot(c => c == "id" || c == "vec")
    val clash = meta.filter(isDerived)
    require(clash.isEmpty, s"metadata column(s) ${clash.mkString(", ")} " +
      "collide with index-derived columns " +
      "(nrm/bwords/cid/ccid/cb/gen/code*)")
    val base = df.select(Seq(col("id"), col("vec"),
      Similarity.norm(col("vec")).as("nrm"),
      Similarity.binaryQuantize(col("vec"), idx.dim).as("bwords")) ++
      meta.map(col): _*)
    coarseBook(spark, idx, v) match {
      case Some(coarse) =>
        // IVFADC: euclidean coarse assign, then PQ on the residual
        val (books, subDim) = pqBooks(spark, idx, v).getOrElse(
          sys.error(s"index at ${idx.path} has a coarse codebook " +
            "but no PQ codebooks"))
        val cn2 = coarse.map(v => v.map(x => x * x).sum).toArray
        val assigned = base.withColumn("ccid", element_at(
          graft.functions.VectorFunctions.nearestCentroids(
            col("vec"), coarse.toArray, cn2,
            coarse.indices.map(_.toLong).toArray, 1, euclidean = true), 1))
        val flat = org.apache.spark.sql.functions
          .typedlit(coarse.flatten.toSeq)
        val resVec = array((0 until idx.dim).map(i =>
          col("vec").getItem(i).cast("double") -
            element_at(flat, col("ccid").cast("int") * idx.dim + i + 1)): _*)
        val res = assigned.select(Seq(col("id"), resVec.as("__res"),
          col("vec"), col("nrm"), col("bwords"), col("ccid")) ++
          meta.map(col): _*)
        Similarity.pqEncode(
          res.withColumnRenamed("vec", "__ovec")
            .withColumnRenamed("__res", "vec"),
          books, subDim,
          extra = Seq("__ovec", "nrm", "bwords", "ccid") ++ meta)
          .withColumnRenamed("__ovec", "vec")
      case None =>
        val withIvf =
          if (!idx.hasIvf) base
          else {
            val cb = centroidBook(spark, idx, v)
            base.withColumn("cid",
              element_at(Similarity.nearestCids(col("vec"), cb, 1), 1))
          }
        pqBooks(spark, idx, v) match {
          case None => withIvf
          case Some((books, subDim)) =>
            val extra = Seq("vec", "nrm", "bwords") ++
              (if (idx.hasIvf) Seq("cid") else Nil) ++ meta
            Similarity.pqEncode(withIvf, books, subDim, extra)
        }
    }
  }

  private def commitSegment(df: DataFrame, idx: Index,
      kind: String): Int = {
    val spark = df.sparkSession
    val f = fsOf(spark, idx.path)
    val g = GenLog.claimGen(spark, f, idx.path)
    writeSegmentAt(df, idx, kind, g)
  }

  /** The cluster column a generation's directory layout buckets by:
    * cosine-IVF `cid` or IVFADC `ccid` (None = flat layout). */
  private def clusterKey(columns: Seq[String], idx: Index): Option[String] =
    if (idx.cbBuckets <= 0) None
    else if (columns.contains("cid")) Some("cid")
    else if (columns.contains("ccid")) Some("ccid")
    else None

  /** Write one generation's rows with the index's layout (cluster-
    * bucketed dirs when a cluster column is present, flat otherwise). */
  private def writeGen(enc: DataFrame, idx: Index, g: Int): Unit =
    clusterKey(enc.columns.toSeq, idx) match {
      case Some(key) =>
        enc.withColumn("cb", pmod(col(key), lit(idx.cbBuckets)).cast("int"))
          .repartition(col("cb")).sortWithinPartitions(key)
          .write.mode("overwrite").partitionBy("cb")
          .parquet(s"${idx.path}/vecs/gen=$g")
      case None =>
        enc.write.mode("overwrite").parquet(s"${idx.path}/vecs/gen=$g")
    }

  /** Data write + publish for an already-claimed slot (split out for
    * the concurrent-lifecycle spec, like [[Search.writeSegmentAt]]).
    * Encodes under — and stamps the marker with — the CURRENT codebook
    * version unless `cbvOverride` pins one: the spec uses the override
    * to reproduce the append-raced-a-retrain interleave (claimed under
    * v, published after the v+1 base) deterministically. */
  private[pipeline] def writeSegmentAt(df: DataFrame, idx: Index,
      kind: String, g: Int, cbvOverride: Option[Int] = None): Int = {
    val spark = df.sparkSession
    val f = fsOf(spark, idx.path)
    val v = cbvOverride.getOrElse(codebookVersion(spark, idx))
    writeGen(encoded(df, idx, v), idx, g)
    val n = df.count()
    GenLog.publish(spark, f, idx.path, g, kind, n, idx.dim, idx.cbBuckets,
      cbv = v)
    g
  }

  // ---- lifecycle ----

  /** Build a FRESH index at `path` (drops existing state): generation
    * 1 is a base. Install `centroids` (cid, cvec) to enable the IVF
    * serve path (`cbBuckets` partitions each generation's lists for
    * planning-time probe pruning), and/or `pq` subspace codebooks to
    * ride ADC codes next to every vector (the compressed serve path —
    * [[pqTopK]] never reads the floats). Both codebooks become
    * VERSION 0; appends encode against the current version, and
    * [[retrain]] rolls the corpus onto a successor without downtime. */
  /** Write one codebook set's sidecar files at version `v`'s paths.
    * Shared by [[init]] (v = 0) and [[installCodebook]] (v >= 1). */
  private def writeSidecars(spark: SparkSession, path: String, dim: Int,
      v: Int, centroids: Option[DataFrame],
      pq: Option[Seq[Array[Array[Double]]]],
      ivfPq: Option[(Seq[Array[Double]], Seq[Array[Array[Double]]])])
      : Unit = {
    import spark.implicits._
    require(ivfPq.isEmpty || (centroids.isEmpty && pq.isEmpty),
      "ivfPq is its own flavor — do not combine with centroids/pq")
    centroids.foreach(_.write.mode("overwrite")
      .parquet(sidecar(path, "centroids", v)))
    def writePq(books: Seq[Array[Array[Double]]]): Unit = {
      require(books.nonEmpty && books.forall(_.nonEmpty),
        "empty PQ codebooks")
      require(dim % books.length == 0 &&
        books.forall(_.forall(_.length == dim / books.length)),
        s"PQ codebooks must tile dim $dim evenly")
      books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cent, cid) => (s, cid, cent.toSeq) }
      }.toDF("s", "cid", "comp")
        .coalesce(1).write.mode("overwrite")
        .parquet(sidecar(path, "pq", v))
    }
    pq.foreach(writePq)
    ivfPq.foreach { case (coarse, books) =>
      require(coarse.nonEmpty && coarse.forall(_.length == dim),
        s"coarse centroids must be dim $dim")
      writePq(books)
      coarse.zipWithIndex.map { case (c, ccid) => (ccid, c.toSeq) }
        .toDF("ccid", "comp")
        .coalesce(1).write.mode("overwrite")
        .parquet(sidecar(path, "coarse", v))
    }
  }

  def init(corpus: DataFrame, dim: Int, path: String,
      centroids: Option[DataFrame] = None, cbBuckets: Int = 16,
      pq: Option[Seq[Array[Array[Double]]]] = None,
      ivfPq: Option[(Seq[Array[Double]], Seq[Array[Array[Double]]])] =
        None): Index = {
    val spark = corpus.sparkSession
    val f = fsOf(spark, path)
    f.delete(new Path(path), true)
    writeSidecars(spark, path, dim, 0, centroids, pq, ivfPq)
    val idx = Index(path, dim,
      if (centroids.isDefined || ivfPq.isDefined) cbBuckets else 0)
    commitSegment(corpus, idx, GenLog.KindBase)
    idx
  }

  /** Open an existing committed index (dim + layout from the log). */
  def open(spark: SparkSession, path: String): Index = {
    val m = GenLog.liveMetas(spark, fsOf(spark, path), path).last
    Index(path, m.b.toInt, m.n)
  }

  /** Fold a NEW shard of vectors in as its own generation — O(shard).
    * Caller contract (as [[Search.append]]): shard ids must be new or
    * previously [[delete]]d; reingesting a live id would double it. */
  def append(df: DataFrame, idx: Index): Index = {
    commitSegment(df, idx, GenLog.KindSeg)
    idx
  }

  /** EXACTLY-ONCE streaming fold (use from `foreachBatch`): one
    * generation per micro-batch, idempotent on replay — the batch id
    * rides in the marker kind (`seg@<id>`), so a restarted query
    * re-delivering a batch finds its generation already committed and
    * skips instead of double-appending. The same batch-marker trick
    * [[graft.io.Versioned.appendBatch]] and the MatView refresh loop
    * use; with it, `readStream … .foreachBatch(appendBatch(_, idx, _))`
    * is an embedding-ingest pipeline whose index is always one marker
    * away from consistent. */
  def appendBatch(df: DataFrame, idx: Index, batchId: Long,
      ingestId: String = ""): Index = {
    val spark = df.sparkSession
    val f = fsOf(spark, idx.path)
    // batchApplied also honors the base markers' fold watermark, so a
    // batch re-delivered AFTER compact+vacuum reclaimed its seg@<id>
    // marker is still recognized and skipped (no double-append).
    // `ingestId` scopes the guard per ingest: streaming batch ids
    // restart at 0 for a NEW checkpoint location, so a fresh ingest
    // against an existing compacted index must not be skipped by the
    // old ingest's watermark — pass the query id or checkpoint path
    // (see Search.appendBatch for the full contract).
    if (GenLog.batchApplied(GenLog.metas(spark, f, idx.path), batchId,
      ingestId)) idx
    else { commitSegment(df, idx, GenLog.segKind(batchId, ingestId)); idx }
  }

  /** STAGE 1 of the codebook retrain roll: write the next version's
    * sidecar files (`centroids_v<V>` …) and return V. INERT by
    * construction — the current version is derived from committed
    * MARKERS ([[codebookVersion]]), not sidecar presence, so appends
    * and serves keep using the old codebook until [[reencode]]
    * publishes a base generation stamped with V. A crash here leaves
    * orphan sidecar files a re-run overwrites; nothing ever reads
    * them. Flavor is fixed at [[init]]: pass the same combination
    * (centroids / pq / ivfPq) the index was built with. */
  def installCodebook(spark: SparkSession, idx: Index,
      centroids: Option[DataFrame] = None,
      pq: Option[Seq[Array[Array[Double]]]] = None,
      ivfPq: Option[(Seq[Array[Double]], Seq[Array[Array[Double]]])] =
        None): Int = {
    val vOld = codebookVersion(spark, idx)
    val f = fsOf(spark, idx.path)
    def installed(name: String) =
      f.exists(new Path(sidecar(idx.path, name, vOld)))
    require(centroids.isDefined == installed("centroids") &&
      (pq.isDefined || ivfPq.isDefined) == installed("pq") &&
      ivfPq.isDefined == installed("coarse"),
      s"retrain must keep the index flavor fixed: version $vOld has " +
        s"centroids=${installed("centroids")} pq=${installed("pq")} " +
        s"coarse=${installed("coarse")}")
    val v = vOld + 1
    writeSidecars(spark, idx.path, idx.dim, v, centroids, pq, ivfPq)
    v
  }

  /** STAGE 2 of the roll: compact-shaped background rewrite — re-
    * encode every live vector FROM ITS FLOATS against codebook
    * version `v` and publish the result as one new base generation
    * whose marker carries `cbv = v`. The marker IS the atomic swap:
    * readers see the complete old read set (old codebook) until the
    * instant it lands, the complete new one after — no unavailability
    * window, no torn state (a crash pre-publish leaves an invisible
    * orphan for vacuum). In-flight appends below the claimed slot
    * fail the rewrite loudly (the structural-commit guard); an append
    * that claims DURING the rewrite and publishes after the base
    * lands above it still encoded under the old version — its marker
    * says so, and every serve path probes it with the codebook it was
    * encoded under ([[cbvGroups]]) until the next compact folds it. */
  def reencode(spark: SparkSession, idx: Index, v: Int): Index = {
    val f = fsOf(spark, idx.path)
    require(f.exists(new Path(sidecar(idx.path, "centroids", v))) ||
      f.exists(new Path(sidecar(idx.path, "pq", v))),
      s"no version-$v codebook installed at ${idx.path} — run " +
        "installCodebook first")
    val g = GenLog.claimGen(spark, f, idx.path)
    GenLog.requireNoInflightBelow(spark, f, idx.path, g, "reencode")
    val ms = GenLog.liveMetas(spark, f, idx.path)
    // carry metadata columns through the roll — only the derived
    // encodings are re-computed against the new codebook
    val carry = liveCols(spark, idx).filterNot(isDerived)
    val live = liveVecs(spark, idx, carry)
    writeGen(encoded(live, idx, v), idx, g)
    // the new base's row count IS the marker-delta sum over the read
    // set (base = absolute, seg = +n, del = -live victims) — the exact
    // invariant the markers exist to provide; no second resolve scan
    val n = ms.map(_.a).sum
    val watermarks = GenLog.foldedBatchMaxes(ms)
    GenLog.publish(spark, f, idx.path, g, GenLog.KindBase, n, idx.dim,
      idx.cbBuckets, fold = watermarks.getOrElse("", -1L), cbv = v,
      folds = watermarks - "")
    idx
  }

  /** The codebook retrain lifecycle in one call: install the new
    * codebook as version V = current + 1, then roll the corpus onto
    * it ([[installCodebook]] + [[reencode]] — split them to run the
    * rewrite as a background job some time after staging the
    * sidecars). Post-roll serves are indistinguishable from a fresh
    * [[init]] with the new codebook (spec-pinned); the old version's
    * sidecars stay until [[vacuum]] observes no live generation
    * references them. */
  def retrain(spark: SparkSession, idx: Index,
      centroids: Option[DataFrame] = None,
      pq: Option[Seq[Array[Array[Double]]]] = None,
      ivfPq: Option[(Seq[Array[Double]], Seq[Array[Array[Double]]])] =
        None): Index =
    reencode(spark, idx, installCodebook(spark, idx, centroids, pq, ivfPq))

  /** Tombstone the given ids (one-column frame). Gen-aware kill:
    * a tombstone in generation G hides rows from generations before G
    * only, so delete + [[append]] re-embeds a document. */
  def delete(ids: DataFrame, idCol: String, idx: Index): Index = {
    val spark = ids.sparkSession
    val f = fsOf(spark, idx.path)
    val g = GenLog.claimGen(spark, f, idx.path)
    GenLog.requireNoInflightBelow(spark, f, idx.path, g, "delete")
    // count only LIVE victims so the marker delta keeps countVecs exact
    val victims = liveVecs(spark, idx, Seq("id"))
      .join(ids.select(col(idCol).as("id")).distinct(), "id")
      .localCheckpoint() // pin: stats and tombstones must agree exactly
    victims.select("id").write.mode("overwrite")
      .parquet(s"${idx.path}/tombs/gen=$g")
    val n = victims.count()
    GenLog.publish(spark, f, idx.path, g, GenLog.KindDel, -n, idx.dim,
      idx.cbBuckets)
    idx
  }

  /** PREDICATE tombstones — the GDPR/retention shape
    * (`DELETE FROM idx WHERE lang = 'xx'`): resolve every LIVE vector
    * whose stored metadata (columns ingested next to `(id, vec)`)
    * matches `predicate`, then commit through the ordinary gen-aware
    * [[delete]] — identical lifecycle and spec-pinned equivalent to
    * delete-by-ids on the same predicate. Un-stored columns fail
    * loudly ([[FilterUnresolved]]); an empty match commits an empty
    * tombstone generation, like deleting unknown ids. Returns the
    * number of matched live vectors. */
  def deleteWhere(spark: SparkSession, idx: Index,
      predicate: org.apache.spark.sql.Column): Long = {
    val ids = liveVecs(spark, idx, Seq("id"),
      preFilter = Some(predicate)).localCheckpoint()
    delete(ids, "id", idx)
    ids.count()
  }

  /** MULTI-VECTOR QUERIES over multi-vector documents — the full
    * ColBERT late-interaction serve: a query is a SET of token
    * embeddings (`queries` = `(qid, qtok, vec)`, `qtok` globally
    * unique across the batch and non-corpus for external queries),
    * the index holds chunk embeddings with the parent doc id as
    * metadata, and a doc scores
    * `Σ_qtok max_chunk cos(qtok, chunk)` over the candidates each
    * token's probed read retrieved (top-`nChunks` per token) — the
    * MaxSim sum of Khattab & Zaharia (SIGIR'20), candidate-bounded:
    * a (qtok, doc) pair outside the token's probed pool contributes
    * 0, the usual IVF recall trade. Returns `(qid, <docCol>, score)`
    * top-`k` per qid; one probed read for the WHOLE batch of tokens,
    * aggregation qid-partitioned over ≤ |tokens|·nChunks rows. */
  def maxSimTopKMulti(spark: SparkSession, queries: DataFrame,
      idx: Index, docCol: String, nProbe: Int, nChunks: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nChunks > 0 && k > 0,
      s"nChunks $nChunks and k $k must be > 0")
    // pin the (possibly expensive) query lineage ONCE: the probe
    // input, the size gate, and the qid fan-out all read it
    val q = queries.localCheckpoint()
    val qmap = q.select("qid", "qtok")
    val cand = ivfTopK(spark,
        q.select(col("qtok").as("id"), col("vec")), idx,
        nProbe, nChunks, filter, carry = Seq(docCol))
      .withColumnRenamed("qid", "qtok")
    val w = Window.partitionBy("qid")
      .orderBy(desc("score"), asc(docCol))
    // broadcast only while the token batch is small; a huge offline
    // batch legitimately shuffles instead of capping at driver memory
    val qmapSmall =
      if (qmap.count() <= 1000000L) broadcast(qmap)
      else qmap
    cand.join(qmapSmall, "qtok")
      .groupBy(col("qid"), col(docCol), col("qtok"))
      .agg(max(col("cos")).as("__mx"))
      .groupBy(col("qid"), col(docCol))
      .agg(round(sum("__mx"), 5).as("score"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("qid"), col(docCol), col("score"))
  }

  /** Drift proxy for the codebook-retrain decision: over a bounded
    * sample of live vectors, the fraction whose best cosine against
    * the CANDIDATE centroids strictly beats their best cosine against
    * the CURRENT ones — i.e. how much of the corpus the candidate
    * assigns better. An identical candidate measures 0.0; a candidate
    * trained on drifted data measures the drifted mass. Cost is one
    * sample × (C_cur + C_cand) broadcast score (both codebooks are
    * driver-bounded by the codebook contract) — cheap enough to run
    * inside every [[maintain]] sweep that supplies a candidate.
    * Cosine-IVF (centroids) flavor only: that coarse assignment is
    * what probed-serve recall hinges on; PQ/IVFADC books roll through
    * [[retrain]] directly. */
  def assignmentDrift(spark: SparkSession, idx: Index,
      candidate: DataFrame, sample: Int = 10000): Double = {
    require(idx.hasIvf, s"index at ${idx.path} has no IVF codebook — " +
      "assignmentDrift compares coarse assignments")
    val v = codebookVersion(spark, idx)
    val f = fsOf(spark, idx.path)
    require(f.exists(new Path(sidecar(idx.path, "centroids", v))),
      s"index at ${idx.path} is not the cosine-IVF flavor (no " +
        "centroids sidecar) — roll PQ/IVFADC books via retrain directly")
    val cur = centroidBook(spark, idx, v)
    val cand = Similarity.collectCodebook(candidate)
    // ONE nearest-centroid pass over the UNION codebook, current ids
    // below the offset and candidate ids above it: the argmax lands on
    // a candidate centroid exactly when it beats every current one
    // (the kernel breaks score ties toward the SMALLER cid, so an
    // identical candidate measures 0.0 — never a spurious roll)
    require(cand.forall(_._1 >= 0), "assignmentDrift: candidate " +
      "centroid ids must be >= 0 (the union-codebook offset relies " +
      "on it)")
    val offset = cur.map(_._1).max + 1
    val union = cur ++ cand.map { case (cid, cv, n2) =>
      (offset + cid, cv, n2) }
    // SPREAD sample, not a limit() prefix: limit would take the first
    // partitions in file order — typically the oldest base generation
    // — leaving freshly-appended (i.e. exactly the DRIFTED) mass
    // unrepresented and the policy blind. Deterministic hash-mod on
    // id touches every generation proportionally; the modulus comes
    // from the exact marker-derived count (no scan).
    val n = countVecs(spark, idx)
    val m = math.max(1L, n / math.max(1, sample))
    val s = liveVecs(spark, idx, Seq("id", "vec"))
      .filter(pmod(hash(col("id")), lit(m)) === 0)
    val row = s.select(avg(
      (element_at(Similarity.nearestCids(col("vec"), union, 1), 1)
        >= lit(offset)).cast("int")).as("d")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** ONE-CALL auto-maintenance for the vector index: the metas-only
    * policy ([[graft.io.GenLog.maintainPlan]]) picks full compact
    * (physical tombstone purge) past `purgeFrac` or a dirty-cluster
    * fold past `deltaGens`, then vacuums — mirroring
    * [[graft.pipeline.Search.maintain]] and
    * [[graft.io.Versioned.maintain]]. A purge-worthy index whose live
    * generations span CODEBOOK VERSIONS downgrades to the fold (the
    * full compact requires a reencode first — run retrain stage 2,
    * then the next maintain purges).
    *
    * CODEBOOK RETRAIN is a policy input too (r16): supply
    * `candidateCentroids` (e.g. the nightly kmeans job's output) and
    * the sweep measures [[assignmentDrift]] against the live corpus —
    * at or past `retrainFrac` it runs the full [[retrain]] roll
    * (staged install + re-encode, atomic marker swap) BEFORE the
    * file-shape plan; below it the candidate is discarded and only
    * the drift is reported. An embedding refresh that degraded
    * probed-serve recall heals on the next sweep instead of waiting
    * for a human to notice. */
  def maintain(spark: SparkSession, idx: Index,
      cfg: GenLog.MaintainConfig = GenLog.MaintainConfig(),
      candidateCentroids: Option[DataFrame] = None,
      retrainFrac: Double = 0.2, driftSample: Int = 10000)
      : Seq[(String, String)] = {
    val f = fsOf(spark, idx.path)
    val actions = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    candidateCentroids.foreach { cand =>
      val drift = assignmentDrift(spark, idx, cand, driftSample)
      if (drift >= retrainFrac) {
        retrain(spark, idx, centroids = Some(cand))
        actions += (("retrain",
          f"assignment drift $drift%.3f >= $retrainFrac%.3f — rolled " +
            s"to codebook v${codebookVersion(spark, idx)}"))
      } else actions += (("drift-ok",
        f"assignment drift $drift%.3f < $retrainFrac%.3f — candidate " +
          "discarded"))
    }
    val plan = GenLog.maintainPlan(spark, f, idx.path, cfg) match {
      case "full" =>
        val cbvs = GenLog.liveMetas(spark, f, idx.path)
          .filter(_.kind != GenLog.KindDel).map(_.cbv).distinct
        if (cbvs.size == 1) "full"
        else {
          actions += (("defer-purge", "live generations span codebook " +
            s"versions ${cbvs.sorted.mkString(",")} — reencode first; " +
            "folding instead"))
          "fold"
        }
      case p => p
    }
    plan match {
      case "full" =>
        compact(spark, idx)
        actions += (("compact", "tombstone purge"))
      case "fold" =>
        compactIncremental(spark, idx)
        actions += (("fold", "dirty-cluster rewrite, O(delta)"))
      case _ => ()
    }
    val got = vacuum(spark, idx)
    if (got.nonEmpty)
      actions += (("vacuum", s"reclaimed ${got.size} generation(s)"))
    if (actions.isEmpty) Seq(("noop", "below every threshold"))
    else actions.toSeq
  }

  /** Rewrite the live rows (tombstones applied) as ONE new base
    * generation, bounding read fan-in; [[vacuum]] then reclaims the
    * folded generations. */
  def compact(spark: SparkSession, idx: Index): Index = {
    val f = fsOf(spark, idx.path)
    // a compact is a pure rewrite — it carries rows (and their marker
    // cbv) as-is, so mixed codebook versions in the read set must be
    // unified by reencode (which re-derives the encodings), not here.
    // Checked BEFORE claiming a slot so the refusal leaves no stale
    // claim behind for the in-flight guard to trip on.
    val preCbvs = GenLog.liveMetas(spark, f, idx.path)
      .filter(_.kind != GenLog.KindDel).map(_.cbv).distinct
    require(preCbvs.size == 1, s"compact at ${idx.path}: live " +
      s"generations span codebook versions ${preCbvs.sorted.mkString(",")} " +
      "— run reencode (retrain stage 2) to unify them first")
    val g = GenLog.claimGen(spark, f, idx.path)
    GenLog.requireNoInflightBelow(spark, f, idx.path, g, "compact")
    // carry every data column of the current layout (cluster ids, PQ
    // codes — whatever the flavor wrote), dropping only the cb
    // partition column writeGen re-derives
    val ms = GenLog.liveMetas(spark, f, idx.path)
    val segCbvs = ms.filter(_.kind != GenLog.KindDel).map(_.cbv).distinct
    val cols = liveCols(spark, idx).filterNot(c => c == "cb" || c == "gen")
    val live = liveVecs(spark, idx, cols)
    writeGen(live, idx, g)
    // the new base's row count IS the marker-delta sum over the read
    // set (base = absolute, seg = +n, del = -live victims): the exact
    // invariant the markers exist to provide — zero extra jobs, where
    // even a footer re-read of the written generation was one
    val n = ms.map(_.a).sum
    // the base records the max folded streaming batch id PER INGEST,
    // so the exactly-once appendBatch guard survives vacuum reclaiming
    // the folded per-batch seg@<id> markers without crossing scopes
    val watermarks = GenLog.foldedBatchMaxes(ms)
    GenLog.publish(spark, f, idx.path, g, GenLog.KindBase, n, idx.dim,
      idx.cbBuckets, fold = watermarks.getOrElse("", -1L),
      cbv = segCbvs.head, folds = watermarks - "")
    idx
  }

  /** INCREMENTAL compact: fold the delta generations into a new base
    * at DELTA COST — rewrite only the `cb` cluster buckets the deltas
    * touched, CARRY every clean bucket dir of the previous base by
    * reference (`_CARRY.tsv`, the same manifest contract as
    * [[Search.compactIncremental]] and [[graft.io.Versioned]]'s
    * incremental checkpoints). Maintenance on a 100 TB vector corpus
    * costs O(delta + dirty clusters), never O(index); the full
    * [[compact]] rewrite becomes the rare defrag that also purges
    * dead rows physically. Tombstones are applied to rewritten
    * clusters and consolidated into the base's own snapshot for the
    * carried ones (gen-aware read keeps them hidden). Same codebook-
    * version unify requirement and structural-commit guard as
    * [[compact]]; FLAT layouts (no cluster dirs) delegate to the full
    * rewrite — there is no partition unit to carry. Falls back to
    * [[compact]] when no base exists; no-op when nothing committed
    * above it. */
  def compactIncremental(spark: SparkSession, idx: Index): Index = {
    val f = fsOf(spark, idx.path)
    if (idx.cbBuckets <= 0) return compact(spark, idx)
    val preCbvs = GenLog.liveMetas(spark, f, idx.path)
      .filter(_.kind != GenLog.KindDel).map(_.cbv).distinct
    require(preCbvs.size == 1, s"compactIncremental at ${idx.path}: " +
      s"live generations span codebook versions " +
      s"${preCbvs.sorted.mkString(",")} — run reencode (retrain " +
      "stage 2) to unify them first")
    val ms = GenLog.liveMetas(spark, f, idx.path)
    val baseGen = ms.filter(_.kind == GenLog.KindBase).map(_.gen)
      .maxOption.getOrElse(return compact(spark, idx))
    if (ms.forall(_.gen == baseGen)) return idx // nothing to fold
    val segs = ms.filter(m => m.kind != GenLog.KindDel && m.gen != baseGen)
    val dels = ms.filter(_.kind == GenLog.KindDel)
    // a FLAT-LAYOUT generation (parquet parts directly in the gen dir
    // — binary-only indexes with no cluster column) has no partition
    // unit to fold or carry: delegate to the full rewrite, which
    // handles any layout. Checked on base AND segments, BEFORE
    // claiming a slot (the refusal path must leave no stale claim).
    def isFlat(gen: Int): Boolean = {
      val dir = new Path(s"${idx.path}/vecs/gen=$gen")
      f.exists(dir) && f.listStatus(dir).exists(s =>
        !s.isDirectory && s.getPath.getName.endsWith(".parquet"))
    }
    if (isFlat(baseGen) || segs.exists(m => isFlat(m.gen)))
      return compact(spark, idx)
    val g = GenLog.claimGen(spark, f, idx.path)
    GenLog.requireNoInflightBelow(spark, f, idx.path, g,
      "compactIncremental")
    val dirty: Set[String] = segs.flatMap { m =>
      val dir = new Path(s"${idx.path}/vecs/gen=${m.gen}")
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cb="))
        .map(_.getPath.getName)
    }.toSet
    // BASE-MERGE (unlike Search's seg-merge): vector deltas are
    // cluster-narrow (fresh content lands in few cb buckets), so
    // rewriting the dirty clusters keeps exactly one file set per
    // cluster — best probed-serve locality — while the clean ones
    // carry by reference
    val eff = GenLog.effectiveParts(spark, f, idx.path, "vecs", baseGen)
    val carried = (eff -- dirty).toSeq
      .flatMap { case (k, ps) => ps.map(k -> _) }
    if (dirty.nonEmpty) {
      val srcPaths = dirty.toSeq.sorted
        .flatMap(k => eff.getOrElse(k, Nil)) ++
        segs.flatMap(m =>
          GenLog.genPaths(spark, f, idx.path, "vecs", m.gen))
      val raw = spark.read.option("basePath", s"${idx.path}/vecs")
        .option("mergeSchema", "true") // mid-life metadata: null
        .parquet(srcPaths: _*)
      // gen-aware tombstone resolve (same ORIGINAL-kill-gen rule as
      // liveVecs — see GenLog.tombstones)
      val tDirs = (dels.map(_.gen) :+ baseGen)
        .map(x => s"${idx.path}/tombs/gen=$x")
        .filter(d => f.exists(new Path(d)))
      val t =
        if (tDirs.isEmpty) raw
        else {
          val tt = GenLog.tombstones(spark, idx.path, tDirs)
            .select(col("id").as("__tid"), col("tgen").as("__tgen"))
          raw.join(tt,
            raw("id") === tt("__tid") && raw("gen") < tt("__tgen"),
            "left_anti")
        }
      val cols = raw.schema.fieldNames.toSeq
        .filterNot(c => c == "cb" || c == "gen")
      writeGen(t.select(cols.map(col): _*), idx, g)
    } else f.mkdirs(new Path(s"${idx.path}/vecs/gen=$g"))
    GenLog.writeCarry(spark, f, idx.path, "vecs", g, carried)
    // consolidated snapshot preserves ORIGINAL kill gens (tgen) — a
    // re-stamped gen would kill a re-embedded id's carried live rows
    // one fold later (see GenLog.consolidateTombs)
    val dead = GenLog.consolidateTombs(spark, f, idx.path,
      (dels.map(_.gen) :+ baseGen), g)
    val n = ms.map(_.a).sum
    val watermarks = GenLog.foldedBatchMaxes(ms)
    GenLog.publish(spark, f, idx.path, g, GenLog.KindBase, n, idx.dim,
      idx.cbBuckets, fold = watermarks.getOrElse("", -1L),
      cbv = preCbvs.head, folds = watermarks - "", dead = dead)
    idx
  }

  /** Reclaim generations below the newest base + stale claims/orphans
    * (single maintainer — the [[GenLog.vacuum]] contract), plus
    * codebook sidecar versions no remaining generation encodes under
    * (a completed retrain roll frees the old codebook here, not at
    * swap time — a reader mid-plan on the old read set must still
    * find its books). */
  def vacuum(spark: SparkSession, idx: Index): Seq[Int] = {
    val f = fsOf(spark, idx.path)
    val got = GenLog.vacuum(spark, f, idx.path, DataDirs)
    val minLive = GenLog.metas(spark, f, idx.path)
      .filter(_.kind != GenLog.KindDel).map(_.cbv)
      .minOption.getOrElse(0)
    (0 until minLive).foreach { v =>
      SidecarNames.foreach(n =>
        f.delete(new Path(sidecar(idx.path, n, v)), true))
    }
    got
  }

  /** Exact live vector count — integer sum of marker deltas, no scan. */
  def countVecs(spark: SparkSession, idx: Index): Long =
    GenLog.liveMetas(spark, fsOf(spark, idx.path), idx.path).map(_.a).sum

  // ---- read side ----

  /** The committed, tombstone-resolved rows, pruned to `cols` (plus
    * the partition columns the read carries). Extra pushable `filter`
    * applies BELOW the anti-join, on the generation scan itself.
    * `gens` restricts the SEGMENT read to those generations (one
    * codebook-version group of [[cbvGroups]]) — tombstones still
    * apply globally, so a subset read stays tombstone-exact. */
  private[pipeline] def liveVecs(spark: SparkSession, idx: Index,
      cols: Seq[String],
      preFilter: Option[org.apache.spark.sql.Column] = None,
      gens: Option[Seq[Int]] = None): DataFrame = {
    val f = fsOf(spark, idx.path)
    val ms = GenLog.liveMetas(spark, f, idx.path)
    val segs = ms.filter(_.kind != GenLog.KindDel)
      .filter(m => gens.forall(_.contains(m.gen)))
    // carry-aware: an incremental base contributes its own rewritten
    // cluster dirs plus its manifest-carried refs (original gen
    // partition values — what the gen-aware anti-join needs).
    // mergeSchema: generations ingested before a metadata column
    // existed read it as null instead of hiding it (which would both
    // fail filtered serves spuriously and let reencode/compact DROP
    // the column). The merged schema is memoized per committed
    // generation set over ALL live segments (Memo.bySig): the
    // footer-merge job is paid once per index state instead of per
    // serve, and a probed (gens-subset) read gets the same union
    // schema with missing columns null-filled by the explicit-schema
    // parquet read.
    val root = s"${idx.path}/vecs"
    val st = Memo.bySig(root, GenLog.commitsSig(f, idx.path)) {
      val all = ms.filter(_.kind != GenLog.KindDel)
        .flatMap(m => GenLog.genPaths(spark, f, idx.path, "vecs", m.gen))
      spark.read.option("basePath", root).option("mergeSchema", "true")
        .parquet(all: _*).schema
    }
    val raw = spark.read.schema(st).option("basePath", root)
      .parquet(segs.flatMap(m =>
        GenLog.genPaths(spark, f, idx.path, "vecs", m.gen)): _*)
    val filtered = preFilter.map { p =>
      try raw.filter(p)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new FilterUnresolved(
            s"serve filter does not resolve against the index at " +
              s"${idx.path} — stored columns: " +
              s"${raw.columns.mkString(", ")}. Ingest filter columns " +
              "as metadata next to (id, vec) at init/append; a serve " +
              "never post-filters (that silently under-fills k).", e)
      }
    }.getOrElse(raw)
    // delete generations, plus an incremental base's consolidated
    // tombstone snapshot (carried lists still hold dead rows; the
    // snapshot rides at the base's gen so rewritten rows outrank it)
    val dels = ms.filter(_.kind == GenLog.KindDel) ++
      ms.filter(m => m.kind == GenLog.KindBase &&
        f.exists(new Path(s"${idx.path}/tombs/gen=${m.gen}")))
    val resolved =
      if (dels.isEmpty) filtered
      else {
        // ORIGINAL kill gens (explicit tgen in consolidated
        // snapshots, partition gen for plain deletes)
        val t = GenLog.tombstones(spark, idx.path,
            dels.map(m => s"${idx.path}/tombs/gen=${m.gen}"))
          .select(col("id").as("__tid"), col("tgen").as("__tgen"))
        filtered.join(t,
          filtered("id") === t("__tid") && filtered("gen") < t("__tgen"),
          "left_anti")
      }
    resolved.select(cols.map(col): _*)
  }

  /**
   * [[Similarity.binaryTopK]] served from the generational index:
   * Hamming prefilter over the column-pruned (id, bwords) slice of
   * the LIVE generations, exact-cosine rerank through the default
   * distributed semi-join (the r10 serve shape — nothing through the
   * driver). Results identical to the inline path over the live
   * vector set (spec-pinned, and certified through `q_ann_binary`'s
   * oracle when the registered query builds via init + append folds).
   *
   * `filter` (optional) is a METADATA predicate over columns ingested
   * next to (id, vec): it applies on the generation scan itself,
   * BEFORE the Hamming shortlist, so top-k stays full among matching
   * rows — the filtered-serve contract (never post-filter an
   * unfiltered top-k; that silently under-fills k). A predicate
   * referencing a column the index doesn't store fails loudly.
   */
  def binaryTopK(spark: SparkSession, queries: DataFrame, idx: Index,
      cands: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(cands >= k, s"cands $cands must be >= k $k")
    val nWords = idx.dim / 32
    // materialized once: the query frame feeds two broadcast joins
    // (Hamming prefilter + exact rerank) — left lazy, the caller's
    // query subtree re-executes per consumer
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
      Similarity.binaryQuantize(col("vec"), idx.dim).as("qb"),
      Similarity.norm(col("vec")).as("qn"))
      .localCheckpoint()
    val packed = liveVecs(spark, idx, Seq("id", "bwords"),
      preFilter = filter)
    val pre = packed.select(col("id").as("nid"), col("bwords"))
      .join(broadcast(q.select(col("qid"), col("qb"))),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.hammingDist(col("qb"), col("bwords"), nWords).as("ham"))
    val wPre = Window.partitionBy("qid").orderBy(asc("ham"), asc("nid"))
    val shortlist = pre.withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= cands).select("qid", "nid")
    val vecs = liveVecs(spark, idx, Seq("id", "vec", "nrm"),
        preFilter = filter)
      .select(col("id").as("nid"), col("vec").as("nvec"),
        col("nrm").as("cn"))
    val rer = shortlist
      .join(broadcast(q.select(col("qid"), col("qvec"), col("qn"))), "qid")
      .join(vecs, "nid")
      .select(col("qid"), col("nid"),
        round(Similarity.dot(col("qvec"), col("nvec"))
          / (col("qn") * col("cn")), 5).as("cos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }

  /**
   * IVF×binary composed serve — the standard IVF+rescoring production
   * shape: probe `nProbe` clusters per query against the installed
   * codebook (as [[ivfTopK]]), prune the generation scan to the probed
   * `cb` bucket directories at PLANNING time, run the cheap
   * xor+popcount Hamming prefilter over ONLY the probed lists'
   * `(id, bwords)` slice, then the exact-cosine rerank over the
   * shortlist (float read pruned to the same probed buckets). This
   * replaces the one O(corpus × queries) serve shape [[binaryTopK]]
   * carries — per-batch prefilter cost is O(probed lists × queries),
   * sub-linear in corpus size once clusters outnumber probes, while
   * scoring stays the packed binary arithmetic. Recall contract:
   * candidates come from the probed clusters only (the IVF trade) —
   * `nProbe` = codebook size degrades to exactly [[binaryTopK]]
   * (spec-pinned).
   *
   * `filter` (optional): metadata predicate, applied on the probed
   * generation scan BEFORE the Hamming shortlist — within the probed
   * clusters, top-k stays full among matching rows (the filtered-
   * serve contract; see [[binaryTopK]]). Bucket pruning is unchanged:
   * the predicate rides the already-pruned probed-bucket read.
   */
  def binaryTopKProbed(spark: SparkSession, queries: DataFrame, idx: Index,
      nProbe: Int, cands: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(idx.hasIvf, s"index at ${idx.path} has no IVF codebook — " +
      "binaryTopKProbed needs one (use binaryTopK for flat indexes)")
    require(cands >= k, s"cands $cands must be >= k $k")
    val nWords = idx.dim / 32
    // materialized once: the query frame feeds two broadcast joins
    // (Hamming prefilter + exact rerank) — left lazy, the caller's
    // query subtree re-executes per consumer
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
      Similarity.binaryQuantize(col("vec"), idx.dim).as("qb"),
      Similarity.norm(col("vec")).as("qn"))
      .localCheckpoint()
    // one probe pass PER codebook-version group (one group outside a
    // retrain roll): each generation is probed with the codebook its
    // cids were assigned under, never a foreign one
    val parts = cbvGroups(spark, idx).map { case (v, gens) =>
      val cb = centroidBook(spark, idx, v)
      // materialized once — collect + join consumers (see ivfTopK)
      val probes = q.select(col("qid"), col("qb"),
        explode(Similarity.nearestCids(col("qvec"), cb, nProbe)).as("cid"))
        .localCheckpoint()
      // bounded collect: distinct probed cids <= C (codebook contract);
      // their cb values become literal partition filters on BOTH reads.
      // This runs ONE Spark job PER CODEBOOK-VERSION GROUP — exactly 1
      // outside a retrain roll, 2 mid-roll (old + new cbv coexist
      // until the next compact folds them), never more: reencode
      // unifies versions and compact refuses mixed ones.
      val probedCids = probes.select("cid").distinct()
        .collect().map(_.getLong(0))
      val buckets = probedCids
        .map(c => ((c % idx.cbBuckets) + idx.cbBuckets) % idx.cbBuckets)
        .distinct.map(_.toInt)
      val bucketFilter = col("cb").isin(buckets.map(b => b: Any): _*)
      val scanFilter = Some(filter.foldLeft(bucketFilter)(_ && _))
      val lists = liveVecs(spark, idx, Seq("id", "bwords", "cid"),
        preFilter = scanFilter, gens = Some(gens))
      // per query, Hamming over ITS probed lists only (each vector
      // holds one cid in ONE generation, so no (qid, nid) pair
      // appears twice, within or across groups)
      val pre = broadcast(probes).join(lists, "cid")
        .filter(col("qid") =!= col("id"))
        .select(col("qid"), col("id").as("nid"),
          Similarity.hammingDist(col("qb"), col("bwords"), nWords)
            .as("ham"))
      val vecs = liveVecs(spark, idx, Seq("id", "vec", "nrm"),
          preFilter = scanFilter, gens = Some(gens))
        .select(col("id").as("nid"), col("vec").as("nvec"),
          col("nrm").as("cn"))
      (pre, vecs)
    }
    val pre = parts.map(_._1).reduce(_.unionByName(_))
    val wPre = Window.partitionBy("qid").orderBy(asc("ham"), asc("nid"))
    val shortlist = pre.withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= cands).select("qid", "nid")
    val vecs = parts.map(_._2).reduce(_.unionByName(_))
    val rer = shortlist
      .join(broadcast(q.select(col("qid"), col("qvec"), col("qn"))), "qid")
      .join(vecs, "nid")
      .select(col("qid"), col("nid"),
        round(Similarity.dot(col("qvec"), col("nvec"))
          / (col("qn") * col("cn")), 5).as("cos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }

  /**
   * [[Similarity.pqSearch]] served from the generational index: ADC
   * distance lookups over the LIVE generations' code columns — the
   * scan reads only (id, code0..code{m-1}); the float vectors are
   * NEVER read (the compressed-serve contract: at a billion vectors
   * the m-byte codes fit in memory where the floats cannot, and the
   * lifecycle means corpus growth appends code rows instead of
   * re-encoding). Queries are a bounded driver-side batch, as in the
   * inline ADC path.
   */
  def pqTopK(spark: SparkSession,
      queries: Seq[(Long, Seq[Double])], idx: Index, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val groups = cbvGroups(spark, idx)
    val parts = groups.map { case (v, gens) =>
      val (books, subDim) = pqBooks(spark, idx, v)
        .getOrElse(sys.error(s"index at ${idx.path} has no PQ codebooks"))
      val cols = Seq("id") ++ books.indices.map(s => s"code$s")
      // metadata predicate BELOW the ADC shortlist (filtered-serve
      // contract — see binaryTopK)
      Similarity.pqSearch(liveVecs(spark, idx, cols, preFilter = filter,
          gens = Some(gens)),
        books, queries, subDim, k)
    }
    if (parts.size == 1) parts.head
    else {
      // mid-roll: each group's ADC top-k under ITS books, then one
      // global per-query re-rank on the (comparably-rounded) distances
      val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
      parts.reduce(_.unionByName(_)).drop("rk")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
    }
  }

  /**
   * IVFADC served from the generational index — the canonical
   * billion-vector composition (IVF prunes WORK, PQ shrinks MEMORY)
   * with the growth lifecycle: each generation holds euclidean coarse
   * assignments + RESIDUAL ADC codes, serve scans only
   * (ccid, id, code*) of the probed `cb` bucket dirs across live
   * generations, and corpus growth appends code rows. Query-side
   * tables (per-(query, probe) subspace distances on the residual
   * codebooks) are driver arithmetic riding the broadcast probes
   * frame — exactly [[Similarity.ivfPqSearch]]'s contract.
   */
  def ivfPqTopK(spark: SparkSession,
      queries: Seq[(Long, Array[Double])], idx: Index, nProbe: Int,
      k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val parts = cbvGroups(spark, idx).map { case (v, gens) =>
      ivfPqTopKGroup(spark, queries, idx, nProbe, k, v, gens, filter)
    }
    if (parts.size == 1) parts.head
    else {
      val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
      parts.reduce(_.unionByName(_)).drop("rk")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
    }
  }

  /** One codebook-version group's IVFADC serve (see [[ivfPqTopK]]). */
  private def ivfPqTopKGroup(spark: SparkSession,
      queries: Seq[(Long, Array[Double])], idx: Index, nProbe: Int,
      k: Int, v: Int, gens: Seq[Int],
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val coarse = coarseBook(spark, idx, v)
      .getOrElse(sys.error(s"index at ${idx.path} has no coarse codebook"))
    val (books, subDim) = pqBooks(spark, idx, v)
      .getOrElse(sys.error(s"index at ${idx.path} has no PQ codebooks"))
    val m = books.length
    val cn2 = coarse.map(v => v.map(x => x * x).sum)
    val probeRows = queries.flatMap { case (qid, q) =>
      val ranked = coarse.zipWithIndex.map { case (c, ccid) =>
        var dot = 0.0
        var n2 = 0.0
        var j = 0
        while (j < idx.dim) { dot += q(j) * c(j); n2 += q(j) * q(j); j += 1 }
        (graft.functions.NearestCentroids.round5(
          cn2(ccid) - 2 * dot + n2), ccid.toLong)
      }.sorted.take(nProbe)
      ranked.map { case (_, ccid) =>
        val c = coarse(ccid.toInt)
        val tables = (0 until m).map { s =>
          books(s).toSeq.map { cent =>
            var d = 0.0
            var j = 0
            while (j < subDim) {
              val diff = (q(s * subDim + j) - c(s * subDim + j)) - cent(j)
              d += diff * diff
              j += 1
            }
            BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
          }
        }
        (qid, ccid, tables)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ccid",
          org.apache.spark.sql.types.LongType)) ++
      (0 until m).map(s => org.apache.spark.sql.types.StructField(
        s"t$s", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.map { case (qid, ccid, ts) =>
        org.apache.spark.sql.Row.fromSeq(qid +: ccid +: ts)
      }: _*), schema)
    val probedBuckets = probeRows.map(_._2)
      .map(c => (((c % idx.cbBuckets) + idx.cbBuckets) % idx.cbBuckets).toInt)
      .distinct
    val bucketFilter = col("cb").isin(probedBuckets.map(b => b: Any): _*)
    val codes = liveVecs(spark, idx,
      Seq("id", "ccid") ++ (0 until m).map(s => s"code$s"),
      preFilter = Some(filter.foldLeft(bucketFilter)(_ && _)),
      gens = Some(gens))
    Similarity.ivfPqSearch(codes, probes, m, k)
  }

  /**
   * [[Similarity.ivfTopKAssigned]] served from the generational
   * index: probes select nProbe clusters per query against the
   * INSTALLED codebook, the probed cid set (bounded <= C by the
   * codebook contract) collapses to literal `cb` bucket values, and
   * the generation scan PRUNES to those bucket directories at
   * planning time — per-batch read cost is O(probed lists) across
   * all live generations, never a corpus scan.
   *
   * `filter` (optional): metadata predicate over columns ingested
   * next to (id, vec), applied on the probed lists scan BEFORE
   * scoring and ranking — the hybrid `WHERE meta AND ORDER BY cos
   * LIMIT k` shape with k full among matching rows (within the
   * probed clusters — the usual IVF recall trade, unchanged).
   */
  def ivfTopK(spark: SparkSession, queries: DataFrame, idx: Index,
      nProbe: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None,
      carry: Seq[String] = Nil): DataFrame = {
    require(idx.hasIvf, s"index at ${idx.path} has no IVF codebook")
    require(!carry.exists(Set("qid", "nid", "cos", "rk", "id", "cid",
        "vec", "nrm", "cb", "qvec", "qnrm", "gen")),
      s"carry columns collide with the serve's output/working " +
        s"columns: $carry")
    // one probe pass per codebook-version group (see binaryTopKProbed)
    val scored = cbvGroups(spark, idx).map { case (v, gens) =>
      val cb = centroidBook(spark, idx, v)
      // materialized once (|queries| × nProbe rows): consumed by the
      // probed-cid collect AND the candidate join — left lazy, the
      // caller's query subtree (often a parquet read + join) would
      // re-execute per consumer
      val probes = queries
        .select(col("id").as("qid"), col("vec").as("qvec"),
          Similarity.norm(col("vec")).as("qnrm"),
          explode(Similarity.nearestCids(col("vec"), cb, nProbe))
            .as("cid"))
        .localCheckpoint()
      // bounded collect: distinct probed cids <= C (codebook contract);
      // their cb values become literal partition filters
      val probedCids = probes.select("cid").distinct()
        .collect().map(_.getLong(0))
      val buckets = probedCids
        .map(c => ((c % idx.cbBuckets) + idx.cbBuckets) % idx.cbBuckets)
        .distinct.map(_.toInt)
      val bucketFilter = col("cb").isin(buckets.map(b => b: Any): _*)
      val lists = liveVecs(spark, idx,
        Seq("id", "vec", "nrm", "cid") ++ carry,
        preFilter = Some(filter.foldLeft(bucketFilter)(_ && _)),
        gens = Some(gens))
      probes.join(lists, "cid")
        .filter(col("qid") =!= col("id"))
        .select(Seq(col("qid"), col("id").as("nid"),
          round(Similarity.dot(col("qvec"), col("vec"))
            / (col("qnrm") * col("nrm")), 5).as("cos")) ++
          carry.map(col): _*)
    }.reduce(_.unionByName(_))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(Seq(col("qid"), col("nid"), col("cos")) ++
        carry.map(col): _*)
  }

  /** MULTI-VECTOR document ranking (the ColBERT-lite max-sim serve):
    * the index holds PASSAGE/CHUNK embeddings with the parent doc id
    * stored as metadata (`docCol` — any column ingested next to
    * `(id, vec)`); a query retrieves its chunk candidates through the
    * probed [[ivfTopK]] (top-`nChunks`, optional metadata `filter`)
    * and DOCS rank by an aggregate of their retrieved chunks' cosines
    * — `max` (the max-sim rule) or `mean` — to per-query top-`k`.
    * Returns `(qid, <docCol>, score)`.
    *
    * Scale shape: the doc id rides the probed lists scan (`carry` —
    * the rows are being read anyway, no second corpus pass), and the
    * aggregation + rank touch only the ≤ |queries|·nChunks candidate
    * rows in qid-partitioned form. Recall caveat, documented: a doc
    * ranks by the chunks the probe retrieved — a doc whose best chunk
    * missed the probed clusters (or the top-`nChunks` pool) is
    * invisible; deepen `nProbe`/`nChunks` for recall, exactly the IVF
    * trade. */
  def maxSimTopK(spark: SparkSession, queries: DataFrame, idx: Index,
      docCol: String, nProbe: Int, nChunks: Int, k: Int,
      agg: String = "max",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(agg == "max" || agg == "mean",
      s"agg must be 'max' or 'mean', got '$agg'")
    require(nChunks > 0 && k > 0,
      s"nChunks $nChunks and k $k must be > 0")
    val cand = ivfTopK(spark, queries, idx, nProbe, nChunks, filter,
      carry = Seq(docCol))
    val score =
      if (agg == "max") max(col("cos")) else round(avg(col("cos")), 5)
    val w = Window.partitionBy("qid")
      .orderBy(desc("score"), asc(docCol))
    cand.groupBy(col("qid"), col(docCol)).agg(score.as("score"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("qid"), col(docCol), col("score"))
  }
}
