package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - Brute-force cosine top-k: broadcast the (small) query set against
 *   the full corpus — one narrow scan, no shuffle for the scoring pass,
 *   one shuffle for the per-query top-k (TakeOrderedAndProject shape).
 * - LSH-bucketed variant: deterministic arithmetic hyperplanes bucket
 *   vectors by sign pattern; candidates share a bucket. At 100 TB the
 *   bucket join replaces the corpus broadcast — same plan as MinHash
 *   banding in [[Dedup]].
 *
 * All math in double precision via `zip_with`/`aggregate` — codegen'd
 * Catalyst expressions, no UDFs.
 */
object Similarity {

  /** Frames persisted by operators whose internal working set outlives
    * the call (e.g. [[semanticNearDup]]'s cluster assignment, computed
    * by the eager occupancy guard and then read by the pair join and
    * the keeper join). Released by `Queries.clearCache()` at
    * the end of a Verify/Bench run — same lifecycle as the dedup
    * working set. */
  private val retained = scala.collection.mutable.Buffer.empty[DataFrame]

  private[graft] def releaseRetained(): Unit = retained.synchronized {
    retained.foreach(_.unpersist(blocking = false))
    retained.clear()
  }

  /** dot(a, b) in double precision, left-to-right summation — a native
    * codegen'd Catalyst expression ([[graft.functions.DotProduct]]), not
    * an interpreted higher-order function. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column =
    graft.functions.VectorFunctions.l2Norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k neighbors for each query vector.
   * `queries` and `corpus`: (id, vec). Returns (qid, nid, cos) with
   * cos rounded to 5 decimals; ranking by rounded value with id
   * tie-break so results are reproducible across engines.
   */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms computed ONCE per row before the join — Spark's higher-order
    // functions are interpreted (no codegen), so per-pair work must be
    // a single dot product, not dot + two norms.
    val q = queries.withColumn("qn", norm(col("vec")))
    val c = corpus.withColumn("cn", norm(col("vec")))
    val scored = c.as("c").join(broadcast(q.as("q")),
        col("q.id") =!= col("c.id"))
      .select(col("q.id").as("qid"), col("c.id").as("nid"),
        round(dot(col("q.vec"), col("c.vec")) / (col("qn") * col("cn")), 5)
          .as("cos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }

  /** Embedding-cosine near-duplicate pairs (approximate): candidates
    * come from sign-LSH bucket collisions, then exact cosine verifies.
    * There is deliberately NO all-pairs variant — a cartesian self-join
    * has no place in the API at corpus scale; more recall = more planes
    * or multiple hash tables, never brute force. */
  def cosineNearDup(df: DataFrame, threshold: Double,
      nPlanes: Int = 8): DataFrame =
    lshNearDup(df, nPlanes, threshold)

  /**
   * IVF (inverted-file) approximate top-k: the corpus is coarsely
   * quantized to its nearest of C broadcast centroid vectors; each
   * query probes its `nProbe` nearest centroids and scores ONLY those
   * clusters. The scale path when LSH recall is insufficient: cost per
   * query is nProbe/C of the corpus, and the per-cluster inverted lists
   * shuffle once on cid (persist them with [[ivfWriteIndex]] — a
   * cid-bucketed table — to remove even that). Cosines round to 5
   * decimals before every argmax/rank with an
   * id tie-break, so an independent engine reproduces the result
   * exactly.
   *
   * `centroids`: (cid, cvec) — any deterministic coarse codebook; the
   * oracle-checked query uses the first C corpus vectors (k-means would
   * drift between engines).
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    ivfTopKAssigned(queries, ivfAssign(corpus, centroids), centroids,
      nProbe, k)

  /** Collect the coarse codebook to the driver — it is broadcast-small
    * by the IVF contract (C x dim doubles; C <= ~1024). Returns
    * (cid, components-as-double, squared-l2norm), cid-sorted. The
    * squared norm is the same left-to-right double fold `l2Norm`
    * squares. */
  private[pipeline] def collectCodebook(centroids: DataFrame): Seq[(Long, Seq[Double], Double)] = {
    val rows = centroids.select(col("cid"), col("cvec")).collect()
    require(rows.nonEmpty, "empty centroid codebook")
    rows.map { r =>
      val cid = r.get(0).asInstanceOf[Number].longValue
      val vec: Seq[Double] = r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue
      }.toSeq
      var n2 = 0.0
      vec.foreach(x => n2 += x * x)
      (cid, vec, n2)
    }.toSeq.sortBy(_._1)
  }

  /** Top-n nearest-centroid cids of a vector column against a collected
    * codebook — one [[graft.functions.NearestCentroids]] expression (the
    * codebook rides as a plan reference object; generated code size is
    * independent of C and dim). */
  private[pipeline] def nearestCids(vec: Column,
      cb: Seq[(Long, Seq[Double], Double)], nProbe: Int): Column =
    graft.functions.VectorFunctions.nearestCentroids(vec,
      cb.map(_._2.toArray).toArray, cb.map(_._3).toArray,
      cb.map(_._1).toArray, nProbe)

  /**
   * Coarse quantization: every corpus vector labeled with its nearest
   * centroid — the IVF inverted lists as a frame (id, vec, nrm, cid).
   *
   * PURE PROJECTION: one `NearestCentroids` expression per row — no
   * join, no row blowup, no window. The round-2 crossjoin-then-rank
   * shape materialized corpus x C rows through a per-id window (256M
   * rows at 1M x 256 — it did not finish in 11 min on local[32]); a
   * C-literal-column `array_min` projection fixes the dataflow but
   * blows Janino's 64 KB codegen limit at C=256 — the custom expression
   * solves both.
   */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cb = collectCodebook(centroids)
    corpus.withColumn("nrm", norm(col("vec")))
      .withColumn("cid", element_at(nearestCids(col("vec"), cb, 1), 1))
      .select("id", "vec", "nrm", "cid")
  }

  /**
   * Materialize the IVF index AT REST: the assigned inverted lists
   * written as a cid-bucketed, cid-sorted table. Probe joins against
   * `spark.table(name)` then read pre-shuffled lists — no exchange on
   * the corpus side of the probe join (only the tiny probe side moves),
   * which at corpus scale removes the one remaining O(corpus) shuffle
   * per query batch.
   */
  def ivfWriteIndex(corpus: DataFrame, centroids: DataFrame,
      name: String, nBuckets: Int): Unit =
    ivfAssign(corpus, centroids).write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, "cid").sortBy("cid")
      .saveAsTable(name)

  /** IVF top-k over a prepared (possibly bucketed-at-rest) assignment.
    * Probe selection is the same pure projection as [[ivfAssign]]:
    * sort the C rounded-cosine structs per query row, take the first
    * nProbe, explode — no join or window on the query side either. */
  def ivfTopKAssigned(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val cb = collectCodebook(centroids)
    val qN = queries.withColumn("qnrm", norm(col("vec")))
    val probes = qN
      .select(col("id").as("qid"), col("vec").as("qvec"), col("qnrm"),
        explode(nearestCids(col("vec"), cb, nProbe)).as("cid"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    probes.join(assigned, "cid")
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        round(dot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")), 5)
          .as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }

  /**
   * Radius (range) search over the IVF index: every corpus vector in a
   * query's nProbe probed clusters with cosine >= minCos — the
   * threshold-driven retrieval shape (dedup candidate generation,
   * "everything similar enough" filtering) next to [[ivfTopK]]'s
   * k-driven one. Identical probe/score machinery, no rank window:
   * the result size follows the data, and the cosine filter applies
   * BEFORE anything aggregates, so an oversized neighborhood costs
   * only its own rows. Each corpus vector belongs to exactly one
   * inverted list, so no result dedup is needed.
   */
  def ivfRange(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, minCos: Double): DataFrame = {
    val cb = collectCodebook(centroids)
    val qN = queries.withColumn("qnrm", norm(col("vec")))
    val probes = qN
      .select(col("id").as("qid"), col("vec").as("qvec"), col("qnrm"),
        explode(nearestCids(col("vec"), cb, nProbe)).as("cid"))
    probes.join(ivfAssign(corpus, centroids), "cid")
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        round(dot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")), 5)
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /**
   * Deterministic Lloyd k-means over an (id, vec) corpus — the centroid
   * trainer for [[ivfTopK]]'s coarse codebook and the clustering pass a
   * curation pipeline runs over embeddings.
   *
   * Determinism contract (so an independent engine reproduces it bit
   * for bit): init = the k vectors with the smallest ids; per
   * iteration, squared-euclidean distances ROUND to 5 decimals before
   * the argmin (ties -> smallest cid) and new centroid components ROUND
   * to 6 decimals. Assignment is pure codegen (DotProduct + array_min
   * over (d, cid) structs — no UDF); the update is one posexplode +
   * groupBy(cid, i) averaging pass per iteration. Only k x dim doubles
   * ever reach the driver, so iterations scale to any corpus size.
   * Returns long-form centroids (cid, i, v).
   *
   * The k-distance-column assignment shape fits coarse codebooks
   * (k <= ~1024, the IVF regime); a large-k product-quantizer codebook
   * would switch to a broadcast-join assignment against a centroid
   * table — same per-iteration dataflow, different join shape.
   */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    val spark = corpus.sparkSession
    import spark.implicits._
    var cent: Seq[(Int, Seq[Double])] = corpus.filter(col("id") < k)
      .select(col("id").cast("int"), col("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      // assignment via the NearestCentroids expression in euclidean
      // mode (d = |c|^2 - 2<v,c> + |v|^2 rounded to 5, tie -> min cid)
      // — codebook as a plan reference object, so any k codegens
      val assignExpr = graft.functions.VectorFunctions.nearestCentroids(
        col("vec"), cent.map(_._2.toArray).toArray,
        cent.map { case (_, c) => c.map(x => x * x).sum }.toArray,
        cent.map(_._1.toLong).toArray, 1, euclidean = true)
      // persist = hard optimizer barrier: the O(k*dim) assignment is
      // evaluated ONCE per row, never collapsed into the post-explode
      // projection (where it would re-run per vector COMPONENT)
      val assigned = corpus.select(col("vec"),
        element_at(assignExpr, 1).as("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val updated = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("i", "v")))
        .groupBy("cid", "i")
        .agg(round(avg(col("v").cast("double")), 6).as("v"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
      assigned.unpersist(blocking = false)
      cent = cent.map { case (cid, prev) =>
        // a cluster that captured no points keeps its centroid
        updated.get(cid) match {
          case Some(rows) => (cid, rows.sortBy(_._2).map(_._3).toSeq)
          case None => (cid, prev)
        }
      }
    }
    cent.flatMap { case (cid, c) =>
      c.zipWithIndex.map { case (v, i) => (cid, i, v) }
    }.toDF("cid", "i", "v").orderBy("cid", "i")
  }

  /**
   * Product-quantization (PQ) training: `m` INDEPENDENT per-subspace
   * deterministic k-means codebooks over equal `subDim` slices of the
   * vector — the memory-compression path for billion-vector ANN (a
   * 64-float vector becomes m small codes; with k<=256 that is m
   * bytes, a 64x shrink, searchable without touching the floats).
   * Training cost: m Lloyd runs over SLICED columns (each a narrow
   * projection of the same scan). Returns cid-ordered codebooks.
   */
  def pqTrainCodebooks(corpus: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, initFrom: Long = 0L): Seq[Array[Array[Double]]] = {
    // init: slices of the k vectors with id in [initFrom, initFrom+k)
    // (cid = rank by id, matching the position-indexed codebooks).
    // initFrom matters when the corpus is residuals: the vectors that
    // ARE the coarse centroids have all-zero residuals, so IVF-PQ
    // seeds past them. Element reads go through Number — the corpus
    // may be raw float embeddings or double residual projections.
    var books: IndexedSeq[Array[Array[Double]]] = {
      val rows = corpus
        .filter(col("id") >= initFrom && col("id") < initFrom + k)
        .select(col("id"), col("vec")).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Number](1).map(_.doubleValue())))
        .sortBy(_._1)
      (0 until m).map { s =>
        rows.map { case (_, v) =>
          v.slice(s * subDim, (s + 1) * subDim).toArray }
      }
    }
    // each Lloyd iteration touches the corpus ONCE for all m subspaces:
    // the m assignments are independent NearestCentroids columns of the
    // same narrow projection, and the component averages group by
    // (subspace, cid, local index) in a single partial-agg shuffle —
    // identical math/rounding to m separate runs, 1/m the scans
    for (_ <- 0 until iters) {
      val cidCols = books.zipWithIndex.map { case (book, s) =>
        element_at(graft.functions.VectorFunctions.nearestCentroids(
          slice(col("vec"), s * subDim + 1, subDim), book,
          book.map(_.map(x => x * x).sum),
          book.indices.map(_.toLong).toArray, 1, euclidean = true), 1)
      }
      val sCol = (col("i") / subDim).cast("int")
      // persist = hard optimizer barrier (see kmeansCentroids): without
      // it the m O(k*subDim) assignments collapse into the post-explode
      // projection and re-run per vector COMPONENT — measured 30x at
      // 1M x 64, k=256
      val assigned = corpus
        .select(array(cidCols: _*).as("cids"), col("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val updated = assigned
        .select(col("cids"), posexplode(col("vec")).as(Seq("i", "v")))
        .select(sCol.as("s"), element_at(col("cids"), sCol + 1).as("cid"),
          (col("i") % subDim).as("li"), col("v"))
        .groupBy("s", "cid", "li")
        .agg(round(avg(col("v").cast("double")), 6).as("v"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt, r.getInt(2), r.getDouble(3)))
      assigned.unpersist(blocking = false)
      val byS = updated.groupBy(_._1)
      books = (0 until m).map { s =>
        val upd = byS.getOrElse(s, Array.empty).groupBy(_._2)
        books(s).zipWithIndex.map { case (prevCent, cid) =>
          upd.get(cid) match {
            case Some(rows) => rows.sortBy(_._3).map(_._4)
            case None => prevCent // empty cluster keeps its centroid
          }
        }
      }
    }
    books
  }

  /**
   * PQ encode: compress every vector to its m nearest-subspace-centroid
   * codes in ONE narrow codegen'd projection (m [[graft.functions.NearestCentroids]]
   * expressions over slices — no join, no shuffle; the codebooks ride
   * in the plan as reference objects). Distances follow the engine's
   * determinism contract: squared euclidean rounded to 5, ties to the
   * smallest cid. Output: (id, code0..code{m-1}).
   */
  def pqEncode(corpus: DataFrame, books: Seq[Array[Array[Double]]],
      subDim: Int, extra: Seq[String] = Nil): DataFrame = {
    val codes = books.zipWithIndex.map { case (book, s) =>
      element_at(graft.functions.VectorFunctions.nearestCentroids(
        slice(col("vec"), s * subDim + 1, subDim), book,
        book.map(_.map(x => x * x).sum),
        book.indices.map(_.toLong).toArray, 1, euclidean = true), 1)
        .as(s"code$s")
    }
    corpus.select((col("id") +: extra.map(col)) ++ codes: _*)
  }

  /**
   * Asymmetric-distance (ADC) PQ search: each query precomputes its
   * m x k table of exact subspace distances to the codebooks (driver
   * arithmetic — m*k*subDim flops, microseconds), then every corpus
   * vector's approximate distance is m TABLE LOOKUPS on its codes —
   * a pure projection over the (id, codes) table; the floats are never
   * read again. Per-query top-k via a qid-partitioned window. Subspace
   * distances round to 6 before the fixed-order total (rounded to 5,
   * ties to the smaller id) so an independent engine reproduces the
   * ranking exactly.
   */
  def pqSearch(codes: DataFrame, books: Seq[Array[Array[Double]]],
      queries: Seq[(Long, Seq[Double])], subDim: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    // ALL queries' distances in a single corpus scan: each query's
    // m×k subspace-distance table (entries pre-rounded to 6, the
    // oracle contract) rides as ONE plan reference object inside the
    // native [[graft.functions.AdcDistances]] kernel — per-query
    // literal arrays would inline Q×m×k doubles into generated code
    // and blow Janino's method limit at realistic codebooks (Q=500,
    // m=8, k=256 did). Distances are m table lookups per (row, query);
    // the floats are never read.
    val m = books.length
    val kCodes = books.head.length
    val tables: Array[Array[Double]] = queries.map { case (_, qvec) =>
      val flat = new Array[Double](m * kCodes)
      books.indices.foreach { s =>
        books(s).indices.foreach { c =>
          val cent = books(s)(c)
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val diff = qvec(s * subDim + i) - cent(i)
            d += diff * diff
            i += 1
          }
          flat(s * kCodes + c) = BigDecimal(d)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      flat
    }.toArray
    val qids = queries.map(_._1)
    val scored = codes
      .select(col("id").as("vec_id"),
        posexplode(graft.functions.VectorFunctions.adcDistances(
          array((0 until m).map(s => col(s"code$s").cast("long")): _*),
          tables, kCodes)).as(Seq("qi", "d")))
      .select(element_at(typedlit(qids), col("qi") + 1).as("qid"),
        col("vec_id"), col("d"))
    val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("qid", "vec_id", "d", "rk")
  }

  /**
   * IVF-PQ (IVFADC) search — the canonical billion-vector composition:
   * IVF prunes WORK (candidates come only from each query's probed
   * coarse clusters), PQ shrinks MEMORY (distances are ADC lookups on
   * RESIDUAL codes; the floats are never read). The per-(query, probe)
   * subspace distance tables ride IN the probes frame as array columns
   * — the broadcast-join payload (Q x nProbe rows) — so scoring is a
   * pure projection over the ccid-keyed codes table, then one
   * per-query top-k. `codes`: (id, ccid, code0..code{m-1});
   * `probes`: (qid, ccid, t0..t{m-1}: array<double>).
   */
  def ivfPqSearch(codes: DataFrame, probes: DataFrame, m: Int,
      k: Int): DataFrame = {
    val dist = round((0 until m).map(s =>
      element_at(col(s"t$s"), col(s"code$s").cast("int") + 1))
      .reduce(_ + _), 6)
    val scored = codes.join(broadcast(probes), "ccid")
      .select(col("qid"), col("id").as("vec_id"), dist.as("d"))
    val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("qid", "vec_id", "d", "rk")
  }

  /**
   * Semantic (embedding-cluster) deduplication, SemDeDup-style: the
   * corpus is partitioned by nearest trained centroid ([[ivfAssign]] —
   * a pure projection), near-duplicate pairs are scored ONLY within a
   * cluster (exact cosine, rounded to 5, >= `threshold`), and every
   * vector is labeled with its keeper = min(own id, smallest
   * near-duplicate partner id). The cluster key makes the self-join
   * cost follow cluster occupancy — the IVF topology reused for dedup;
   * at corpus scale the assignment is a narrow scan and the only
   * shuffle is the per-cluster join.
   *
   * OCCUPANCY GUARD: the self-join is quadratic in cluster size, so an
   * undersized codebook (too few centroids for the corpus) makes it go
   * quietly quadratic — own stress run: k=256 at 1M vectors is ~2B
   * pairs and does not finish. A cheap pre-join aggregate (O(C) rows)
   * fails loudly when any cluster exceeds `maxClusterSize`; the fix is
   * a larger codebook, or a deliberate raise of the knob.
   * Returns (id, keeper); keeper != id marks a semantic duplicate.
   */
  def semanticNearDup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, maxClusterSize: Long = 100000L): DataFrame = {
    // the assignment feeds the guard, both pair-join sides, and the
    // keeper join — persist so the guard's (already eager) action
    // computes it ONCE; released via releaseRetained/clearCache
    val assigned = ivfAssign(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    retained.synchronized {
      // one live working set at a time: a long-lived session (Verify
      // never calls clearCache between queries) must not accumulate one
      // MEMORY_AND_DISK cache per call — the superseded frame's
      // consumers just recompute if re-read, correctness unaffected
      retained.foreach(_.unpersist(blocking = false))
      retained.clear()
      retained += assigned
    }
    val over = assigned.groupBy("cid").count()
      .filter(col("count") > maxClusterSize)
      .agg(count("*").as("n"), max("count").as("mx")).head
    if (over.getLong(0) > 0) {
      throw new IllegalArgumentException(
        s"semanticNearDup: ${over.getLong(0)} cluster(s) exceed " +
          s"maxClusterSize=$maxClusterSize (largest holds ${over.getLong(1)} " +
          "vectors); the per-cluster self-join is quadratic in occupancy — " +
          "train a larger codebook (more centroids) or raise maxClusterSize " +
          "deliberately")
    }
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        round(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 5)
          .as("cos"))
      .filter(col("cos") >= threshold)
    val partner = pairs.groupBy(col("idb").as("id"))
      .agg(min(col("ida")).as("partner"))
    assigned.select(col("id"))
      .join(partner, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("partner"), col("id"))).as("keeper"))
  }

  /**
   * Sign-LSH bucket key: for each of `nPlanes` deterministic
   * pseudo-hyperplanes (component j of plane i =
   * ((a_i * (j+1) + b_i) mod 97 - 48) / 48 in [-1, 1]), the sign bit of
   * dot(plane, vec); key = packed bits.
   */
  def lshBucket(vec: Column, nPlanes: Int): Column =
    lshBucketOffset(vec, nPlanes, 0)

  /** Bucket key over planes [offset, offset + nPlanes) — ONE codegen'd
    * [[graft.functions.PlaneSigns]] pass over the vector for all
    * planes (the per-plane `zip_with`+`aggregate` shape re-walked the
    * vector through interpreted lambda frames once per plane — the
    * documented interpreted-HOF pitfall, now gone from the last hot
    * loop that had it). */
  def lshBucketOffset(vec: Column, nPlanes: Int, offset: Int): Column =
    graft.functions.VectorFunctions.planeSigns(vec,
      Dedup.MinhashA.slice(offset, offset + nPlanes),
      Dedup.MinhashB.slice(offset, offset + nPlanes))

  /**
   * Multi-table sign-LSH near-dup: `nTables` independent hash tables of
   * `planesPerTable` hyperplanes each (table t uses plane indices
   * t*planesPerTable ...); a pair is a candidate if it collides in ANY
   * table. The recall knob: P(candidate) = 1 - (1 - p^b)^T for
   * per-plane agreement p — more tables buy recall at linear candidate
   * cost, never a cartesian. Requires
   * nTables * planesPerTable <= 16 (the deterministic plane family).
   */
  def lshNearDupMulti(df: DataFrame, nTables: Int, planesPerTable: Int,
      threshold: Double): DataFrame = {
    require(nTables * planesPerTable <= Dedup.MinhashA.length,
      s"need nTables*planesPerTable <= ${Dedup.MinhashA.length}")
    val tableCols = (0 until nTables).map { t =>
      struct(lit(t).as("table"),
        lshBucketOffset(col("vec"), planesPerTable, t * planesPerTable)
          .as("bucket"))
    }
    val bucketed = df
      .withColumn("nrm", norm(col("vec")))
      .select(col("id"), col("vec"), col("nrm"),
        explode(array(tableCols: _*)).as("tb"))
      .select(col("id"), col("vec"), col("nrm"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        round(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 5)
          .as("cos"))
      .distinct()
      .filter(col("cos") >= threshold)
  }

  /**
   * LSH-bucketed approximate near-neighbor pairs: only pairs sharing a
   * bucket are scored. The scale path — the self-join key is the bucket,
   * so cost follows bucket occupancy, not corpus^2.
   */
  def lshNearDup(df: DataFrame, nPlanes: Int, threshold: Double): DataFrame = {
    val bucketed = df
      .withColumn("bucket", lshBucket(col("vec"), nPlanes))
      .withColumn("nrm", norm(col("vec")))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        round(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 5)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Pack a float vector's SIGN BITS into dim/32 longs of 32 bits
    * each — 1-bit binary quantization, the Lucene/BBQ-style serving
    * compression (32× smaller than float32, Hamming distance via
    * xor + popcount). 32-bit words, not 64: every word is a sum of
    * distinct powers < 2^32, exact in plain BIGINT arithmetic on
    * both the engine and a SQL oracle (a 64-bit word's top bit is
    * the sign bit — summing it overflows). Static per-bit terms, no
    * interpreted higher-order lambda — the whole projection
    * codegens. */
  def binaryQuantize(vec: Column, dim: Int): Column = {
    require(dim > 0 && dim % 32 == 0,
      s"dim $dim must be a positive multiple of 32")
    array((0 until dim / 32).map { w =>
      (0 until 32).map { b =>
        when(element_at(vec, w * 32 + b + 1) > 0f, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between two packed sign-bit arrays — a static
    * xor + bit_count chain over the words (codegen'd, no lambda). */
  def hammingDist(a: Column, b: Column, nWords: Int): Column =
    (0 until nWords).map { w =>
      call_function("bit_count",
        element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1))).cast("long")
    }.reduce(_ + _)

  /**
   * Binary-quantized ANN: a Hamming PREFILTER over packed sign bits
   * narrows each query to `cands` candidates (deterministic:
   * hamming asc, id asc), then an EXACT cosine rerank of only those
   * candidates returns the top k. The scale shape: the prefilter
   * scan touches dim/32 longs per corpus vector instead of dim
   * floats (32× less memory traffic, xor+popcount per word instead
   * of multiply-add per float), and the float vectors are read only
   * for `cands` rows per query — at a billion vectors the packed
   * index fits where the float corpus cannot. Recall is governed by
   * `cands` (the usual BBQ/IVF oversampling knob).
   */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
      cands: Int, k: Int): DataFrame = {
    require(cands >= k, s"cands $cands must be >= k $k")
    val nWords = dim / 32
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
      binaryQuantize(col("vec"), dim).as("qb"), norm(col("vec")).as("qn"))
    val c = corpus.select(col("id").as("nid"), col("vec").as("nvec"),
      binaryQuantize(col("vec"), dim).as("cb"), norm(col("vec")).as("cn"))
    // prefilter: packed words only — the float vectors stay unread
    val pre = c.select(col("nid"), col("cb"))
      .join(broadcast(q.select(col("qid"), col("qb"))),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        hammingDist(col("qb"), col("cb"), nWords).as("ham"))
    val wPre = Window.partitionBy("qid").orderBy(asc("ham"), asc("nid"))
    val shortlist = pre.withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= cands).select("qid", "nid")
    // exact rerank: float vectors for <= cands rows per query
    val rer = shortlist
      .join(broadcast(q.select(col("qid"), col("qvec"), col("qn"))), "qid")
      .join(c.select(col("nid"), col("nvec"), col("cn")), "nid")
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qn") * col("cn")), 5)
          .as("cos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }

  /** Persist the binary index AT REST: (id, vec, bwords) parquet at
    * `path`. The packed column rides NEXT TO the float vectors in the
    * same files — parquet column pruning is what makes the serve
    * path's prefilter scan read only (id, bwords), never the floats
    * (spec-asserted via ReadSchema). */
  def binaryIndexWrite(corpus: DataFrame, dim: Int, path: String): Unit =
    corpus.select(col("id"), col("vec"),
        binaryQuantize(col("vec"), dim).as("bwords"))
      .write.mode("overwrite").parquet(path)

  /**
   * Serve [[binaryTopK]] from a persisted [[binaryIndexWrite]] index:
   * the Hamming prefilter scans ONLY the (id, bwords) columns
   * (column-pruned parquet read — the 32×-smaller slice of the index
   * files); the exact-cosine rerank then reads the float vectors.
   *
   * Two rerank shapes, identical results (spec-pinned):
   *  - DEFAULT (`idPushdown = false`, the scale path): the shortlist
   *    STAYS a DataFrame and semi-joins the float columns — a plain
   *    nid-keyed shuffle join, fully planned, nothing through the
   *    driver. An offline scoring run (10⁵ queries × 10² cands) is a
   *    50M-row distributed join, not a 50M-row driver round-trip.
   *  - `idPushdown = true` (small-batch fast path): collect the
   *    shortlist and replay it as an `id IN (…)` parquet pushdown —
   *    row-group pruning skips the float row groups with no
   *    candidate, the win when |queries| × cands is tiny (an online
   *    serving batch) and the corpus is large. The collect is bounded
   *    at cands × |queries| rows by construction — the caller opts in
   *    to that bound being small.
   */
  def binaryTopKAtRest(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, indexPath: String, dim: Int,
      cands: Int, k: Int, idPushdown: Boolean = false): DataFrame = {
    require(cands >= k, s"cands $cands must be >= k $k")
    val nWords = dim / 32
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
      binaryQuantize(col("vec"), dim).as("qb"), norm(col("vec")).as("qn"))
    // ONE reader for both slices — schema inference reads footers once;
    // column pruning still splits the physical scans (packed vs float)
    val index = spark.read.parquet(indexPath)
    val packed = index.select("id", "bwords")
    val pre = packed.select(col("id").as("nid"), col("bwords"))
      .join(broadcast(q.select(col("qid"), col("qb"))),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        hammingDist(col("qb"), col("bwords"), nWords).as("ham"))
    val wPre = Window.partitionBy("qid").orderBy(asc("ham"), asc("nid"))
    val shortlistDf = pre.withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= cands).select("qid", "nid")
    val (pairs, vecs) =
      if (idPushdown) {
        val shortlist = shortlistDf.collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val ids = shortlist.map(_._2).distinct.toSeq
        (spark.createDataFrame(shortlist.toSeq).toDF("qid", "nid"),
          index.select(col("id").as("nid"), col("vec").as("nvec"))
            .filter(col("nid").isin(ids: _*)))
      } else
        (shortlistDf,
          index.select(col("id").as("nid"), col("vec").as("nvec")))
    val rer = pairs
      .join(broadcast(q.select(col("qid"), col("qvec"), col("qn"))), "qid")
      .join(vecs.withColumn("cn", norm(col("nvec"))), "nid")
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qn") * col("cn")), 5)
          .as("cos"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos")
  }
}
