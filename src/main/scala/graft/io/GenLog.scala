package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, max}

/**
 * The GENERATION LOG — the commit machinery behind every growing
 * at-rest index here ([[graft.pipeline.Search]] since r8, the vector
 * indexes since r10): an index directory is a log of generations,
 * committed the Iceberg way — the marker file IS the commit.
 *
 *  - a writer CLAIMS the next generation number with an atomic
 *    put-if-absent claim file (routed through the session's pluggable
 *    [[LogStore]], so object-store deployments swap the CAS),
 *  - writes its data under `<dataDir>/gen=N`,
 *  - PUBLISHES by atomically writing `commits/N` carrying the
 *    generation's kind and exact stats delta. A crash at any point
 *    leaves either an invisible orphan (no marker — swept by
 *    [[vacuum]]) or a complete generation; there is no torn window;
 *  - `base` generations are compaction floors: readers see the newest
 *    base and everything after it ([[liveMetas]]); [[vacuum]]
 *    reclaims below.
 *
 * STRUCTURAL commits (a compaction's new base, a delete's tombstone
 * snapshot) must call [[requireNoInflightBelow]]: an append that
 * claimed a lower slot but has not published could otherwise land
 * below the new base (invisible forever, then vacuumed — silent
 * loss) or below a tombstone snapshot that would wrongly kill it.
 *
 * Marker payload is `kind \t a \t b \t n` — three numeric fields the
 * owning format interprets (Search: doc count / token-length sum /
 * bucket count; vector index: vector count / dim / centroid count).
 * Keeping them in the marker makes corpus constants exact integer
 * sums over the read set, never a read-modify-write stats file.
 */
object GenLog {

  /** One committed generation's marker payload. `fold` (base markers
    * only) is the max streaming batch id whose UNSCOPED `seg@<id>`
    * generation this base subsumed — the exactly-once guard survives
    * compaction reclaiming the per-batch markers. `folds` is the same
    * watermark PER INGEST ID for scoped `seg@<ingestId>@<id>`
    * generations (see [[segBatch]]): Structured Streaming batch ids
    * restart at 0 for every new checkpoint location, so one global
    * watermark would silently skip a fresh ingest's early batches —
    * each (checkpoint-stable) ingest id carries its own. `cbv` is the
    * codebook version the generation was encoded under (vector
    * indexes; 0 = the init codebook). `dead` (base markers only) is
    * the row count of the base's consolidated tombstone snapshot —
    * an UPPER BOUND on the dead rows its carried data still hides
    * (the vector fold's dirty-cluster rewrite purges some of them
    * physically, but tombstones are id-addressed, so the snapshot
    * cannot tell which cluster a purge covered). Pre-r15 markers
    * parse as 0 — today's behavior. */
  final case class Meta(gen: Int, kind: String, a: Long, b: Long, n: Int,
      fold: Long = -1L, cbv: Int = 0,
      folds: Map[String, Long] = Map.empty, dead: Long = 0L)

  val KindSeg = "seg"
  val KindDel = "del"
  val KindBase = "base"

  /** The batch-marker kind for streaming ingest: `seg@<batchId>` when
    * the caller gave no ingest id (single-ingest legacy shape), else
    * `seg@<ingestId>@<batchId>`. The ingest id must be stable across
    * restarts of the same logical ingest (the streaming query id, or
    * its checkpoint location) and distinct across ingests. */
  def segKind(batchId: Long, ingestId: String = ""): String = {
    require(!ingestId.contains('\t') && !ingestId.contains('\n'),
      "ingestId may not contain tabs/newlines")
    if (ingestId.isEmpty) s"$KindSeg@$batchId"
    else s"$KindSeg@$ingestId@$batchId"
  }

  /** The (ingestId, batchId) a seg marker kind carries; ingestId = ""
    * for the unscoped legacy shape. Parsed from the RIGHT so ingest
    * ids containing '@' stay unambiguous. */
  def segBatch(kind: String): Option[(String, Long)] =
    if (!kind.startsWith(KindSeg + "@")) None
    else {
      val rest = kind.stripPrefix(KindSeg + "@")
      val cut = rest.lastIndexOf('@')
      val (id, b) =
        if (cut < 0) ("", rest) else (rest.take(cut), rest.drop(cut + 1))
      b.toLongOption.map((id, _))
    }

  /** The streaming batch id an UNSCOPED `seg@<id>` marker kind
    * carries (scoped markers return None here — use [[segBatch]]). */
  def batchIdOf(kind: String): Option[Long] =
    segBatch(kind).collect { case ("", b) => b }

  /** Max streaming batch id folded into the read set, PER INGEST ID —
    * per-batch seg markers plus every base's recorded watermarks.
    * Within one ingest, batch ids are strictly increasing, so a single
    * watermark per id subsumes its reclaimed per-batch markers. */
  def foldedBatchMaxes(ms: Seq[Meta]): Map[String, Long] = {
    val entries =
      ms.flatMap(m => segBatch(m.kind)) ++
        ms.filter(_.kind == KindBase).flatMap(m =>
          (if (m.fold >= 0) Seq(("", m.fold)) else Nil) ++ m.folds.toSeq)
    entries.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).max }
  }

  /** Legacy single-ingest watermark (ingest id ""). */
  def foldedBatchMax(ms: Seq[Meta]): Long =
    foldedBatchMaxes(ms).getOrElse("", -1L)

  /** Whether streaming batch `batchId` OF INGEST `ingestId` is already
    * committed — either its own seg marker is present, or a base
    * folded it and carries a covering watermark FOR THAT INGEST. This
    * is what makes `appendBatch` idempotent ACROSS maintenance: a
    * batch re-delivered after compact+vacuum reclaimed its marker
    * (crash between the foreachBatch publish and the checkpoint
    * commit, then maintenance before restart) is still recognized and
    * skipped — while a NEW ingest (fresh checkpoint, ids restarting at
    * 0) under its own ingest id is never mistaken for a replay. */
  def batchApplied(ms: Seq[Meta], batchId: Long,
      ingestId: String = ""): Boolean =
    ms.exists(_.kind == segKind(batchId, ingestId)) ||
      foldedBatchMaxes(ms).getOrElse(ingestId, -1L) >= batchId

  def commitsDir(path: String): Path = new Path(path, "commits")

  /** File-status signature of a directory: file count, total bytes,
    * newest mtime, and the sorted name list's hash — so a rewrite that
    * keeps count, bytes and mtime but changes the file set still
    * changes it. Driver-side metadata read only. */
  def dirSig(f: FileSystem, dir: Path): String = {
    val sts = f.listStatus(dir)
    sts.length.toString + ":" + sts.map(_.getLen).sum + ":" +
      (if (sts.isEmpty) 0L else sts.map(_.getModificationTime).max) +
      ":" + sts.map(_.getPath.getName).sorted.mkString(",").hashCode
  }

  /** [[dirSig]] of the commit-marker dir ("none" before the first
    * commit) — changes whenever the committed generation set changes. */
  def commitsSig(f: FileSystem, path: String): String = {
    val dir = commitsDir(path)
    if (!f.exists(dir)) "none" else dirSig(f, dir)
  }

  // ---------- carry manifests (incremental compaction) ----------

  /** An INCREMENTAL base generation rewrites only the partition dirs
    * its deltas touched and CARRIES the clean ones by reference: a
    * `_CARRY.tsv` manifest inside the base's data dir lists
    * `<partDirName>\t<absolute dir path>` lines. Carried entries stay
    * addressed at their CURRENT home (a chain of incremental bases
    * copies the address forward — no transitive manifest walk), the
    * same contract as [[Versioned]]'s manifest-carrying checkpoints.
    * Readers resolve a generation through [[genPaths]]; [[vacuum]]
    * keeps any dir the newest base still references. */
  val CarryFile = "_CARRY.tsv"

  private def carryPath(path: String, dataDir: String, g: Int): Path =
    new Path(s"$path/$dataDir/gen=$g", CarryFile)

  /** The base's own `k=v` partition subdirs (manifest/marker files
    * excluded). */
  private def ownParts(f: FileSystem, dir: Path): Seq[Path] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains('='))
      .map(_.getPath)

  /** Carry-manifest entries of generation `g` (empty = none/absent):
    * (partDirName, absolute dir path) pairs — a bucket may carry
    * SEVERAL paths (LSM-style seg-merge folds leave the previous
    * base's dir next to the merged delta dir; readers union them). */
  def carryEntries(spark: SparkSession, f: FileSystem, path: String,
      dataDir: String, g: Int): Seq[(String, String)] = {
    val p = carryPath(path, dataDir, g)
    if (!f.exists(p)) Nil
    else LogStore.forSession(spark).readSmall(f, p)
      .split('\n').filter(_.nonEmpty).toSeq.map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      }
  }

  /** Publish the carry manifest for an incremental base (atomic; must
    * land BEFORE the generation's commit marker — the marker is the
    * commit point, so a crash in between leaves an invisible orphan). */
  def writeCarry(spark: SparkSession, f: FileSystem, path: String,
      dataDir: String, g: Int, entries: Seq[(String, String)]): Unit = {
    f.mkdirs(new Path(s"$path/$dataDir/gen=$g"))
    LogStore.forSession(spark).writeAtomic(f, carryPath(path, dataDir, g),
      entries.distinct.sorted.map { case (k, v) => s"$k\t$v" }
        .mkString("", "\n", "\n"))
  }

  /** The EFFECTIVE partition-dir map of generation `g`: every live
    * path per partition name — its own part dirs PLUS manifest-
    * carried references (they COMPLEMENT each other: a base-merge
    * fold simply does not carry the paths its rewrite subsumed, a
    * seg-merge fold carries the previous base's dir next to its own
    * merged-delta dir). What the next incremental base folds from and
    * copies forward. */
  def effectiveParts(spark: SparkSession, f: FileSystem, path: String,
      dataDir: String, g: Int): Map[String, Seq[String]] =
    (carryEntries(spark, f, path, dataDir, g) ++
      ownParts(f, new Path(s"$path/$dataDir/gen=$g"))
        .map(p => p.getName -> f.makeQualified(p).toString))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).distinct }

  /** Carry-aware read paths for generation `g` under `dataDir`: the
    * gen dir itself when no manifest exists (every non-incremental
    * generation — one path, zero extra listings), else its own part
    * dirs plus the carried refs. All paths stay under the same
    * `<path>/<dataDir>` basePath root, so partition-column parsing
    * (gen, and the bucket column) keeps working — carried rows keep
    * their ORIGINAL gen value, which is exactly what the gen-aware
    * tombstone anti-join needs. */
  def genPaths(spark: SparkSession, f: FileSystem, path: String,
      dataDir: String, g: Int): Seq[String] = {
    val dir = new Path(s"$path/$dataDir/gen=$g")
    if (!f.exists(carryPath(path, dataDir, g))) Seq(dir.toString)
    else effectiveParts(spark, f, path, dataDir, g)
      .values.flatten.toSeq.distinct.sorted
  }

  /** Committed generation metas, ascending by generation. */
  def metas(spark: SparkSession, f: FileSystem, path: String): Seq[Meta] = {
    val dir = commitsDir(path)
    if (!f.exists(dir)) return Nil
    val store = LogStore.forSession(spark)
    f.listStatus(dir).toSeq
      .filter(s => !s.isDirectory && !s.getPath.getName.startsWith("."))
      .map { s =>
        val cols = store.readSmall(f, s.getPath).trim.split("\t")
        Meta(s.getPath.getName.toInt, cols(0), cols(1).toLong,
          cols(2).toLong, cols(3).toInt,
          if (cols.length > 4) cols(4).toLong else -1L,
          if (cols.length > 5) cols(5).toInt else 0,
          if (cols.length > 6) parseFolds(cols(6)) else Map.empty,
          if (cols.length > 7) cols(7).toLong else 0L)
      }
      .sortBy(_.gen)
  }

  /** Metas at or above the newest base generation — the read set. */
  def liveMetas(spark: SparkSession, f: FileSystem,
      path: String): Seq[Meta] = {
    val ms = metas(spark, f, path)
    require(ms.nonEmpty, s"no committed index generations at $path")
    val base = ms.filter(_.kind == KindBase).map(_.gen)
      .maxOption.getOrElse(ms.head.gen)
    ms.filter(_.gen >= base)
  }

  /** Thresholds for the index auto-maintenance policy
    * ([[maintainPlan]]). */
  final case class MaintainConfig(
      /** Fold once this many data-carrying generations sit above the
        * newest base. */
      deltaGens: Int = 8,
      /** FULL compact instead once the tombstoned-doc mass reaches
        * this fraction of the live docs — incremental folds hide dead
        * rows behind the consolidated tombstone snapshot but never
        * purge all their bytes; a delete-heavy window is when the
        * purge pays. The mass counted is the raw deletes ABOVE the
        * base PLUS the base marker's `dead` stamp (the consolidated
        * snapshot's row count, recorded at fold time since r15) — so
        * dead mass accumulated across MANY low-delete folds still
        * trips the purge eventually, without any data scan. */
      purgeFrac: Double = 0.2)

  /** The auto-maintenance DECISION for a generation-log index, from
    * its committed metas alone (no data scan): `"full"` (compact),
    * `"fold"` (compactIncremental), or `"noop"`. Shared by the text
    * and vector faces — the log format is the same; the EXECUTION
    * lives with each kind ([[graft.pipeline.Search.maintain]],
    * [[graft.pipeline.VecIndex.maintain]]). */
  def maintainPlan(spark: SparkSession, f: FileSystem, path: String,
      cfg: MaintainConfig = MaintainConfig()): String = {
    val ms = metas(spark, f, path)
    if (ms.isEmpty) return "noop"
    val baseGen = ms.filter(_.kind == KindBase).map(_.gen)
      .maxOption.getOrElse(ms.head.gen)
    val above = ms.filter(_.gen > baseGen)
    val liveDocs = math.max(ms.filter(_.gen >= baseGen).map(_.a).sum, 1L)
    val baseDead = ms.find(m => m.gen == baseGen && m.kind == KindBase)
      .map(_.dead).getOrElse(0L)
    val tombed = baseDead - above.filter(_.kind == KindDel).map(_.a).sum
    if (tombed.toDouble / liveDocs >= cfg.purgeFrac) "full"
    else if (above.size >= cfg.deltaGens) "fold"
    else "noop"
  }

  /** Tombstone view over the given `tombs/gen=*` dirs: (id, tgen),
    * where `tgen` is the ORIGINAL kill generation — the explicit
    * `tgen` column when present (consolidated snapshots written by
    * incremental folds), else the dir's own gen partition value
    * (plain delete generations). Every gen-aware anti-join must
    * compare against THIS, not the raw partition gen: a consolidated
    * snapshot re-stamped at its base's gen would kill a deleted-then-
    * REINGESTED row whose live copy was merged at an earlier fold. */
  def tombstones(spark: SparkSession, path: String,
      dirs: Seq[String]): DataFrame = {
    val raw = spark.read.option("basePath", s"$path/tombs")
      .option("mergeSchema", "true").parquet(dirs: _*)
    val tg = if (raw.columns.contains("tgen"))
      coalesce(col("tgen"), col("gen")) else col("gen")
    raw.select(col("id"), tg.cast("int").as("tgen"))
  }

  /** Write the consolidated tombstone snapshot for a new incremental
    * base at gen `g`, PRESERVING each id's original (newest) kill
    * generation in the `tgen` column. No-op when none of `gens` has a
    * tombs dir. */
  def consolidateTombs(spark: SparkSession, f: FileSystem, path: String,
      gens: Seq[Int], g: Int): Long = {
    val dirs = gens.distinct
      .map(x => new Path(s"$path/tombs/gen=$x"))
      .filter(f.exists).map(_.toString)
    if (dirs.isEmpty) return 0L
    tombstones(spark, path, dirs)
      .groupBy("id").agg(max("tgen").as("tgen"))
      .write.mode("overwrite").parquet(s"$path/tombs/gen=$g")
    // footer-metadata count of the snapshot just written — stamped as
    // the base marker's `dead` field so the maintenance policy can see
    // the dead mass earlier folds hid (no data scan, ever)
    spark.read.parquet(s"$path/tombs/gen=$g").count()
  }

  /** Claim the next free generation slot (atomic put-if-absent through
    * the session's [[LogStore]]). The probe seed is the max over BOTH
    * committed markers and the store's authoritative claim listing, so
    * a fresh claimer lands past in-flight writers in one probe. */
  def claimGen(spark: SparkSession, f: FileSystem, path: String): Int = {
    val dir = commitsDir(path)
    f.mkdirs(dir)
    val store = LogStore.forSession(spark)
    val markerMax = (if (f.exists(dir)) f.listStatus(dir).toSeq
        .filter(s => !s.isDirectory && !s.getPath.getName.startsWith("."))
        .map(_.getPath.getName.toInt) else Nil)
      .maxOption.getOrElse(0)
    val claimMax = store.listClaims(f, dir)
      .map(_.stripPrefix(".claim-").toInt).maxOption.getOrElse(0)
    var g = math.max(markerMax, claimMax) + 1
    var probes = 0
    while (!store.createExclusive(f, new Path(dir, s".claim-$g"))) {
      g += 1
      probes += 1
      require(probes < 10000, s"index at $path probed $probes claimed " +
        "generation slots; claims and commits diverged — run vacuum")
    }
    g
  }

  /** Generation slots claimed but not (yet) committed — in-flight or
    * crashed writers that may still publish. Claims below the newest
    * base are dead slots (compacted away, or serialized out by the
    * in-flight guard), not writers. Discovery goes through the
    * session's [[LogStore]] — AUTHORITATIVE for metastore stores, so a
    * writer whose CAS committed but whose filesystem mirror has not
    * landed is still visible to the structural-commit guards (the
    * silent-loss window a filesystem-only listing would leave open). */
  def unpublishedGens(spark: SparkSession, f: FileSystem,
      path: String): Seq[Int] = {
    val dir = commitsDir(path)
    if (!f.exists(dir)) return Nil
    val ms = metas(spark, f, path)
    val committed = ms.map(_.gen).toSet
    val floor = ms.filter(_.kind == KindBase).map(_.gen)
      .maxOption.getOrElse(0)
    LogStore.forSession(spark).listClaims(f, dir)
      .map(_.stripPrefix(".claim-").toInt)
      .filter(g => g >= floor && !committed.contains(g))
      .sorted
  }

  /** Fail-loud serialization of a structural commit against in-flight
    * appends (see class doc). The aborted commit releases its own
    * claim before surfacing. */
  def requireNoInflightBelow(spark: SparkSession, f: FileSystem,
      path: String, g: Int, op: String): Unit = {
    val pending = unpublishedGens(spark, f, path).filter(_ < g)
    if (pending.nonEmpty) {
      LogStore.forSession(spark)
        .delete(f, new Path(commitsDir(path), s".claim-$g"))
      sys.error(s"$op at $path: generation slots ${pending.mkString(",")} " +
        "are claimed but unpublished; an in-flight append could publish " +
        s"below the new generation $g and be lost — wait for it (or let " +
        "vacuum sweep a crashed writer's stale claim) and retry")
    }
  }

  /** `folds` map ⇄ one TSV column: URL-encoded ingest id `:` max,
    * comma-joined; `-` when empty (keeps the column count stable). */
  private def encodeFolds(folds: Map[String, Long]): String =
    if (folds.isEmpty) "-"
    else folds.toSeq.sorted.map { case (id, mx) =>
      java.net.URLEncoder.encode(id, "UTF-8") + ":" + mx
    }.mkString(",")

  private def parseFolds(s: String): Map[String, Long] =
    if (s == "-" || s.isEmpty) Map.empty
    else s.split(',').map { pair =>
      val cut = pair.lastIndexOf(':')
      (java.net.URLDecoder.decode(pair.take(cut), "UTF-8"),
        pair.drop(cut + 1).toLong)
    }.toMap

  /** Publish generation `g`: the marker file is the commit point.
    * `fold` = unscoped batch-id watermark for base markers, `folds` =
    * the per-ingest-id watermarks (see [[Meta]]); `cbv` = codebook
    * version the generation encodes under. */
  def publish(spark: SparkSession, f: FileSystem, path: String, g: Int,
      kind: String, a: Long, b: Long, n: Int, fold: Long = -1L,
      cbv: Int = 0, folds: Map[String, Long] = Map.empty,
      dead: Long = 0L): Unit =
    LogStore.forSession(spark).writeAtomic(f,
      new Path(commitsDir(path), g.toString),
      s"$kind\t$a\t$b\t$n\t$fold\t$cbv\t${encodeFolds(folds)}\t$dead")

  /**
   * Retention: reclaim generation dirs (under each of `dataDirs`) +
   * markers BELOW the newest base, stale claim files, and orphan data
   * dirs whose generation never committed (age-guarded by
   * `staleAfterMs` so an in-flight writer's work survives). Returns
   * reclaimed generation numbers. Single maintainer; must not run
   * concurrently with readers of pre-base generations.
   */
  def vacuum(spark: SparkSession, f: FileSystem, path: String,
      dataDirs: Seq[String], staleAfterMs: Long = 3600L * 1000): Seq[Int] = {
    val ms = metas(spark, f, path)
    if (ms.isEmpty) return Nil
    val base = ms.filter(_.kind == KindBase).map(_.gen)
      .maxOption.getOrElse(ms.head.gen)
    val doomed = ms.map(_.gen).filter(_ < base)
    // dirs the newest base still CARRIES BY REFERENCE (incremental
    // compaction) must survive any sweep — they ARE the base's data
    val refs: Map[String, Set[String]] = dataDirs.map(d =>
      d -> carryEntries(spark, f, path, d, base).map(_._2)
        .map(p => f.makeQualified(new Path(p)).toString).toSet).toMap
    def sweep(dir: Path, live: Set[String]): Unit = {
      if (!f.exists(dir)) return
      val q = f.makeQualified(dir).toString
      if (live.contains(q)) return
      if (!live.exists(_.startsWith(q + "/"))) { f.delete(dir, true); () }
      else f.listStatus(dir).foreach(s => sweep(s.getPath, live))
    }
    val store = LogStore.forSession(spark)
    doomed.foreach { g =>
      // marker first: a half-vacuumed generation must be invisible,
      // never visible-but-missing-data. The claim goes with it — a
      // lingering claim for a reclaimed gen would read as an in-flight
      // writer to the compact/delete guards. Both go through the
      // store's delete hook, so a metastore implementation frees its
      // authoritative rows (re-opening the slots) instead of growing
      // forever behind deleted mirror files.
      store.delete(f, new Path(commitsDir(path), g.toString))
      store.delete(f, new Path(commitsDir(path), s".claim-$g"))
      dataDirs.foreach(d =>
        sweep(new Path(s"$path/$d/gen=$g"), refs(d)))
    }
    val now = System.currentTimeMillis()
    val committed = metas(spark, f, path).map(_.gen).toSet
    if (f.exists(commitsDir(path)))
      f.listStatus(commitsDir(path))
        .filter(s => s.getPath.getName.startsWith(".claim-"))
        .filter(s => now - s.getModificationTime > staleAfterMs)
        .foreach(s => store.delete(f, s.getPath))
    dataDirs.foreach { d =>
      val dir = new Path(s"$path/$d")
      if (f.exists(dir))
        f.listStatus(dir)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
          .filter(s =>
            !committed(s.getPath.getName.stripPrefix("gen=").toInt))
          .filter { s =>
            // a markerless dir BELOW the newest base is provably dead
            // (structural commits refuse while a lower slot is claimed
            // unpublished, so no in-flight writer can exist down
            // there) — typically an incremental base's carried-from
            // remnant whose references just lapsed. Dirs at or above
            // the base keep the age guard: they may be an in-flight
            // appender's work.
            s.getPath.getName.stripPrefix("gen=").toInt < base ||
              now - s.getModificationTime > staleAfterMs
          }
          .foreach(s => sweep(s.getPath, refs(d)))
    }
    doomed
  }
}
