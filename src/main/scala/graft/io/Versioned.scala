package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Minimal versioned table format over plain parquet — the
 * Delta/Iceberg-shaped surface (transactional append, time travel,
 * merge-on-read upsert, column-level MERGE, tombstone delete,
 * checkpoint compaction, retention vacuum, zone-map file skipping)
 * without a new file format:
 *
 * - each commit is a directory `v=N` of parquet files, stamped with a
 *   `__v` column, a `__deleted` tombstone flag and a `__merge`
 *   partial-update flag IN the data, so any engine that reads parquet
 *   (the DuckDB oracle included) can resolve versions with plain SQL —
 *   no manifest parser required;
 * - commits are STAGED: data + markers + per-file column stats land in
 *   a hidden `.staging-*` directory (invisible to every reader — the
 *   `v=` prefix filter and Spark's hidden-file rule both skip it), then
 *   ONE `rename` publishes the finished directory as `v=N`. A crash at
 *   any point leaves either nothing visible or a complete version —
 *   there is no torn-commit window, and `appendBatch`'s idempotency
 *   marker is inside the directory BEFORE it becomes visible;
 * - reads are declarative: `asOf(V)` is the append-log view — it
 *   unions the log version dirs <= V and EXCLUDES checkpoint dirs
 *   (materialized duplicates of rows already in the log), so its
 *   result is invariant under `compact`; `currentAsOf` resolves
 *   merge-on-read semantics with ONE key-partitioned window (latest
 *   `__v` per key, tombstones dropped) — the same single-shuffle shape
 *   as the dedup keeper. When the range contains MERGE commits the
 *   resolve upgrades to a per-column latest-non-null aggregation
 *   (still one shuffle: the key window and the key groupBy share one
 *   Exchange);
 * - `compact` materializes the resolved state as a new version marked
 *   `_CHECKPOINT`; subsequent reads start from the newest checkpoint
 *   at or below their as-of version, so read cost tracks data size,
 *   not history length. History stays intact until `vacuum` reclaims
 *   version dirs older than a retention horizon (reads below the
 *   vacuum base fail loudly, like Delta after VACUUM);
 * - `commit` writes a `_STATS.tsv` zone map (per-file min/max from the
 *   parquet FOOTERS — no data re-scan) enabling `currentAsOfRange` to
 *   prune files whose key range cannot intersect a predicate.
 *
 * Caller contract: a single `append`/`appendBatch`/`merge` commit must
 * carry AT MOST ONE row per key. The resolve breaks `__v` ties with
 * the commit-stamped `__seq` (frozen in the files, so reads are
 * deterministic), but which duplicate wins within one commit is
 * write-order, not data, semantics — Delta's MERGE rejects multiple
 * matches for the same reason.
 *
 * At 100 TB: appends are just parquet writes; the staged rename gives
 * single-FS-call publication. Version allocation is multi-writer safe
 * via put-if-absent claim files (`.claim-v=N`, exclusive-create CAS
 * through the session's pluggable [[LogStore]] — atomic on local FS
 * via O_EXCL and on HDFS at the namenode by default; object stores
 * without put-if-absent plug a metastore-backed store via
 * `spark.graft.logstore.class`): concurrent writers take
 * distinct slots before writing any data instead of racing the same
 * rename. The resolve
 * window shuffles once on the key and is exactly as skew-bound as the
 * data's true key skew; compaction bounds the number of live version
 * dirs; vacuum bounds total storage and the `versions()` listing.
 */
object Versioned {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.io.Versioned")

  val VersionCol = "__v"
  val DeletedCol = "__deleted"
  val MergeCol = "__merge"
  val SeqCol = "__seq"
  val CkptCol = "__ckpt"
  private val CheckpointMarker = "_CHECKPOINT"
  private val MergeMarker = "_MERGE"
  private val SuccessMarker = "_SUCCESS"
  private val StatsFile = "_STATS.tsv"
  private val ColmapFile = "_COLMAP.tsv"
  private val WidenFile = "_WIDEN.tsv"
  private val ManifestFile = "_MANIFEST.tsv"
  private[graft] val MetaCols = Set(VersionCol, DeletedCol, MergeCol, SeqCol, CkptCol)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------- manifest-carrying (incremental) checkpoints ----------

  /** Read the small text file at `p` (empty string when absent). */
  private def readSmallText(f: FileSystem, p: Path): String = {
    if (!f.exists(p)) return ""
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
  }

  /** Files an INCREMENTAL checkpoint carries BY REFERENCE from older
    * checkpoint dirs — table-root-relative paths (`v=<c>/<name>`),
    * one per line; a SHALLOW CLONE's base checkpoint instead stores
    * ABSOLUTE paths into its source table ([[cloneShallow]]).
    * Invariant: only files of CHECKPOINTS are ever carried, so
    * carried rows always stamp `__ckpt = true` and the log view /
    * streaming faces keep excluding them row-wise. */
  private def readManifest(f: FileSystem, dir: Path): Seq[String] =
    readSmallText(f, new Path(dir, ManifestFile))
      .split('\n').filter(_.nonEmpty).toSeq

  /** Resolve one manifest entry against the table root (absolute
    * entries — cross-table clone references — pass through). */
  private def refPath(path: String, rel: String): Path =
    if (rel.startsWith("/") || rel.contains("://")) new Path(rel)
    else new Path(path, rel)

  private def writeManifest(f: FileSystem, dir: Path,
      rels: Seq[String]): Unit = {
    val out = f.create(new Path(dir, ManifestFile), true)
    try out.write(rels.mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** ALL data files of version `v`: its own parquet parts plus any
    * manifest-carried references. Every read path enumerates files
    * through here, so a carried file is indistinguishable from an
    * owned one to readers; per-file metadata (stats, blooms) resolves
    * against each file's PARENT dir (see [[StatsLookup]]). */
  private[io] def filesOf(f: FileSystem, path: String, v: Int): Seq[Path] = {
    val dir = new Path(s"$path/v=$v")
    val own = f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    own ++ readManifest(f, dir).map(refPath(path, _))
  }

  /** Data-file LENGTHS of version `v` — same file set as [[filesOf]],
    * but from ONE `listStatus` per directory (the statuses already
    * carry lengths) instead of a per-file `getFileStatus` RPC. At
    * 10⁴–10⁵ files/table this is what keeps [[maintain]]'s metadata
    * sweep off the driver's critical path: carried manifest refs
    * resolve against one listing of each HOME dir they live in. */
  private[io] def fileLensOf(f: FileSystem, path: String, v: Int)
      : Seq[Long] = {
    val dir = new Path(s"$path/v=$v")
    val own = f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
    own ++ refLens(f, readManifest(f, dir).map(refPath(path, _)))
  }

  /** Lengths of manifest-carried refs — one `listStatus` per HOME
    * dir, never a per-file stat RPC (shared by [[fileLensOf]] and
    * [[detail]]). */
  private def refLens(f: FileSystem, refs: Seq[Path]): Seq[Long] =
    refs.groupBy(_.getParent).toSeq.flatMap {
      case (home, ps) =>
        val names = ps.map(_.getName).toSet
        // a manifest ref whose home file was vacuumed away simply
        // doesn't appear in the listing — same semantics as the old
        // exists-else-0 probe, without the per-file RPC
        if (!f.exists(home)) Nil
        else f.listStatus(home).toSeq
          .filter(s => names(s.getPath.getName)).map(_.getLen)
    }

  /** Parse a `_CHECKS_clean-N_bad-M` marker name (None = not one). */
  private def parseChecks(name: String): Option[(Long, Long)] =
    if (!name.startsWith("_CHECKS_clean-")) None
    else name.stripPrefix("_CHECKS_clean-").split("_bad-") match {
      case Array(c, b) =>
        for (cl <- c.toLongOption; bd <- b.toLongOption) yield (cl, bd)
      case _ => None
    }

  /** Per-file zone-map lookup across dirs (file → its parent dir's
    * `_STATS.tsv` row), with a per-instance dir cache — carried files
    * resolve against their HOME dir's stats, before and after vacuum
    * materializes them. */
  private class StatsLookup(f: FileSystem) {
    private val byDir = mutable.Map.empty[
      String, Map[String, Map[String, (String, String, String)]]]
    def apply(file: Path): Map[String, (String, String, String)] =
      byDir.getOrElseUpdate(file.getParent.toString,
        readStats(f, file.getParent)).getOrElse(file.getName, Map.empty)
  }

  /** Per-file Bloom lookup across dirs, mirroring [[StatsLookup]]. */
  private class BloomLookup(spark: SparkSession, f: FileSystem) {
    private val byDir = mutable.Map.empty[
      String, Map[String, (String, Int, Int, Array[Long])]]
    def apply(file: Path): Option[(String, Int, Int, Array[Long])] =
      byDir.getOrElseUpdate(file.getParent.toString,
        readBloom(spark, f, file.getParent)).get(file.getName)
  }

  /** Committed (has _SUCCESS) version numbers, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => f.exists(new Path(s.getPath, SuccessMarker)))
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .sorted
  }

  def latestVersion(spark: SparkSession, path: String): Int =
    versions(spark, path).lastOption.getOrElse(0)

  private def withMarker(spark: SparkSession, path: String,
      marker: String): Seq[Int] = {
    val f = fs(spark, path)
    versions(spark, path)
      .filter(v => f.exists(new Path(s"$path/v=$v", marker)))
  }

  /** Committed checkpoint versions, ascending. */
  private[io] def checkpoints(spark: SparkSession, path: String): Seq[Int] =
    withMarker(spark, path, CheckpointMarker)

  /** Committed MERGE (partial-update) versions, ascending. */
  private[io] def mergeVersions(spark: SparkSession, path: String): Seq[Int] =
    withMarker(spark, path, MergeMarker)

  /** Append `df` as the next version; returns the committed version.
    * Rows are stamped with `__v` and (absent) `__deleted=false`.
    * At most one row per key per commit (see the class contract). */
  def append(df: DataFrame, path: String): Int =
    commit(df, path)

  /** Append tombstones for `keys` (a one-column frame named like
    * `keyCol`): merge-on-read delete. */
  def delete(keys: DataFrame, path: String): Int =
    commit(keys.withColumn(DeletedCol, lit(true)), path)

  /** [[append]] gated by named CHECK constraints (the Delta/lakehouse
    * "expectations" shape): the batch is validated in ONE aggregate
    * pass BEFORE anything is staged or a version slot is claimed — a
    * violating batch fails loudly with per-constraint violation
    * counts and the table is untouched (no slot burned, no staging
    * to vacuum). SQL CHECK semantics: a row violates a constraint
    * only when it evaluates to FALSE — NULL passes (guard with
    * `isNotNull` explicitly when null must fail). The input is read
    * twice (validate, then write); persist upstream if it is
    * expensive to recompute. */
  def appendChecked(df: DataFrame, path: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    require(constraints.nonEmpty, "appendChecked needs >= 1 constraint")
    val aggs = constraints.map { case (name, c) =>
      sum(when(c === false, 1L).otherwise(0L)).as(name)
    }
    val counts = df.agg(aggs.head, aggs.tail: _*).head()
    val violated = constraints.map(_._1).zipWithIndex
      .map { case (name, i) =>
        name -> (if (counts.isNullAt(i)) 0L else counts.getLong(i))
      }
      .filter(_._2 > 0)
    require(violated.isEmpty, "appendChecked: constraint violations, " +
      "nothing committed — " + violated.map { case (n, c) => s"$n: $c row" +
        (if (c == 1) "" else "s") }.mkString("; "))
    append(df, path)
  }

  /** [[appendChecked]]'s DEAD-LETTER mode: instead of refusing the
    * whole batch, violating rows DIVERT to `quarantinePath` (a
    * Versioned table of their own — rows enriched with `q_violated`,
    * the comma-joined names of the constraints they failed, and
    * `q_batch`) while the clean slice lands in the main table —
    * production ingest's divert-don't-refuse shape.
    *
    * Exactly-once under replay: both commits carry the same
    * `_BATCH_[<ingestId>_]<batchId>` idempotency marker
    * ([[appendBatch]] semantics, PER TABLE) plus a
    * `_CHECKS_clean-N_bad-M` stats marker, so a crash between the two
    * commits replays into "skip the committed side, land the missing
    * one". The QUARANTINE commits FIRST — dead letters are durable
    * before any clean row becomes visible. A side with zero rows
    * commits nothing (deterministic input re-splits identically on
    * replay). NULL constraint results pass, exactly like
    * [[appendChecked]].
    *
    * Returns (main version, quarantine version); None = that side had
    * no rows. One aggregate pass computes the split counts, then each
    * slice is one filtered write — the input is read up to three
    * times, persist upstream if it is expensive to recompute. */
  def appendCheckedQuarantine(df: DataFrame, path: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      quarantinePath: String, batchId: Long, ingestId: String = "")
      : (Option[Int], Option[Int]) = {
    val (anyViol, reasons, clean, bad) =
      quarantineSplit(df, path, constraints, quarantinePath)
    val stats = s"_CHECKS_clean-${clean}_bad-$bad"
    val qv = if (bad > 0)
      Some(appendBatch(
        df.filter(anyViol).withColumn("q_violated", reasons)
          .withColumn("q_batch", lit(batchId)),
        quarantinePath, batchId, ingestId, extraMarkers = Seq(stats)))
    else None
    val mv = if (clean > 0)
      Some(appendBatch(df.filter(!anyViol), path, batchId, ingestId,
        extraMarkers = Seq(stats)))
    else None
    (mv, qv)
  }

  /** [[appendCheckedQuarantine]] WITHOUT idempotency markers — the
    * SQL INSERT face (plain INSERT semantics: running the statement
    * twice appends twice; replayed ingest wants the `batchId`
    * variant). Same split, same enrichment, `q_batch` = -1 (no batch
    * identity to record); the quarantine side still commits FIRST. */
  def appendCheckedQuarantine(df: DataFrame, path: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      quarantinePath: String): (Option[Int], Option[Int]) = {
    val (anyViol, reasons, clean, bad) =
      quarantineSplit(df, path, constraints, quarantinePath)
    val qv = if (bad > 0)
      Some(append(df.filter(anyViol).withColumn("q_violated", reasons)
        .withColumn("q_batch", lit(-1L)), quarantinePath))
    else None
    val mv = if (clean > 0) Some(append(df.filter(!anyViol), path))
    else None
    (mv, qv)
  }

  /** Max committed `_BATCH_<ingestId>_<n>` marker at `path` (0 =
    * none) — the replay handshake's "what did the previous attempt
    * land" probe. */
  private def committedBatchMax(spark: SparkSession, path: String,
      ingestId: String): Int = {
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) return 0
    versions(spark, path).flatMap { v =>
      f.listStatus(new Path(s"$path/v=$v")).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(s"_BATCH_${ingestId}_"))
        .flatMap(_.stripPrefix(s"_BATCH_${ingestId}_").toIntOption)
    }.maxOption.getOrElse(0)
  }

  /** REPLAY the dead-letter queue — the operational loop
    * [[quarantineStats]] makes visible: take the LIVE quarantine rows
    * (diverted by [[appendCheckedQuarantine]]), run the caller's
    * `fix`, RE-VALIDATE against the same constraints
    * ([[appendChecked]] semantics: any still-violating row fails the
    * whole replay loudly, nothing committed), land the corrected rows
    * in the main table, and TOMBSTONE them from the quarantine — so
    * main has each dead letter exactly once and the quarantine reads
    * empty afterwards.
    *
    * Exactly-once, marker-paired: both commits carry the same
    * `_BATCH_<ingest>_<qv>` idempotency marker (`qv` = the quarantine
    * head version the replay consumed; `ingest` derives from the
    * quarantine path). The MAIN commit lands first — corrected rows
    * are durable before the quarantine forgets them — and a crash
    * between the two heals on the next call: a main marker above the
    * quarantine's own marker means a torn replay, and the missing
    * drain (for exactly the rows live at that version) is completed
    * BEFORE any new dead letters are considered, so late arrivals can
    * never double-land. Replaying a drained quarantine no-ops
    * (returns None). Single-maintainer like [[compact]], and stronger:
    * do NOT run concurrently with divert writers to the SAME
    * quarantine — a same-key dead letter landing between the live
    * read and the drain tombstone would be swallowed unreplayed;
    * schedule replay between ingest batches. `fix` must be
    * deterministic (a replayed crash recomputes it). NULL-keyed dead
    * letters refuse loudly — a tombstone cannot name them; quarantine
    * such rows under a surrogate key upstream.
    *
    * Returns (main version, quarantine drain version), or None when
    * there was nothing to replay. */
  def replayQuarantine(spark: SparkSession, qPath: String,
      mainPath: String, keyCol: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      fix: DataFrame => DataFrame): Option[(Int, Int)] = {
    require(constraints.nonEmpty, "replayQuarantine needs the ingest's " +
      "constraints (>= 1) to re-validate corrected rows")
    val hconf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): Path = {
      val hp = new Path(p)
      hp.getFileSystem(hconf).makeQualified(hp)
    }
    require(qualified(qPath) != qualified(mainPath),
      "the quarantine table must differ from the main table")
    val ingest = "rq" + java.security.MessageDigest.getInstance("MD5")
      .digest(qualified(qPath).toString.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    def landAndDrain(qv: Int): (Int, Int) = {
      val live = currentAsOf(spark, qPath, keyCol, qv)
      require(live.filter(col(keyCol).isNull).isEmpty,
        s"replayQuarantine: NULL-keyed dead letters at $qPath — a " +
          "tombstone cannot name them; assign a surrogate key upstream")
      val fixed = fix(live.drop("q_violated", "q_batch"))
      val aggs = constraints.map { case (name, c) =>
        sum(when(c === false, 1L).otherwise(0L)).as(name)
      }
      val counts = fixed.agg(aggs.head, aggs.tail: _*).head()
      val violated = constraints.map(_._1).zipWithIndex
        .map { case (name, i) =>
          name -> (if (counts.isNullAt(i)) 0L else counts.getLong(i))
        }.filter(_._2 > 0)
      require(violated.isEmpty, "replayQuarantine: the fix left " +
        "violations, nothing committed — " + violated.map { case (n, c) =>
          s"$n: $c row" + (if (c == 1) "" else "s") }.mkString("; "))
      val mv = appendBatch(fixed, mainPath, qv, ingest)
      // drain EXCLUDES keys re-diverted ABOVE qv (possible only on the
      // heal path, where qv < head): a tombstone kills every version
      // below it, so draining such a key would swallow its NEWER dead
      // letter unreplayed — leave it live; the next window replays the
      // newer payload and its own drain kills both versions. (The torn
      // attempt landed the OLD payload in main; the next window's
      // newer append supersedes it.) The normal path (qv == head) has
      // nothing above qv by construction — skip the log read.
      val drainKeys =
        if (qv >= latestVersion(spark, qPath)) live.select(keyCol)
        else {
          val newer = asOf(spark, qPath, latestVersion(spark, qPath))
            .filter(col(VersionCol) > qv).select(col(keyCol)).distinct()
          live.select(keyCol).join(newer, Seq(keyCol), "left_anti")
        }
      val dv = appendBatch(drainKeys
        .withColumn(DeletedCol, lit(true)), qPath, qv, ingest)
      (mv, dv)
    }
    // heal a torn previous replay first: main landed, drain didn't
    val mMax = committedBatchMax(spark, mainPath, ingest)
    if (mMax > committedBatchMax(spark, qPath, ingest)) {
      val healed = landAndDrain(mMax)
      // anything newer is the NEXT window; recurse once to take it
      return replayQuarantine(spark, qPath, mainPath, keyCol,
        constraints, fix).orElse(Some(healed))
    }
    val qv = latestVersion(spark, qPath)
    if (currentAsOf(spark, qPath, keyCol, qv).isEmpty) None
    else Some(landAndDrain(qv))
  }

  /** Shared dead-letter split: (violation predicate, reason column,
    * clean count, bad count) — one aggregate pass. NULL constraint
    * results pass, exactly like [[appendChecked]]. */
  private def quarantineSplit(df: DataFrame, path: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      quarantinePath: String): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, Long, Long) = {
    require(constraints.nonEmpty,
      "appendCheckedQuarantine needs >= 1 constraint")
    // Fully-qualified compare: Path equality alone normalizes only
    // trailing/duplicate slashes — makeQualified also resolves
    // relative-vs-absolute aliases of the same directory (and stamps
    // the scheme), so 'tbl' vs '/abs/wd/tbl' can't sneak the dead
    // letters into the main table as ordinary rows
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    def qualified(p: String): Path = {
      val hp = new Path(p)
      hp.getFileSystem(hconf).makeQualified(hp)
    }
    require(qualified(quarantinePath) != qualified(path),
      "the quarantine table must differ from the main table")
    val anyViol = coalesce(
      constraints.map(_._2 === false).reduce(_ || _), lit(false))
    val counts = df.agg(count(lit(1)).as("__n"),
      sum(when(anyViol, 1L).otherwise(0L)).as("__bad")).head()
    val total = counts.getLong(0)
    val bad = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val reasons = concat_ws(",", constraints.map { case (n, c) =>
      when(c === false, lit(n)) }: _*)
    (anyViol, reasons, total - bad, bad)
  }

  /** Column-level MERGE (`WHEN MATCHED THEN UPDATE SET` shape):
    * `updates` carries the key plus any subset of columns; at read
    * time each non-null update value overrides the base row's column,
    * null/absent columns keep their base value. A merge on a key with
    * no live base row (never appended, or deleted) INSERTS it with the
    * update's columns (`WHEN NOT MATCHED THEN INSERT`). A later full
    * `append` of the key supersedes all earlier merges (whole-row
    * replace). At most one update row per key per commit. */
  def merge(updates: DataFrame, path: String): Int =
    commit(updates, path, merge = true)

  /** Idempotent micro-batch commit — the `foreachBatch` streaming sink:
    * appends `df` as the next version UNLESS `batchId` is already
    * committed (a `_BATCH_<id>` marker in its version dir), so
    * Structured Streaming's batch re-delivery on restart cannot
    * duplicate rows. Returns the version holding the batch either way.
    * The marker is placed in the staging directory BEFORE the rename
    * that publishes the version, so marker and visibility are atomic:
    * a crash leaves either an invisible staging dir (re-delivery
    * commits again — no duplicate, nothing was visible) or a complete
    * version whose marker makes re-delivery a no-op.
    *
    * `ingestId` scopes the replay guard, exactly like the V2 streaming
    * sink's `_BATCH_<queryId>_<epoch>` markers: Structured Streaming
    * batch ids RESTART AT 0 for every new checkpoint location, so a
    * fresh ingest into a table an OLD ingest once fed would have its
    * early batches read as replays and silently dropped. Pass a
    * checkpoint-stable identifier — the streaming query's id, or a
    * digest of the checkpoint path (the id rides in marker FILENAMES,
    * so no slashes: hash the path, don't pass it raw — see
    * [[ingestIdFor]]); the empty default keeps the single-ingest
    * legacy shape — correct
    * only while ONE checkpoint feeds the table for its whole life
    * (maintained views use it this way: their "batch id" is the
    * monotone source version, never a restarting stream epoch).
    *
    * CONCURRENT writers of the same batch id (two racing MV
    * maintainers folding the same source range) are serialized by an
    * atomic `.claim-batch-<id>` put-if-absent: exactly one commits,
    * the loser waits for the winner's version to publish and returns
    * it — the check-then-commit window can never double-apply a
    * batch. A claim whose owner crashed pre-publish is treated as
    * stale after [[BatchClaimStaleMs]] (taken over by the next
    * caller); a commit genuinely slower than that horizon is the one
    * documented caveat. */
  /** A marker-safe, checkpoint-stable ingest id from an arbitrary
    * path/identifier: `<prefix><md5-8>` — what callers should pass as
    * [[appendBatch]]'s `ingestId` when the natural identity is a
    * checkpoint PATH (markers are filenames; a raw path's slashes are
    * rejected). */
  def ingestIdFor(prefix: String, identity: String): String =
    prefix + java.security.MessageDigest.getInstance("MD5")
      .digest(identity.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString

  def appendBatch(df: DataFrame, path: String, batchId: Long,
      ingestId: String = "", extraMarkers: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    require(!ingestId.contains('\t') && !ingestId.contains('\n') &&
      !ingestId.contains('/'),
      "ingestId may not contain tabs/newlines/slashes")
    val marker =
      if (ingestId.isEmpty) s"_BATCH_$batchId"
      else s"_BATCH_${ingestId}_$batchId"
    val f = fs(spark, path)
    def committed: Option[Int] = versions(spark, path)
      .find(v => f.exists(new Path(s"$path/v=$v", marker)))
    committed.getOrElse {
      val claim = new Path(path,
        if (ingestId.isEmpty) s".claim-batch-$batchId"
        else s".claim-batch-$ingestId-$batchId")
      if (LogStore.forSession(spark).createExclusive(f, claim))
        commit(df, path, batchMarker = Some(marker),
          extraMarkers = extraMarkers)
      else {
        // another writer owns this batch: wait for its publish
        val deadline = System.currentTimeMillis() + 60000
        var r = committed
        while (r.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(200); r = committed
        }
        r.getOrElse {
          // owner likely crashed pre-publish; take over a stale claim
          // (nothing it staged ever became visible, so re-committing
          // cannot duplicate). A vanished claim (vacuum swept an
          // orphan mid-wait) just retries the CAS.
          if (f.exists(claim)) {
            val age = System.currentTimeMillis() -
              f.getFileStatus(claim).getModificationTime
            require(age > BatchClaimStaleMs, s"batch $batchId at $path is " +
              "claimed by a concurrent writer that has not published; wait " +
              "for it or, if it crashed, retry after the claim goes stale")
            LogStore.forSession(spark).delete(f, claim)
          }
          appendBatch(df, path, batchId, ingestId, extraMarkers)
        }
      }
    }
  }

  /** Age after which an unpublished `.claim-batch-*` counts as a
    * crashed writer's orphan and may be taken over. */
  private[io] val BatchClaimStaleMs: Long = 15L * 60 * 1000

  /**
   * Atomically claim version slot `v` by exclusively creating the
   * hidden `.claim-v=N` marker — put-if-absent CAS through the
   * session's [[LogStore]] (default [[FsLogStore]]: NIO O_EXCL on
   * `file://`, one atomic namenode op on HDFS; object stores plug a
   * metastore-backed store via `spark.graft.logstore.class`). Claims
   * outlive their commit (a published version's claim keeps the slot
   * dead forever); a crashed writer's orphan claim wastes one slot
   * number, never a version — `vacuum` sweeps stale ones with the
   * same age guard as staging dirs.
   */
  private def claimSlot(store: LogStore, f: FileSystem, path: String,
      v: Int): Boolean =
    store.createExclusive(f, new Path(path, s".claim-v=$v"))

  /** Version slots that are CLAIMED but have no committed `v=N` dir —
    * in-flight (or crashed) writers that may still publish BELOW the
    * current head. Range-refresh readers ([[MatView.refresh]]) use
    * this to refuse folding past a slot that could later fill in. */
  private[io] def unpublishedClaims(spark: SparkSession,
      path: String): Seq[Int] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Nil
    val published = versions(spark, path).toSet
    // claims below the vacuum base are dead slots, not in-flight
    // writers: their versions (published or not) are unreachable.
    // Discovery through the store's authoritative claim listing (not a
    // bare FS listing), so a metastore writer whose CAS committed but
    // whose mirror file lags is still visible to the guards.
    val floor = vacuumBase(spark, path).getOrElse(0)
    LogStore.forSession(spark).listClaims(f, root)
      .filter(_.startsWith(".claim-v="))
      .map(_.stripPrefix(".claim-v=").toInt)
      .filter(v => v >= floor && !published.contains(v))
      .sorted
  }

  /**
   * Staged commit: CLAIM a version slot with an atomic put-if-absent
   * marker, write data + markers + footer stats into a hidden staging
   * dir, then publish with one atomic rename to `v=N`. Version
   * allocation is multi-writer safe: each candidate slot is taken by
   * exclusive claim-file creation ([[claimSlot]]), so two concurrent
   * writers get DISTINCT versions up front instead of racing the same
   * `v=N` rename and failing late — the loser of a slot just probes
   * the next one before writing any data. A slow writer can publish a
   * lower version after a faster writer published a higher one; the
   * resolve orders by `__v`, so reads are well-defined either way. The
   * publish-time existence check + bounded retry is kept as a belt for
   * legacy torn dirs.
   */
  private def commit(df: DataFrame, path: String, checkpoint: Boolean = false,
      merge: Boolean = false, batchMarker: Option[String] = None,
      sortBy: Seq[org.apache.spark.sql.Column] = Nil, sortFiles: Int = 0,
      attempt: Int = 0, manifest: Seq[String] = Nil,
      extraMarkers: Seq[String] = Nil): Int = {
    require(attempt < 5, s"commit at $path lost the version slot $attempt " +
      "times to concurrent writers; coordinate writers or add a metastore CAS")
    val spark = df.sparkSession
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    var v = latestVersion(spark, path) + 1
    var probes = 0
    while (!claimSlot(store, f, path, v)) {
      v += 1
      probes += 1
      require(probes < 10000,
        s"commit at $path probed $probes claimed slots from the listed " +
          "head; claim files and versions have diverged — run vacuum")
    }
    val committed =
      try commitAt(df, path, v, checkpoint, merge, batchMarker, sortBy,
        sortFiles, manifest, extraMarkers = extraMarkers)
      catch {
        // a mapped-table snapshot race refusal (in-flight lower writer
        // between claim and pending-colmap declaration) released our
        // claim already; the window is milliseconds — back off and
        // retry, surfacing only persistent contention (in-flight DDL,
        // crashed claim awaiting vacuum)
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= 4) throw e
          Thread.sleep(50L << attempt)
          None
      }
    committed match {
      case Some(got) => got
      case None => // lost the slot to a legacy torn dir: retry fresh
        commit(df, path, checkpoint, merge, batchMarker, sortBy,
          sortFiles, attempt + 1, manifest, extraMarkers)
    }
  }

  /** The post-claim body of [[commit]]: stage, stamp, publish as
    * version `v` (ALREADY CLAIMED by the caller). None = the rename
    * lost to an occupied `v=N` (legacy torn dir) — the staging was
    * dropped and the caller decides whether to re-claim. `manifest`
    * carries incremental-checkpoint file references into the staged
    * dir, atomic with the data. */
  /** `colmapSeed`/`widenSeed` seed a FRESH table's first commit with
    * another table's snapshots (shallow clone of a mapped/widened
    * source); the df must then already speak PHYSICAL column names.
    * Ignored once the table has its own history. */
  private def commitAt(df: DataFrame, path: String, v: Int,
      checkpoint: Boolean, merge: Boolean, batchMarker: Option[String],
      sortBy: Seq[org.apache.spark.sql.Column], sortFiles: Int,
      manifest: Seq[String],
      colmapSeed: Option[Seq[(String, String)]] = None,
      widenSeed: Map[String, String] = Map.empty,
      extraMarkers: Seq[String] = Nil): Option[Int] = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    // optional clustering (compactZOrder): range-partition + sort by the
    // cluster key so each FILE covers a tight slice of it — that is
    // what makes the per-file footer stats selective. Applied BEFORE
    // the column-mapping rename: the sort expressions reference
    // LOGICAL names, which stop resolving once the frame speaks
    // physical ids (a rename/select below is a narrow Project, so the
    // range partitioning and intra-partition order survive it).
    val laidOutDf =
      if (sortBy.isEmpty) df
      else df.repartitionByRange(
        if (sortFiles > 0) sortFiles
        else math.max(spark.sparkContext.defaultParallelism, 1), sortBy: _*)
        .sortWithinPartitions(sortBy: _*)
    // column-mapped table: writers speak LOGICAL names; translate to
    // the stable physical ids before staging. A logical column the
    // mapping has never seen (schema-evolution add) gets a fresh
    // version-salted physical id so it can never collide with (or
    // resurrect) a renamed/dropped column's bytes; the updated
    // snapshot rides in this commit's dir. The snapshot ALSO ADOPTS
    // any in-flight lower staged writer's pending extras — this commit
    // re-snapshots the mapping at a HIGHER slot, and publishing first
    // would otherwise supersede the slower writer's schema-evolution
    // columns (mappingAt: newest at-or-below wins), silently orphaning
    // their data. Adoption means adopting their PHYSICAL ids too: a
    // column this commit shares with an in-flight evolving writer
    // writes under the writer's pending id instead of minting a
    // second one (dual minting would orphan whichever snapshot loses
    // the head resolve). Unmapped tables skip all of this — a table
    // cannot BECOME mapped underneath a running write (the first
    // rename claims a slot ABOVE ours, and its snapshot wins at head).
    val (physDf, snapOut) = mappingAt(spark, path, v) match {
      case None => (laidOutDf, colmapSeed)
      case Some(_) =>
        // claims listed BEFORE the (re-)resolve below: a staged writer
        // that publishes in between is covered either way — its
        // snapshot becomes visible to the re-resolved mappingAt, or
        // its claim is in this list and handled per state
        val inflightBelow = unpublishedClaims(spark, path).filter(_ < v)
        val (pend, sawCommitted) =
          pendingStagedExtras(spark, path, v, inflightBelow)
        // base re-resolved AFTER the listing (and again after the scan
        // when a listed claim published meanwhile): a snapshot that
        // committed below us — a data commit's extras or a mapping
        // DDL's rename/drop — is taken WHOLE, never unioned entry-wise
        val ms = mappingAt(spark, path, v).get
        val msMap = ms.toMap
        pend.collectFirst { case (l, ph)
          if msMap.get(l).exists(_ != ph) => (l, ph) }.foreach {
          case (l, ph) =>
            // the fold declares its pending marker BEFORE this call —
            // delete it with the claim, or the freed slot's next
            // claimant inherits a stale marker that a concurrent
            // scanner could read in the claimant's claim→declare
            // window (believing the claimant has no extras, exactly
            // the orphan race the refusal protocol exists to prevent)
            deletePendingColmap(spark, path, v)
            LogStore.forSession(spark)
              .delete(f, new Path(path, s".claim-v=$v"))
            throw new java.util.ConcurrentModificationException(
              s"commit at $path (slot $v): an in-flight writer's " +
                s"pending mapping binds column '$l' to '$ph' but the " +
                s"committed mapping binds '${msMap(l)}' — bases " +
                "diverged; retried automatically")
        }
        val adopted = pend.filterNot { case (l, _) => msMap.contains(l) }
        val known = (ms ++ adopted).toMap
        val extras = laidOutDf.columns.toSeq
          .filterNot(MetaCols.contains).filterNot(known.contains)
        val snap = ms ++ adopted ++ extras.map(l => (l, s"${l}_r$v"))
        val _ = sawCommitted // base already re-resolved above
        // declare OUR intended snapshot before the (slow) data write,
        // so a faster committer above us adopts THESE extras too
        writePendingColmap(spark, path, v, Some(snap))
        val sm = snap.toMap
        val pdf = laidOutDf.select(laidOutDf.columns.toSeq.map(c =>
          if (MetaCols.contains(c)) col(c) else col(c).as(sm(c))): _*)
        (pdf, Some(snap))
    }
    val stamped = (if (physDf.columns.contains(DeletedCol)) physDf
      else physDf.withColumn(DeletedCol, lit(false)))
      .withColumn(MergeCol, lit(merge))
      // rides IN the data (not only the marker file) so the streaming
      // log source can exclude checkpoint duplicates row-wise
      .withColumn(CkptCol, lit(checkpoint))
      .withColumn(VersionCol, lit(v))
      .withColumn(SeqCol, monotonically_increasing_id())
    val staging = new Path(path,
      s".staging-v=$v-${java.util.UUID.randomUUID().toString.take(8)}")
    stamped.write.mode("overwrite").parquet(staging.toString)
    writeStats(f, staging, spark.sparkContext.hadoopConfiguration)
    snapOut.foreach(writeColmap(f, staging, _))
    if (manifest.nonEmpty) writeManifest(f, staging, manifest)
    // widened table: re-snapshot the widen map into this commit's dir
    // (vacuum keeps the newest checkpoint; its snapshot must be there)
    val curWiden = widenAt(spark, path, v)
    if (curWiden.nonEmpty) writeWiden(f, staging, curWiden)
    else if (widenSeed.nonEmpty) writeWiden(f, staging, widenSeed)
    if (checkpoint) f.create(new Path(staging, CheckpointMarker)).close()
    if (merge) f.create(new Path(staging, MergeMarker)).close()
    batchMarker.foreach(m => f.create(new Path(staging, m)).close())
    extraMarkers.foreach(m => f.create(new Path(staging, m)).close())
    // commit wall-clock stamp (timestamp time travel); inside staging,
    // atomic with everything else
    f.create(new Path(staging, s"_TS_${System.currentTimeMillis()}")).close()
    val dst = new Path(path, s"v=$v")
    // a legacy torn dir (pre-staging era, or manual damage) without
    // _SUCCESS is invisible to readers; reclaim its slot
    if (f.exists(dst) && !f.exists(new Path(dst, SuccessMarker)))
      f.delete(dst, true)
    if (f.exists(dst) || !f.rename(staging, dst)) {
      f.delete(staging, true)
      deletePendingColmap(spark, path, v)
      None
    } else {
      deletePendingColmap(spark, path, v)
      Some(v)
    }
  }

  /** BEGIN a distributed staged commit (the row-level SQL DML write
    * path, where EXECUTORS write parquet parts directly instead of the
    * driver committing a DataFrame): claim the next free version slot
    * and create its hidden staging dir. Finish with [[publishStaged]]
    * or [[abortStaged]]. Same claim/staging/rename protocol as
    * [[commit]] — a crashed caller leaves only a stale claim + staging
    * dir for vacuum's age-guarded sweep. On a COLUMN-MAPPED table the
    * caller must write PHYSICAL column names into the staged parts
    * (translate with [[stagedMapping]]) and pass the snapshot to
    * [[publishStaged]], mirroring what [[commitAt]] does for
    * DataFrame commits. */
  private[graft] def beginStagedCommit(spark: SparkSession,
      path: String): (Int, String) = {
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    var v = latestVersion(spark, path) + 1
    var probes = 0
    while (!claimSlot(store, f, path, v)) {
      v += 1
      probes += 1
      require(probes < 10000,
        s"staged commit at $path probed $probes claimed slots from the " +
          "listed head; claim files and versions have diverged — run vacuum")
    }
    val staging = new Path(path,
      s".staging-v=$v-${java.util.UUID.randomUUID().toString.take(8)}")
    f.mkdirs(staging)
    (v, staging.toString)
  }

  /** PUBLISH a staged commit: prune parquet parts not in `keep`
    * (files of aborted or speculative task attempts), stamp footer
    * stats + the commit-time `_TS_` + any extra marker files (e.g. a
    * `_BATCH_<id>` idempotency marker) + the success marker, then the
    * one atomic rename to `v=N`. `colmap` is the column-mapping
    * snapshot to persist with the commit (from [[stagedMapping]]) —
    * mapped tables re-snapshot into EVERY commit dir so any retention
    * policy that keeps a dir keeps a correct snapshot, exactly like
    * [[commitAt]]; the widen snapshot follows the same rule. */
  private[graft] def publishStaged(spark: SparkSession, path: String,
      v: Int, staging: String, keep: Set[String],
      markers: Seq[String] = Nil,
      colmap: Option[Seq[(String, String)]] = None): Int = {
    val f = fs(spark, path)
    val sp = new Path(staging)
    f.listStatus(sp)
      .filter(s => s.getPath.getName.endsWith(".parquet") &&
        !keep(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, false))
    markers.foreach(m => f.create(new Path(sp, m)).close())
    writeStats(f, sp, spark.sparkContext.hadoopConfiguration)
    colmap.foreach(writeColmap(f, sp, _))
    val curWiden = widenAt(spark, path, v)
    if (curWiden.nonEmpty) writeWiden(f, sp, curWiden)
    f.create(new Path(sp, s"_TS_${System.currentTimeMillis()}")).close()
    f.create(new Path(sp, SuccessMarker)).close()
    val dst = new Path(path, s"v=$v")
    if (f.exists(dst) && !f.exists(new Path(dst, SuccessMarker)))
      f.delete(dst, true) // legacy torn dir: reclaim (commit's belt)
    require(!f.exists(dst) && f.rename(sp, dst),
      s"publishStaged: claimed slot v=$v at $path was occupied — " +
        "claims and versions have diverged; run vacuum")
    deletePendingColmap(spark, path, v)
    v
  }

  /** OPTIMISTIC-CONCURRENCY publish for row-level DML (UPDATE /
    * MERGE / predicate DELETE): the delta was computed against the
    * snapshot at `snapshotV` (the head checkpoint the scan read), so
    * anything that landed — or may still land — BELOW our slot and
    * above the snapshot makes the publish a lost update: our rows
    * would outrank (`__v`) a commit we never saw. Conflict rule at
    * publish time:
    *
    *  - a COMMITTED version in (snapshotV, v) conflicts — unless
    *    `keyCol` is given and the CONFLICT DOMAINS are provably
    *    disjoint: the interloper's per-file key zone maps
    *    (`_STATS.tsv`) against THIS write's staged key ranges (read
    *    from the staged parquet footers). A plain INSERT of keys the
    *    DML never touched commits both ways — steady ingest no longer
    *    livelocks periodic MERGEs. Any stats gap, either side, keeps
    *    the conservative abort (narrowing may admit provably-safe
    *    commits, never unsafe ones). Checkpoint commits below are
    *    ALWAYS benign: they duplicate state already committed — every
    *    log version they fold is itself subject to this same check.
    *    This is Delta's WriteSerializable level: the admitted
    *    interleave re-orders a blind append with a DML that never
    *    read or wrote its keys;
    *  - a FOREIGN CLAIM in (snapshotV, v) not yet committed
    *    conflicts (an in-flight writer below us could publish after
    *    our check, and an unpublished stage has no ranges to reason
    *    about — abort rather than race it);
    *  - a commit ABOVE our slot is benign: its writer either ran
    *    this same check and saw OUR claim (checked DML aborts), or
    *    is a blind append — and "our DML, then their append" is a
    *    valid serial order.
    *
    * On conflict the staged commit aborts (slot released) and a
    * retryable error names the interloper — Delta's
    * ConcurrentAppend/ConcurrentDeleteException shape. `keyCol` must
    * be the PHYSICAL column name — that is what both the staged
    * parquet footers and the interlopers' `_STATS.tsv` zone maps are
    * keyed by (on an unmapped table logical == physical; mapped
    * callers translate through [[stagedMapping]]). `colmap` rides to
    * [[publishStaged]]. */
  private[graft] def publishStagedChecked(spark: SparkSession,
      path: String, v: Int, staging: String, keep: Set[String],
      snapshotV: Int, keyCol: Option[String] = None,
      colmap: Option[Seq[(String, String)]] = None,
      colmapExtras: Seq[String] = Nil): Int = {
    val committedAll = versions(spark, path).toSet
    val ck = checkpoints(spark, path).toSet
    val f = fs(spark, path)
    // this write's key ranges, from the staged footers (its _STATS.tsv
    // is only written at publish): None = unknown (a non-empty staged
    // file without a key stat) -> conservative
    lazy val stagedRanges: Option[Seq[(String, String, String)]] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val perFile = keep.toSeq.sorted.map(n =>
        footerKeyRange(conf, new Path(staging, n), keyCol.get))
      if (perFile.exists(_.isEmpty)) None
      else Some(perFile.flatMap(_.get))
    }
    def conflicts(x: Int): Boolean =
      if (ck.contains(x)) false
      else {
        val dir = new Path(s"$path/v=$x")
        val parts = f.listStatus(dir)
          .filter(_.getPath.getName.endsWith(".parquet"))
        // a data-less commit (mapping/widen metadata, or an empty
        // insert) touches NO key ranges — never a row conflict. Its
        // mapping/widen state is not lost either: the publish below
        // re-resolves the column-mapping snapshot at publish time
        // ([[refreshColmap]]) and [[publishStaged]] already resolves
        // the widen snapshot at publish time, so a rename/drop/widen
        // that committed under this write serializes as "their DDL,
        // then our rows" (physical ids are stable across renames, so
        // the staged parts stay valid).
        if (parts.isEmpty) false
        else keyCol match {
          case None => true
          case Some(kc) => stagedRanges match {
            case None => true
            case Some(ours) =>
              val stats = readStats(f, dir)
              parts.exists { s =>
                val st = stats.getOrElse(s.getPath.getName, Map.empty)
                val empty = st.get("__nrows")
                  .exists { case (_, n, _) => n.toLong == 0L }
                if (empty) false
                else st.get(kc) match {
                  case None => true // unknown keys: conservative
                  case Some(theirs) =>
                    ours.exists(zoneRangesOverlap(_, theirs))
                }
              }
          }
        }
      }
    val committedBelow = committedAll
      .filter(x => x > snapshotV && x < v).filter(conflicts)
    val claimsBelow = LogStore.forSession(spark)
      .listClaims(f, new Path(path))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(".claim-v=").toInt).toOption)
      .filter(c => c > snapshotV && c < v && !committedAll.contains(c))
    if (committedBelow.nonEmpty || claimsBelow.nonEmpty) {
      abortStaged(spark, path, v, staging)
      throw new java.util.ConcurrentModificationException(
        s"row-level DML at $path planned against snapshot " +
          s"v=$snapshotV, but " +
          (if (committedBelow.nonEmpty)
            s"version(s) ${committedBelow.toSeq.sorted.mkString(",")} " +
              "committed concurrently below this write's slot with " +
              "key ranges this write may have read or written"
          else
            s"writer(s) at claimed slot(s) " +
              s"${claimsBelow.sorted.mkString(",")} are still in " +
              "flight below this write's slot") +
          " — the staged commit was aborted; retry the statement")
    }
    val refreshed =
      try refreshColmap(spark, path, v, colmap, colmapExtras)
      catch { case e: Throwable =>
        abortStaged(spark, path, v, staging); throw e }
    publishStaged(spark, path, v, staging, keep, colmap = refreshed)
  }

  /** Re-resolve a staged write's column-mapping snapshot AT PUBLISH
    * TIME: the claim-time snapshot goes stale when a metadata-only
    * DDL (rename/drop/widen) commits below our slot while the write
    * executes — publishing the stale snapshot would silently roll the
    * DDL back for every later reader. The fresh base is the newest
    * committed mapping below our slot; the write's OWN schema-
    * evolution extras — the EXPLICIT logical-name list
    * [[stagedMapping]] returned, not a physical-id suffix inference
    * (a pre-existing column literally named `x_r<v>` must never be
    * resurrected by pattern-match) — are re-applied on top. A fresh
    * snapshot that already claims one of our extras' LOGICAL names
    * (a concurrent commit evolved the same column) fails loud: our
    * staged data was written under OUR minted physical id, and
    * publishing without its mapping entry would silently orphan it.
    * Identity when the claim-time snapshot is None (unmapped table —
    * a table cannot BECOME mapped underneath a running write: the
    * first rename/drop is itself a commit this publish's conflict
    * check or the streaming extras guard faces). */
  private[graft] def refreshColmap(spark: SparkSession, path: String,
      v: Int, claimSnap: Option[Seq[(String, String)]],
      extras: Seq[String] = Nil): Option[Seq[(String, String)]] =
    claimSnap.map { snap =>
      mappingAt(spark, path, v) match {
        case None => snap
        case Some(fresh) =>
          val ex = extras.toSet
          val freshLog = fresh.map(_._1).toSet
          val mine = snap.filter { case (l, _) => ex(l) }
          // clash surface is BOTH directions: a commit below our slot
          // (fresh) AND a commit that published ABOVE us while we ran
          // (headMap — e.g. an append that adopted a DIFFERENT
          // in-flight writer's pending binding for the same column).
          // Publishing our binding under either would orphan bytes.
          val headMap = mappingAt(spark, path,
            latestVersion(spark, path)).getOrElse(Nil).toMap
          val clashes = mine.collect {
            case (l, ph) if (freshLog(l) && !fresh.contains((l, ph))) ||
              headMap.get(l).exists(_ != ph) => l }
          if (clashes.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"schema evolution at $path: column(s) " +
                s"${clashes.mkString(", ")} were concurrently added by " +
                "another commit under a different physical id while " +
                "this write ran — publishing would orphan this write's " +
                "data for them; the write aborts, retry the statement " +
                "(the retry resolves the committed mapping)")
          val freshPhys = fresh.map(_._2).toSet
          fresh ++ mine.filter { case (l, ph) =>
            !freshLog(l) && !freshPhys(ph) }
      }
    }

  /** [min,max] of `colName` from ONE parquet file's footer, in the
    * `_STATS.tsv` (type, lo, hi) encoding — the OCC narrowing's view
    * of a STAGED file (whose stats TSV does not exist yet). Some(Nil)
    * for a provably empty file (contributes no range); None when the
    * stat is absent on a non-empty file (caller stays conservative). */
  private def footerKeyRange(conf: Configuration, file: Path,
      colName: String): Option[Seq[(String, String, String)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      if (blocks.map(_.getRowCount).sum == 0L) return Some(Nil)
      var lo: Any = null
      var hi: Any = null
      var ok = true
      for (block <- blocks; c <- block.getColumns.asScala
           if c.getPath.toDotString == colName) {
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
        else {
          def cmp(a: Any, b: Any) =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
          if (lo == null || cmp(st.genericGetMin, lo) < 0)
            lo = st.genericGetMin
          if (hi == null || cmp(st.genericGetMax, hi) > 0)
            hi = st.genericGetMax
        }
      }
      if (!ok || lo == null) None
      else statsEncode(lo).flatMap { case (t, loS) =>
        statsEncode(hi).map { case (_, hiS) => Seq((t, loS, hiS)) }
      }
    } finally reader.close()
  }

  /** Do two `_STATS.tsv`-encoded [min,max] ranges intersect? Type
    * mismatch (schema drift) answers true — conservative. String
    * bounds compare in UNSIGNED UTF-8 BYTE order — the order the
    * parquet footers computed them in — not Java's UTF-16 code-unit
    * order: the two diverge for keys mixing U+E000–U+FFFF with
    * supplementary-plane characters, and this comparison feeds the
    * OCC narrowing ([[publishStagedChecked]]), where a wrong
    * "disjoint" admits a conflicting commit silently. */
  private def zoneRangesOverlap(a: (String, String, String),
      b: (String, String, String)): Boolean = (a, b) match {
    case (("long", alo, ahi), ("long", blo, bhi)) =>
      !(alo.toLong > bhi.toLong || ahi.toLong < blo.toLong)
    case (("double", alo, ahi), ("double", blo, bhi)) =>
      !(alo.toDouble > bhi.toDouble || ahi.toDouble < blo.toDouble)
    case (("string", alo, ahi), ("string", blo, bhi)) =>
      def d(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
        .getBytes(UTF_8)
      !(utf8Gt(d(alo), d(bhi)) || utf8Gt(d(blo), d(ahi)))
    case _ => true
  }

  /** Unsigned byte-wise "x > y" — the order parquet footers compute
    * string min/max in (unsigned UTF-8 bytes), which diverges from
    * Java's UTF-16 code-unit order for keys mixing U+E000–U+FFFF
    * with supplementary-plane characters. EVERY comparison against a
    * footer-derived string bound must go through this (zone-map
    * pruning and the OCC narrowing both do): comparing in the wrong
    * order prunes a file that actually matches — silent missing
    * rows. */
  private def utf8Gt(x: Array[Byte], y: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c > 0
      i += 1
    }
    x.length > y.length
  }

  /** ABORT a staged commit: drop the staging dir and release the
    * claimed slot (store-routed delete, so a metastore-backed claim
    * row goes too). */
  private[graft] def abortStaged(spark: SparkSession, path: String,
      v: Int, staging: String): Unit = {
    val f = fs(spark, path)
    f.delete(new Path(staging), true)
    deletePendingColmap(spark, path, v)
    LogStore.forSession(spark).delete(f, new Path(path, s".claim-v=$v"))
  }

  /** Whether an idempotency marker file is already committed — the
    * [[appendBatch]]-style replay guard, shared with the streaming V2
    * sink (whose markers are `_BATCH_<queryId>_<epoch>`: epoch ids
    * restart at 0 per checkpoint, so the checkpoint-stable query id
    * scopes them). Same vacuum caveat as appendBatch: do not vacuum
    * while an ingestor may still replay an uncheckpointed batch. */
  private[graft] def markerCommitted(spark: SparkSession, path: String,
      marker: String): Boolean = {
    val f = fs(spark, path)
    versions(spark, path)
      .exists(v => f.exists(new Path(s"$path/v=$v", marker)))
  }

  /** The version-dir slice a STREAMING read delivers for the offset
    * range (fromV, toV] — the V2 micro-batch source's planning rule.
    * A fresh stream (fromV = 0) gets the standard asOf slice (vacuum
    * base substituted for the reclaimed prefix, checkpoints excluded);
    * an incremental range gets the plain non-checkpoint versions in
    * range, refusing loudly when vacuum reclaimed part of it (the
    * stream fell behind the retention horizon — data would be lost
    * silently otherwise). */
  private[graft] def streamSlice(spark: SparkSession, path: String,
      fromV: Int, toV: Int): Seq[Int] = {
    if (fromV <= 0) asOfVersions(spark, path, toV)
    else {
      vacuumBase(spark, path).foreach(vb => require(vb <= fromV,
        s"stream at $path fell behind the vacuum horizon: resuming " +
          s"after version $fromV but versions below $vb were reclaimed " +
          "— restart the stream from scratch (initial load re-delivers " +
          "the base checkpoint)"))
      val ck = checkpoints(spark, path).toSet
      versions(spark, path)
        .filter(v => v > fromV && v <= toV && !ck.contains(v))
    }
  }

  /** The head version IF it is a checkpoint — the state row-level SQL
    * DML scans read directly (each key exactly once, tombstones
    * resolved away). */
  private[graft] def headCheckpointVersion(spark: SparkSession,
      path: String): Option[Int] = {
    val head = latestVersion(spark, path)
    if (checkpoints(spark, path).contains(head)) Some(head) else None
  }

  /** Commit wall-clock time (epoch millis) per committed version, from
    * the `_TS_` marker stamped atomically with each commit. */
  def commitTimes(spark: SparkSession, path: String): Map[Int, Long] = {
    val f = fs(spark, path)
    versions(spark, path).flatMap { v =>
      f.listStatus(new Path(s"$path/v=$v")).toSeq
        .map(_.getPath.getName).find(_.startsWith("_TS_"))
        .map(n => v -> n.stripPrefix("_TS_").toLong)
    }.toMap
  }

  /** The newest version committed at or before epoch-millis `ts` —
    * timestamp time travel (`TIMESTAMP AS OF`). Versions without a
    * timestamp marker (pre-stamp tables) count as infinitely old.
    * Wall-clock caveat: ordering is only as good as the writer's clock;
    * version numbers are the authoritative order. */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val times = commitTimes(spark, path)
    val elig = versions(spark, path)
      .filter(v => times.get(v).forall(_ <= tsMillis))
    require(elig.nonEmpty,
      s"no version committed at or before epoch-millis $tsMillis at $path")
    elig.max
  }

  def currentAtTime(spark: SparkSession, path: String, keyCol: String,
      tsMillis: Long): DataFrame =
    currentAsOf(spark, path, keyCol, versionAt(spark, path, tsMillis))

  // ---------- column mapping (rename/drop without data loss) ----------

  /** Column-mapping snapshot in effect at `version`: ordered
    * (logical, physical) pairs from the newest `_COLMAP.tsv` at or
    * below it. None = the table was never column-mapped (logical ==
    * physical, zero overhead — the pre-r11 shape). Every commit on a
    * mapped table re-snapshots the mapping into its own dir, so any
    * retention policy that keeps a dir keeps a correct snapshot. */
  private[io] def mappingAt(spark: SparkSession, path: String,
      version: Int): Option[Seq[(String, String)]] = {
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    versions(spark, path).filter(_ <= version).reverse.iterator
      .map(v => new Path(s"$path/v=$v", ColmapFile))
      .find(f.exists)
      .map { p =>
        store.readSmall(f, p).split('\n').filter(_.nonEmpty).toSeq
          .map(parseColmapLine)
      }
  }

  /** Whether the table carries a column mapping (used by write faces
    * that speak physical file schemas directly — staged commits — and
    * must fail loud rather than write under stale physical names). */
  private[graft] def isColumnMapped(spark: SparkSession,
      path: String): Boolean =
    mappingAt(spark, path, latestVersion(spark, path)).isDefined

  /** logical→physical column names in effect at `version` (empty =
    * never mapped, logical == physical). Physical ids are STABLE
    * across renames, so the snapshot at a slice's head translates
    * correctly for every version dir in the slice — the V2 read path
    * pins the physical projection of its logical schema with this. */
  private[graft] def logicalToPhysical(spark: SparkSession, path: String,
      version: Int): Map[String, String] =
    mappingAt(spark, path, version).map(_.toMap).getOrElse(Map.empty)

  /** Staged-write translation for a commit at slot `v`: the
    * logical→physical snapshot extended with fresh version-salted
    * physical ids for logical columns the mapping has never seen —
    * the SAME schema-evolution rule [[commitAt]] applies to DataFrame
    * commits, so a staged DML write and a plain append evolve the
    * mapping identically. Returns (l2p lookup for translating the
    * write, updated snapshot to hand [[publishStaged]], the EXTRA
    * logical columns that got fresh ids — a caller whose schema was
    * fixed against the table up front, like the streaming sink, can
    * fail loud on non-empty extras: they can only mean concurrent
    * rename/drop DDL); (empty, None, Nil) when the table is
    * unmapped. */
  private[graft] def stagedMapping(spark: SparkSession, path: String,
      v: Int, logicalCols: Seq[String])
      : (Map[String, String], Option[Seq[(String, String)]], Seq[String]) =
    mappingAt(spark, path, v) match {
      case None => (Map.empty, None, Nil)
      case Some(ms) =>
        val known = ms.toMap
        val extras = logicalCols.distinct
          .filterNot(MetaCols.contains).filterNot(known.contains)
        val snap = ms ++ extras.map(l => (l, s"${l}_r$v"))
        (snap.toMap, Some(snap), extras)
    }

  /** The highest version reachable from `from` through a CONTIGUOUS
    * suffix of data-less commits (mapping/widen metadata — no parquet
    * parts). Row-level DML planning uses this to pin its snapshot AT
    * HEAD when everything above the standing checkpoint is pure
    * metadata: the scan still reads the checkpoint's files (a
    * metadata commit carries no rows), but the mapping resolves
    * post-DDL and the OCC baseline covers the DDL — without this, a
    * "compact, RENAME, first UPDATE" sequence would deterministically
    * abort on its own committed history. Stops at the first commit
    * WITH data (a concurrent ingest this caller never read must stay
    * above the snapshot so the conflict check sees it). */
  private[graft] def metadataOnlySuffixHead(spark: SparkSession,
      path: String, from: Int): Int = {
    val f = fs(spark, path)
    var cur = from
    versions(spark, path).filter(_ > from).sorted.foreach { x =>
      if (x == cur + 1 && filesOf(f, path, x).isEmpty) cur = x
      else if (x > cur + 1) return cur
      else if (filesOf(f, path, x).nonEmpty) return cur
    }
    cur
  }

  /** Rename physical columns to their logical names per the mapping
    * (identity when None). Physical columns NOT in the mapping are
    * dropped (that is how [[dropColumn]] hides data without rewriting
    * files); meta columns always pass through. */
  private def applyMapping(raw: DataFrame,
      mapping: Option[Seq[(String, String)]]): DataFrame =
    mapping match {
      case None => raw
      case Some(ms) =>
        val present = raw.columns.toSet
        val mapped = ms.filter(m => present(m._2))
          .map { case (l, ph) => col(ph).as(l) }
        val metas = raw.columns.filter(MetaCols.contains).map(col)
        raw.select(mapped ++ metas.toSeq: _*)
    }

  private def colmapBytes(snap: Seq[(String, String)]): Array[Byte] =
    snap.map { case (l, ph) => s"$l\t$ph" }
      .mkString("", "\n", "\n").getBytes(UTF_8)

  private def writeColmap(f: FileSystem, dir: Path,
      snap: Seq[(String, String)]): Unit = {
    val out = f.create(new Path(dir, ColmapFile))
    try out.write(colmapBytes(snap))
    finally out.close()
  }

  private def pendingColmapPath(path: String, v: Int): Path =
    new Path(path, s".pending-colmap-v=$v")

  /** Persist a staged write's INTENDED column-mapping snapshot as a
    * root-level `.pending-colmap-v=N` marker at stage BEGIN (not
    * publish): a concurrent commit claiming a HIGHER slot re-snapshots
    * the mapping and, publishing first, would supersede this write's
    * schema-evolution extras (`mappingAt`: newest at-or-below wins) —
    * it merges the pending extras from this marker instead
    * ([[pendingStagedExtras]]). Removed at publish/abort (the real
    * snapshot rides as `_COLMAP.tsv` in the commit dir); a crashed
    * writer's orphan is swept by vacuum's age guard like its claim.
    * No-op on unmapped tables (None). */
  private[graft] def writePendingColmap(spark: SparkSession,
      path: String, v: Int, snap: Option[Seq[(String, String)]]): Unit =
    snap.foreach { s =>
      val f = fs(spark, path)
      val out = f.create(pendingColmapPath(path, v))
      try out.write(colmapBytes(s))
      finally out.close()
    }

  private[graft] def deletePendingColmap(spark: SparkSession,
      path: String, v: Int): Unit = {
    fs(spark, path).delete(pendingColmapPath(path, v), false)
    ()
  }

  /** Schema-evolution extras pending in IN-FLIGHT staged writers below
    * slot `v`, for a higher commit's mapping snapshot to ADOPT —
    * without this, "evolving MERGE stages at slot c, plain append
    * claims v > c and publishes first" resolves the append's snapshot
    * at head and the MERGE's freshly minted columns are silently
    * unmapped (their data orphaned). Per claimed-unpublished slot
    * c < v:
    *  - a `.pending-colmap-v=c` marker (every mapped-table writer
    *    declares one right after claiming): its entries return raw,
    *    first claim wins per logical name — the CALLER adopts the
    *    ones its committed base does not know (an aborted writer's
    *    adopted extra is a harmless ghost: no file carries its
    *    physical id, so reads never surface it, and a later add of
    *    the same logical column just reuses the id);
    *  - c committed meanwhile (publish between listing and scan):
    *    SKIPPED — the caller re-resolves its base mapping AFTER this
    *    scan, which takes the committed snapshot WHOLE (a rename/drop
    *    replaces entries; entry-wise union would resurrect them);
    *  - neither (an in-flight mapping DDL, a writer between claim and
    *    marker, or a crashed claim): unknown intent — refuse; vacuum
    *    sweeps crashed claims, [[commit]] and the fold retry the
    *    window.
    * Refusal releases THIS commit's claim (and its own pending
    * marker, for the fold's early declaration) and throws retryable.
    * Returns (logical, physical) pending entries, deduped by logical
    * name. */
  private def pendingStagedExtras(spark: SparkSession, path: String,
      v: Int, claims: Seq[Int]): (Seq[(String, String)], Boolean) = {
    if (claims.isEmpty) return (Nil, false)
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    def parse(p: Path): Seq[(String, String)] =
      store.readSmall(f, p).split('\n').filter(_.nonEmpty).toSeq
        .map(parseColmapLine)
    def refuse(c: Int): Nothing = {
      deletePendingColmap(spark, path, v)
      store.delete(f, new Path(path, s".claim-v=$v"))
      throw new java.util.ConcurrentModificationException(
        s"commit at $path (slot $v): in-flight writer at claimed " +
          s"slot $c declared no pending column mapping (a mapping " +
          "DDL mid-flight, a writer between claim and declaration, " +
          "or a crashed claim) — publishing this commit's snapshot " +
          "above it could orphan that writer's schema changes; " +
          "retried automatically, or run vacuum for a stale claim")
    }
    var sawCommitted = false
    val seen = scala.collection.mutable.Map.empty[String, String]
    val out = claims.sorted.flatMap { c =>
      val committed = new Path(s"$path/v=$c", ColmapFile)
      val pending = pendingColmapPath(path, c)
      val entries: Seq[(String, String)] =
        if (f.exists(committed)) { sawCommitted = true; Nil }
        else if (f.exists(pending)) {
          // the owner may PUBLISH between our exists-check and the
          // read (pending markers delete AFTER the publish rename) —
          // a vanished file means its committed snapshot is
          // authoritative; anything else retryable-refuses
          try parse(pending)
          catch { case _: java.io.FileNotFoundException =>
            if (f.exists(committed)) { sawCommitted = true; Nil }
            else refuse(c)
          }
        }
        else if (f.exists(committed)) { sawCommitted = true; Nil }
        else refuse(c)
      entries.flatMap { case (l, ph) =>
        seen.get(l) match {
          case None => seen(l) = ph; Some((l, ph))
          case Some(ph0) if ph0 == ph => None // duplicate binding
          case Some(_) =>
            // TWO in-flight writers bind the same logical name to
            // DIFFERENT physical ids: adopting either would orphan
            // the other's bytes — wait the conflict out (one of them
            // aborts at its own publish-time clash check)
            refuse(c)
        }
      }
    }
    (out, sawCommitted)
  }

  private def parseColmapLine(line: String): (String, String) = {
    val i = line.indexOf('\t')
    (line.substring(0, i), line.substring(i + 1))
  }

  /** Metadata-only commit carrying a new column-mapping snapshot (no
    * data files): claims the next version slot exactly like a data
    * commit, so renames serialize with concurrent appends and are
    * time-travel consistent (asOf below the rename shows the old
    * names, at or above it the new). */
  private def commitMapping(spark: SparkSession, path: String,
      change: Seq[(String, String)] => Seq[(String, String)]): Int = {
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed versions at $path to remap")
    // bootstrap: an unmapped table's identity mapping over its current
    // logical (== physical) data columns, in schema order
    val base = mappingAt(spark, path, cur).getOrElse(
      readDirs(spark, path, asOfVersions(spark, path, cur))
        .columns.toSeq.filterNot(MetaCols.contains).map(c => (c, c)))
    val snap = change(base)
    var v = cur + 1
    var probes = 0
    while (!claimSlot(store, f, path, v)) {
      v += 1
      probes += 1
      require(probes < 10000, s"mapping commit at $path probed $probes " +
        "claimed slots; claims and versions diverged — run vacuum")
    }
    // STRUCTURAL-COMMIT GUARD (checked AFTER claiming, against our
    // actual slot): this DDL's snapshot derives from the committed
    // head, so an IN-FLIGHT staged writer BELOW our slot (a schema-
    // evolving MERGE holding a claimed slot, about to publish a
    // snapshot with a freshly minted column) would have its snapshot
    // superseded by ours — the evolved column silently unmapped, its
    // data orphaned. Refuse (releasing our claim) while any lower
    // slot is claimed-but-unpublished — the same fail-loud rule as
    // GenLog.requireNoInflightBelow; writers ABOVE us are safe (their
    // publish re-resolves the mapping — refreshColmap). Wait the
    // writer out (or let vacuum sweep a crashed claim) and retry.
    val committed = versions(spark, path).toSet
    val inflight = store.listClaims(f, new Path(path))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(".claim-v=").toInt).toOption)
      .filter(c => c < v && !committed.contains(c))
    if (inflight.nonEmpty) {
      store.delete(f, new Path(path, s".claim-v=$v"))
      sys.error(s"mapping DDL at $path: version slot(s) " +
        s"${inflight.sorted.mkString(",")} are claimed but unpublished " +
        "below this DDL's slot — an in-flight write's schema-evolution " +
        "snapshot would be silently superseded; wait it out (or run " +
        "vacuum for a crashed writer's stale claim) and retry")
    }
    val staging = new Path(path,
      s".staging-v=$v-${java.util.UUID.randomUUID().toString.take(8)}")
    f.mkdirs(staging)
    writeColmap(f, staging, snap)
    f.create(new Path(staging, s"_TS_${System.currentTimeMillis()}")).close()
    f.create(new Path(staging, SuccessMarker)).close()
    val dst = new Path(path, s"v=$v")
    require(f.rename(staging, dst), s"mapping commit lost slot $v at $path")
    v
  }

  /** PHYSICAL column → widened type name from the newest
    * `_WIDEN.tsv` at or below `version` (empty = never widened).
    * Every data commit re-snapshots the map into its own dir
    * (vacuum-retention safety, like the column mapping). */
  private[io] def widenAt(spark: SparkSession, path: String,
      version: Int): Map[String, String] = {
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    versions(spark, path).filter(_ <= version).reverse.iterator
      .map(v => new Path(s"$path/v=$v", WidenFile))
      .find(f.exists)
      .map(p => store.readSmall(f, p).split('\n').filter(_.nonEmpty)
        .map { line =>
          val Array(c, t) = line.split('\t')
          (c, t)
        }.toMap)
      .getOrElse(Map.empty)
  }

  private def widenType(t: String): org.apache.spark.sql.types.DataType =
    t match {
      case "long" => org.apache.spark.sql.types.LongType
      case "double" => org.apache.spark.sql.types.DoubleType
      case other => sys.error(s"unknown widen target '$other'")
    }

  private def writeWiden(f: FileSystem, dir: Path,
      snap: Map[String, String]): Unit = {
    val out = f.create(new Path(dir, WidenFile))
    try out.write(snap.toSeq.sorted.map { case (c, t) => s"$c\t$t" }
      .mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** WIDEN a column's type WITHOUT rewriting data (int → long,
    * float → double — the two upcasts Spark's parquet reader performs
    * per file against a pinned wider schema): a metadata-only commit
    * records the widened type; every read thereafter pins it and old
    * narrow files upcast on scan. Widening is MONOTONE and
    * TABLE-GLOBAL: time travel below the widen commit also shows the
    * widened type (documented divergence from per-slice schema
    * fidelity — cross-slice operators like CDC, SCD2, and restore
    * diffs must never mix widths inside one plan, and values upcast
    * losslessly, so current-type reads are the sound choice). New
    * appends may write either width; reads stay pinned wide. */
  def widenColumn(spark: SparkSession, path: String, name: String,
      to: String): Int = {
    require(Set("long", "double")(to),
      s"widenColumn: target must be 'long' or 'double', got '$to'")
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed versions at $path to widen")
    val schema = readDirs(spark, path, asOfVersions(spark, path, cur)).schema
    val fld = schema.fields.find(_.name == name).getOrElse(sys.error(
      s"widenColumn: no column '$name' at $path " +
        s"(have ${schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.types.{FloatType, IntegerType}
    val ok = (fld.dataType, to) match {
      case (IntegerType, "long")  => true
      case (FloatType, "double")  => true
      case _                      => false
    }
    require(ok, s"widenColumn: cannot widen " +
      s"${fld.dataType.simpleString} to $to (supported: int->long, " +
      "float->double)")
    val phys = logicalToPhysical(spark, path, cur).getOrElse(name, name)
    val snap = widenAt(spark, path, cur) + (phys -> to)
    // metadata-only commit, same slot/staging dance as commitMapping
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    var v = cur + 1
    var probes = 0
    while (!claimSlot(store, f, path, v)) {
      v += 1
      probes += 1
      require(probes < 10000, s"widen commit at $path probed $probes " +
        "claimed slots; claims and versions diverged — run vacuum")
    }
    val staging = new Path(path,
      s".staging-v=$v-${java.util.UUID.randomUUID().toString.take(8)}")
    f.mkdirs(staging)
    writeWiden(f, staging, snap)
    f.create(new Path(staging, s"_TS_${System.currentTimeMillis()}")).close()
    f.create(new Path(staging, SuccessMarker)).close()
    val dst = new Path(path, s"v=$v")
    require(f.rename(staging, dst), s"widen commit lost slot $v at $path")
    v
  }

  /** RENAME a column without rewriting data (Delta's column-mapping
    * shape): the logical name changes, the physical parquet column —
    * the column's IDENTITY — stays, so every earlier commit's data,
    * CDC ([[changes]]) and SCD2 ([[history]]) survive the rename.
    * Time travel below the rename commit shows the old name
    * (historical fidelity). The V2 source/catalog read path and its
    * zone-map pruning are mapping-aware (r11); fail-loud surface
    * notes: [[bloomIndex]] and the staged-commit write faces (row-
    * level SQL DML, the streaming sink) refuse mapped tables. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Int =
    commitMapping(spark, path, { ms =>
      require(ms.exists(_._1 == from),
        s"renameColumn: no column '$from' at $path " +
          s"(have ${ms.map(_._1).mkString(", ")})")
      require(!ms.exists(_._1 == to),
        s"renameColumn: column '$to' already exists at $path")
      require(!MetaCols.contains(to) && to.nonEmpty,
        s"renameColumn: '$to' is reserved")
      ms.map { case (l, ph) => (if (l == from) to else l, ph) }
    })

  /** DROP a column without rewriting data: the mapping entry goes,
    * the physical bytes stay in old files but are invisible to every
    * read at or above the drop commit; time travel below it still
    * shows the column. A later re-add of the same name is a NEW
    * column (fresh physical id) — dropped data never resurrects. */
  def dropColumn(spark: SparkSession, path: String, name: String): Int =
    commitMapping(spark, path, { ms =>
      require(ms.exists(_._1 == name),
        s"dropColumn: no column '$name' at $path")
      require(ms.size > 1, s"dropColumn: cannot drop the last column")
      ms.filterNot(_._1 == name)
    })

  /** mergeSchema over committed data files, memoized per table root
    * ([[Memo.bySig]]). Parquet part names carry write-unique UUIDs, so
    * the sorted file list's digest IS a content signature: any append /
    * compact / vacuum / rebuild yields a fresh entry. Metadata only (a
    * StructType per distinct slice) — the footer-merge job is paid once
    * per slice instead of on every resolve/time-travel/point read over
    * the same committed state. */
  private def mergedSchemaOf(spark: SparkSession, path: String,
      files: Seq[String]): org.apache.spark.sql.types.StructType =
    Memo.bySig(path, Memo.digest(files.sorted)) {
      spark.read.option("mergeSchema", "true").parquet(files: _*).schema
    }

  /** Union the given committed version dirs — mergeSchema, so a column
    * added in a later version reads as NULL in earlier rows. Data-less
    * dirs (mapping-only commits) contribute no rows; the column
    * mapping as of the SLICE HEAD maps physical file columns to the
    * logical names of that version. On a WIDENED table ([[widenColumn]])
    * mergeSchema is replaced by a PINNED union-by-name schema with the
    * widened types: the parquet reader upcasts narrow files per file
    * (mergeSchema refuses mixed widths outright). */
  /** `mapV` pins the column-mapping snapshot the LOGICAL names come
    * from (default: the slice's own head). A reader that folds a
    * slice but COMMITS above a later metadata-only rename/drop must
    * pin the COMMIT-time version — resolving logical names below the
    * rename would make the committing write mint phantom
    * schema-evolution ids and split one column's data in two. */
  private[io] def readDirs(spark: SparkSession, path: String,
      vs: Seq[Int], mapV: Option[Int] = None): DataFrame =
    readSlice(spark, path, vs, None, mapV)

  /** [[readDirs]] restricted to `subset` of the slice's files (all of
    * them when None; none reads the slice's empty frame). The schema
    * is ALWAYS the whole slice's: pruning may drop every file of a
    * schema-evolution commit, and the survivors' own merged schema
    * would then silently lose columns. So a pruned read never depends
    * on which files were skipped, and every point or range read over
    * one committed state shares the slice's one memoized schema,
    * whatever the key. */
  private def readSlice(spark: SparkSession, path: String, vs: Seq[Int],
      subset: Option[Seq[String]], mapV: Option[Int]): DataFrame = {
    require(vs.nonEmpty, s"no committed versions to read at $path")
    val f = fs(spark, path)
    // enumerate FILES, not dirs: an incremental checkpoint's rows are
    // its own parts PLUS its manifest-carried references
    val files = vs.flatMap(v => filesOf(f, path, v)).map(_.toString)
    require(files.nonEmpty,
      s"no data-carrying versions among ${vs.mkString(",")} at $path")
    val widen = widenAt(spark, path, latestVersion(spark, path))
    val schema =
      if (widen.isEmpty) mergedSchemaOf(spark, path, files)
      else physUnionSchema(spark, path, dataVersions(spark, path, vs), widen)
    val read = subset.filter(_.nonEmpty).getOrElse(files)
    val df = applyMapping(spark.read.schema(schema).parquet(read: _*),
      mappingAt(spark, path, mapV.getOrElse(vs.max)))
    if (subset.exists(_.isEmpty)) df.filter(lit(false)) else df
  }

  /** Widen-aware PHYSICAL union-by-name schema over version dirs —
    * the pinned-read replacement for mergeSchema on widened tables
    * (mergeSchema refuses mixed widths). One footer read per dir,
    * driver-side; compaction bounds the dir count. */
  private def physUnionSchema(spark: SparkSession, path: String,
      dataVs: Seq[Int], widen: Map[String, String])
      : org.apache.spark.sql.types.StructType = {
    val fsys = fs(spark, path)
    val fields = mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    dataVs.foreach { v =>
      spark.read.parquet(filesOf(fsys, path, v).map(_.toString): _*)
        .schema.fields.foreach { f0 =>
        val f1 = widen.get(f0.name)
          .map(t => f0.copy(dataType = widenType(t))).getOrElse(f0)
        fields.get(f1.name) match {
          case None => fields(f1.name) = f1.copy(nullable = true)
          case Some(prev) => require(prev.dataType == f1.dataType,
            s"column '${f1.name}' has conflicting types " +
              s"${prev.dataType.simpleString} vs " +
              s"${f1.dataType.simpleString} at $path — widen it " +
              "(widenColumn) before mixing widths")
        }
      }
    }
    org.apache.spark.sql.types.StructType(fields.values.toSeq)
  }

  /** The data-carrying subset of `vs` (mapping/widen-only commits
    * contribute no rows). */
  private def dataVersions(spark: SparkSession, path: String,
      vs: Seq[Int]): Seq[Int] = {
    val f = fs(spark, path)
    vs.filter(v => filesOf(f, path, v).nonEmpty)
  }

  /** The earliest retained version when it is a vacuum base (history
    * below it was reclaimed), else None (full log present). */
  private[graft] def vacuumBase(spark: SparkSession, path: String): Option[Int] = {
    val vs = versions(spark, path)
    vs.headOption.filter(e => e > 1 && checkpoints(spark, path).contains(e))
  }

  /** Time travel: every committed row as of `version` — the append-log
    * view, no key resolution. Checkpoint dirs are EXCLUDED (they are
    * materialized duplicates of rows already in the log), so the
    * result is invariant under `compact`. After `vacuum`, the vacuum
    * base checkpoint stands in for the reclaimed log prefix (the
    * resolved state at the base), and versions below the base fail
    * loudly. */
  def asOf(spark: SparkSession, path: String, version: Int): DataFrame =
    readDirs(spark, path, asOfVersions(spark, path, version))

  /** The version-dir selection behind [[asOf]] (checkpoint exclusion,
    * vacuum-base substitution) — shared with the DataSourceV2 reader
    * ([[graft.sources.GraftDataSource]]), which must see exactly the
    * slice the Scala API sees. */
  private[graft] def asOfVersions(spark: SparkSession, path: String,
      version: Int): Seq[Int] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val ck = checkpoints(spark, path).toSet
    vacuumBase(spark, path) match {
      case Some(base) =>
        require(version >= base, s"asOf($version): versions below $base were " +
          s"vacuumed at $path; earliest readable version is $base")
        base +: vs.filter(v => v > base && v <= version && !ck.contains(v))
      case None =>
        vs.filter(v => v <= version && !ck.contains(v))
    }
  }

  /** The merged schema of an asOf slice (mergeSchema union — a column
    * added in a later commit is nullable over earlier rows). V2-reader
    * hook: the user-specified schema handed to the parquet scan, so
    * zone-map file pruning can never change the visible schema. */
  private[graft] def sliceSchema(spark: SparkSession, path: String,
      vs: Seq[Int]): org.apache.spark.sql.types.StructType =
    readDirs(spark, path, vs).schema

  /** File-level zone-map pruning for the V2 scan: the files of `vs`
    * whose per-column footer stats may satisfy EVERY given bound
    * (`(col, lo, hi)`, either side open; a column may appear in
    * several constraints). Files without stats are kept — missing
    * stats mean "maybe", never "skip". */
  private[graft] def pruneFilesForBounds(spark: SparkSession, path: String,
      vs: Seq[Int],
      bounds: Seq[(String, Option[Any], Option[Any])]): Seq[String] = {
    val f = fs(spark, path)
    val lookup = new StatsLookup(f)
    vs.flatMap { v =>
      filesOf(f, path, v)
        .filter { fp =>
          val st = lookup(fp)
          bounds.forall { case (c, lo, hi) => statsMayMatch(st, c, lo, hi) }
        }
        .map(_.toString)
    }
  }

  /** File-level pruning for RUNTIME `IN` filters (the V2 scan's
    * dynamic-pruning hook): keep a file iff, for EVERY (col, values)
    * set, SOME value may fall within the file's zone-map [min,max].
    * Per-value exactness (not just the set's [min,max] envelope), so
    * two join keys landing in two far-apart files keep exactly those
    * two files. Missing stats keep the file — pruning drops work,
    * never rows. */
  private[graft] def pruneFilesForInSets(spark: SparkSession, path: String,
      vs: Seq[Int], inSets: Seq[(String, Seq[Any])]): Seq[String] = {
    val f = fs(spark, path)
    val lookup = new StatsLookup(f)
    vs.flatMap { v =>
      filesOf(f, path, v)
        .filter { fp =>
          val st = lookup(fp)
          inSets.forall { case (c, values) =>
            values.exists(x => statsMayMatch(st, c, Some(x), Some(x))) }
        }
        .map(_.toString)
    }
  }

  /** LIMIT-pushdown file prefix: the shortest prefix of `files`
    * whose stamped `__nrows` counts sum to >= k. A file with no
    * count contributes nothing to the sum (so unknown counts only
    * ever KEEP more files — if counts never reach k the whole list
    * survives); the guarantee is at least min(k, total) rows
    * survive, which is all a partial limit pushdown may assume. */
  private[graft] def limitFilePrefix(spark: SparkSession, path: String,
      files: Seq[String], k: Long): Seq[String] = {
    val f = fs(spark, path)
    val statsByDir = mutable.Map.empty[
      String, Map[String, Map[String, (String, String, String)]]]
    var acc = 0L
    val keep = mutable.ArrayBuffer.empty[String]
    val it = files.iterator
    while (it.hasNext && acc < k) {
      val fp = it.next()
      keep += fp
      val p = new Path(fp)
      val st = statsByDir.getOrElseUpdate(p.getParent.toString,
        readStats(f, p.getParent))
      st.get(p.getName).flatMap(_.get("__nrows")).foreach {
        case ("count", n, _) => acc += n.toLong
        case _ => ()
      }
    }
    keep.toSeq
  }

  /** Data bytes of one version dir (0 when reclaimed/absent) — the
    * streaming source's byte-budget admission accounting. */
  private[graft] def dirBytes(spark: SparkSession, path: String,
      v: Int): Long = {
    val f = fs(spark, path)
    val d = new Path(s"$path/v=$v")
    if (!f.exists(d)) 0L
    else fileLensOf(f, path, v).sum
  }

  /** Exact row-count sum of `files` from their stamped `__nrows`
    * commit metadata — None when any file lacks one. Backs the V2
    * scan's numRows statistic. */
  private[graft] def fileRowCountSum(spark: SparkSession, path: String,
      files: Seq[String]): Option[Long] = {
    val f = fs(spark, path)
    val statsByDir = mutable.Map.empty[
      String, Map[String, Map[String, (String, String, String)]]]
    var acc = 0L
    var ok = true
    files.foreach { fp =>
      if (ok) {
        val p = new Path(fp)
        val st = statsByDir.getOrElseUpdate(p.getParent.toString,
          readStats(f, p.getParent))
        st.get(p.getName).flatMap(_.get("__nrows")) match {
          case Some(("count", n, _)) => acc += n.toLong
          case _ => ok = false
        }
      }
    }
    if (ok) Some(acc) else None
  }

  /** Aggregate shapes the zone maps can answer without opening a
    * file — the V2 scan's [[aggregateFromStats]] vocabulary. */
  private[graft] sealed trait StatAgg
  private[graft] case object StatRowCount extends StatAgg
  private[graft] final case class StatMin(physCol: String) extends StatAgg
  private[graft] final case class StatMax(physCol: String) extends StatAgg

  /** Answer `specs` over the slice `vs` from `_STATS.tsv` metadata
    * ALONE — the V2 aggregate-pushdown resolver. Some(values) iff
    * EVERY parquet file of every slice dir carries the stats every
    * spec needs: per-file row counts (`__nrows`, stamped at commit
    * from the parquet footers) for COUNT(*), an exact integer
    * [min,max] for MIN/MAX. Any gap — a dir predating stats, a file
    * whose column stat is absent (indistinguishable from an all-null
    * or evolved-away column) — declines the WHOLE pushdown and the
    * caller falls back to scanning: pruning may drop work, never
    * change answers. Returned values are java.lang.Long (count, and
    * long-typed min/max; integer columns are narrowed by the caller),
    * or null for min/max over an empty slice. Floating-point and
    * string min/max are never answered here: float footer stats have
    * NaN/-0.0 ordering hazards across writers, and string stats may
    * be truncated BOUNDS (sound for pruning, not necessarily attained
    * values).
    *
    * At 100 TB this is the difference between a metadata read (one
    * small TSV per live version dir, driver-side) and a full table
    * scan for `SELECT count(*) FROM t`. */
  private[graft] def aggregateFromStats(spark: SparkSession, path: String,
      vs: Seq[Int], specs: Seq[StatAgg]): Option[Seq[Any]] = {
    val f = fs(spark, path)
    val lookup = new StatsLookup(f)
    val fileStats = mutable.ArrayBuffer.empty[Map[String, (String, String, String)]]
    var complete = true
    vs.foreach { v =>
      if (complete) {
        filesOf(f, path, v).foreach { fp =>
          val m = lookup(fp)
          if (m.nonEmpty) fileStats += m else complete = false
        }
      }
    }
    if (!complete) return None

    // None = this spec cannot be answered exactly -> decline all.
    // A PROVABLY EMPTY file (__nrows == 0, e.g. a schema-fixing
    // CREATE commit) contributes nothing to MIN/MAX and is skipped;
    // a non-empty file missing the column's stat still declines
    // (all-null is indistinguishable from stats-unavailable).
    def fold(c: String, isMin: Boolean): Option[Any] = {
      val nonEmpty = fileStats.filter(_.get("__nrows") match {
        case Some(("count", n, _)) => n.toLong > 0
        case _ => true // unknown row count -> the stat must be there
      })
      if (nonEmpty.isEmpty) return Some(null)
      val entries = nonEmpty.map(_.get(c))
      if (entries.exists(_.isEmpty)) return None
      val es = entries.map(_.get)
      if (es.exists(_._1 != "long")) return None
      val picked = es.map(e => (if (isMin) e._2 else e._3).toLong)
      Some(java.lang.Long.valueOf(
        if (isMin) picked.min else picked.max))
    }
    val vals: Seq[Option[Any]] = specs.map {
      case StatRowCount =>
        if (fileStats.isEmpty) Some(java.lang.Long.valueOf(0L))
        else {
          val counts = fileStats.map(_.get("__nrows"))
          if (counts.exists(_.isEmpty)) None
          else Some(java.lang.Long.valueOf(counts.map(_.get._2.toLong).sum))
        }
      case StatMin(c) => fold(c, isMin = true)
      case StatMax(c) => fold(c, isMin = false)
    }
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** [[mayIntersect]] with either bound open. String bounds compare
    * in unsigned UTF-8 byte order via [[utf8Gt]] — the order the
    * parquet footers computed them in — NOT Java's UTF-16 code-unit
    * order (the two diverge for keys mixing U+E000–U+FFFF with
    * supplementary-plane characters). This backs the V2 scan's
    * pushed-string-predicate file pruning ([[pruneFilesForBounds]])
    * and the DPP runtime IN-set pruning ([[pruneFilesForInSets]]);
    * a wrong "disjoint" here is silent row loss. */
  private def statsMayMatch(stats: Map[String, (String, String, String)],
      colName: String, lo: Option[Any], hi: Option[Any]): Boolean =
    stats.get(colName) match {
      case Some((t @ ("long" | "double" | "string"), mn, mx)) =>
        def d(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
          .getBytes(UTF_8)
        // [mn,mx] ∩ [lo,hi] ≠ ∅ with open sides = check each closed side
        def cmpLo(b: Any) = t match {
          case "long"   => mx.toLong >= (b match {
            case n: Number => n.longValue(); case s => s.toString.toLong })
          case "double" => mx.toDouble >= (b match {
            case n: Number => n.doubleValue(); case s => s.toString.toDouble })
          case _ => !utf8Gt(b.toString.getBytes(UTF_8), d(mx)) // mx >= b
        }
        def cmpHi(b: Any) = t match {
          case "long"   => mn.toLong <= (b match {
            case n: Number => n.longValue(); case s => s.toString.toLong })
          case "double" => mn.toDouble <= (b match {
            case n: Number => n.doubleValue(); case s => s.toString.toDouble })
          case _ => !utf8Gt(d(mn), b.toString.getBytes(UTF_8)) // mn <= b
        }
        lo.forall(cmpLo) && hi.forall(cmpHi)
      case _ => true
    }

  /** Key-resolve a LOG SLICE frame (e.g. one read through the V2
    * source: `spark.read.format("graft").load(path)`) into the
    * current-state view — the same resolve [[current]]/[[currentAsOf]]
    * apply, over a caller-assembled slice. `hasMerges` must be true
    * iff the slice contains MERGE commits (column overlays need the
    * grouped resolve). */
  def currentOf(raw: DataFrame, keyCol: String,
      hasMerges: Boolean = false): DataFrame =
    resolve(raw, keyCol, hasMerges)

  /** Merge-on-read resolve as of `version`: the latest row per key at
    * or below it, tombstones dropped, MERGE commits applied per
    * column. Reads from the newest checkpoint <= version when one
    * exists (compaction bounds read cost). When the read range holds
    * no MERGE commits this is ONE key-partitioned `row_number` window
    * (rank-pushdown friendly); with merges it is the window plus a
    * same-key groupBy sharing the same Exchange. */
  def currentAsOf(spark: SparkSession, path: String, keyCol: String,
      version: Int): DataFrame = {
    val vs = currentAsOfVersions(spark, path, version)
    require(vs.nonEmpty,
      s"no committed versions at or below $version at $path")
    val from = vs.head - 1
    resolve(readDirs(spark, path, vs), keyCol,
      mergeVersions(spark, path).exists(v => v > from && v <= version))
  }

  /** The BOUNDED version set a resolve at `version` needs: the newest
    * checkpoint at or below it (whose key-clustered files carry the
    * tight zone maps) plus the log commits above — [[currentAsOf]]'s
    * read set, also the V2 scan's `fromCheckpointBase` slice (the
    * plain `versionAsOf` slice is the LOG view: checkpoints excluded,
    * O(history) dirs). */
  private[graft] def currentAsOfVersions(spark: SparkSession,
      path: String, version: Int): Seq[Int] = {
    val base = checkpoints(spark, path).filter(_ <= version).lastOption
    vacuumBase(spark, path).foreach { vb =>
      require(base.exists(_ >= vb), s"currentAsOf($version): versions below " +
        s"$vb were vacuumed at $path; earliest readable version is $vb")
    }
    val from = base.map(_ - 1).getOrElse(0)
    versions(spark, path).filter(v => v > from && v <= version)
  }

  /** The resolve over an already-assembled log slice. */
  private[io] def resolve(raw: DataFrame, keyCol: String,
      hasMerges: Boolean): DataFrame = {
    // legacy dirs predate __merge/__seq; mergeSchema surfaces them as
    // null — normalize so the resolve logic sees one shape
    val df0 = if (raw.columns.contains(MergeCol)) raw
      else raw.withColumn(MergeCol, lit(false))
    val df = (if (df0.columns.contains(SeqCol)) df0
      else df0.withColumn(SeqCol, lit(null).cast("long")))
      .withColumn(MergeCol, coalesce(col(MergeCol), lit(false)))
    val outCols = df.columns
      .filterNot(c => c == MergeCol || c == SeqCol || c == CkptCol)
    if (!hasMerges) {
      val w = Window.partitionBy(keyCol)
        .orderBy(col(VersionCol).desc, col(SeqCol).desc_nulls_last)
      df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1 && !col(DeletedCol))
        .select(outCols.map(col): _*)
    } else {
      val dataCols = df.columns.filterNot(c => MetaCols.contains(c) || c == keyCol)
      // newest FULL (non-merge) row per key; merges older than it are
      // superseded by the whole-row replace, merges after it overlay it
      val w = Window.partitionBy(keyCol)
      val kept = df
        .withColumn("__vfull", max(when(!col(MergeCol), col(VersionCol))).over(w))
        .filter((!col(MergeCol) && col(VersionCol) === col("__vfull")) ||
          (col(MergeCol) &&
            (col("__vfull").isNull || col(VersionCol) > col("__vfull"))))
      def latest(cond: org.apache.spark.sql.Column, c: String) =
        max(when(cond, struct(col(VersionCol), col(SeqCol), col(c))))
          .getField(c)
      val aggs = dataCols.map { c =>
        coalesce(
          latest(col(MergeCol) && col(c).isNotNull, c), // newest non-null merge
          latest(!col(MergeCol), c)                     // else the base row's
        ).as(c)
      } ++ Seq(
        max(col(VersionCol)).as(VersionCol),
        // deleted iff the base row is a tombstone with no merge after
        // it (a merge on a deleted/absent key INSERTS)
        (coalesce(
          max(when(!col(MergeCol), struct(col(VersionCol), col(SeqCol),
            col(DeletedCol)))).getField(DeletedCol), lit(false))
          && max(when(col(MergeCol), lit(1))).isNull).as(DeletedCol))
      kept.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
        .filter(!col(DeletedCol))
        .select(outCols.map(col): _*)
    }
  }

  def current(spark: SparkSession, path: String, keyCol: String): DataFrame =
    currentAsOf(spark, path, keyCol, latestVersion(spark, path))

  /** Bounded POINT-LOOKUP resolve: the current rows AT version `v`
    * for exactly the given key set — the [[changesIncremental]]
    * old-state probe as a public face. The read is the V2 scan at
    * `versionAsOf = v` with `fromCheckpointBase` (newest checkpoint +
    * the log above it — bounded dirs, key-clustered zone maps), the
    * key set joins BEFORE the resolve (broadcast under
    * `maxBroadcastKeys`, plain join above) so the runtime IN-set file
    * pruning makes it a per-key file lookup, never a table scan. Keys
    * dead or absent at `v` yield NO row; meta columns are dropped.
    * `keys` may use any column name — its FIRST column is the key.
    * This is what [[replicateStreamTo]]'s merge restatement and the
    * table→index CDC sync ([[graft.pipeline.IndexSync]]) read. */
  def currentForKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, v: Int = -1,
      maxBroadcastKeys: Long = 5000000L): DataFrame = {
    val toV = if (v < 0) latestVersion(spark, path) else v
    require(toV > 0, s"currentForKeys: no committed versions at $path")
    val k = keys.select(col(keys.columns.head).as("__ck")).distinct()
      .localCheckpoint()
    val probe = if (k.count() <= maxBroadcastKeys) broadcast(k) else k
    val raw = spark.read.format("graft")
      .option("versionAsOf", toV.toString)
      .option("fromCheckpointBase", "true")
      .load(path)
    val base0 = checkpoints(spark, path).filter(_ <= toV)
      .lastOption.getOrElse(0)
    resolve(raw.join(probe, raw(keyCol) === col("__ck")).drop("__ck"),
        keyCol,
        mergeVersions(spark, path).exists(mv => mv > base0 && mv <= toV))
      .drop(VersionCol, DeletedCol, MergeCol, SeqCol, CkptCol)
  }

  /**
   * SCD Type-2 history view: every state each key has taken, with the
   * version interval it was valid for — `valid_from` (the commit that
   * wrote the state), `valid_to` (the commit BEFORE the one that
   * superseded it; null while still live) and `is_current`. A
   * tombstone closes the preceding interval and contributes no row of
   * its own, so a deleted key's last state carries a finite
   * `valid_to` and `is_current = false`.
   *
   * One key-partitioned `lead` window over the append-log view — the
   * same single-shuffle shape as the resolve, and invariant under
   * `compact` because [[asOf]] excludes checkpoint dirs. MERGE
   * commits are rejected (fail-loud): a column overlay has no
   * self-contained row to open an interval with — expanding merges
   * into materialized states would need a per-column running
   * coalesce, which is a different (and rarely wanted) read shape.
   * After `vacuum`, history begins at the vacuum base's materialized
   * state, like Delta's `DESCRIBE HISTORY` after retention.
   */
  def history(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    require(mergeVersions(spark, path).isEmpty,
      s"history: $path contains MERGE commits; the SCD2 view is defined " +
        "over append/upsert/delete logs only")
    val raw = asOf(spark, path, latestVersion(spark, path))
    val df = if (raw.columns.contains(SeqCol)) raw
      else raw.withColumn(SeqCol, lit(null).cast("long"))
    val outCols = df.columns
      .filterNot(c => MetaCols.contains(c)).map(col)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(VersionCol), col(SeqCol).asc_nulls_first)
    df.withColumn("__vnext", lead(col(VersionCol), 1).over(w))
      .filter(!col(DeletedCol))
      .select(outCols ++ Seq(
        col(VersionCol).cast("int").as("valid_from"),
        (col("__vnext") - 1).cast("int").as("valid_to"),
        col("__vnext").isNull.as("is_current")): _*)
  }

  // ---------- zone-map file skipping ----------

  /** Per-file min/max column stats from the parquet FOOTERS of `dir`
    * (no data scan), written as `_STATS.tsv` (hidden from Spark reads).
    * Columns with non-comparable or absent statistics are skipped —
    * pruning treats a missing stat as "cannot prune". */
  /** One parquet footer statistic value → the `_STATS.tsv`
    * (type, encoded) pair; None for non-comparable types. */
  private def statsEncode(v: Any): Option[(String, String)] = v match {
    case l: java.lang.Long    => Some(("long", l.toString))
    case i: java.lang.Integer => Some(("long", i.toString))
    case d: java.lang.Double  => Some(("double", d.toString))
    case fl: java.lang.Float  => Some(("double", fl.toString))
    case b: org.apache.parquet.io.api.Binary => Some(("string",
      java.net.URLEncoder.encode(new String(b.getBytes, UTF_8), "UTF-8")))
    case _                    => None
  }

  private def writeStats(f: FileSystem, dir: Path, conf: Configuration): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def enc(v: Any): Option[(String, String)] = statsEncode(v)
    val lines = mutable.ArrayBuffer.empty[String]
    f.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { part =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(part.getPath, conf))
        try {
          // fold row-group stats into one [min,max] per column
          val acc = mutable.LinkedHashMap.empty[String, (Any, Any)]
          var bad = Set.empty[String]
          for (block <- reader.getFooter.getBlocks.asScala;
               c <- block.getColumns.asScala) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) bad += name
            else acc.get(name) match {
              case None => acc(name) = (st.genericGetMin, st.genericGetMax)
              case Some((lo, hi)) =>
                def cmp(a: Any, b: Any) =
                  a.asInstanceOf[Comparable[Any]].compareTo(b)
                acc(name) = (if (cmp(st.genericGetMin, lo) < 0) st.genericGetMin else lo,
                  if (cmp(st.genericGetMax, hi) > 0) st.genericGetMax else hi)
            }
          }
          for ((name, (lo, hi)) <- acc if !bad(name);
               (t, loS) <- enc(lo); (_, hiS) <- enc(hi))
            lines += s"${part.getPath.getName}\t$name\t$t\t$loS\t$hiS"
          // per-file row count (footer block sums) — lets COUNT(*)
          // over a slice resolve from metadata alone (V2 aggregate
          // pushdown); the `__nrows` pseudo-column can't collide with
          // data columns (the `__` namespace is reserved for commit
          // metadata)
          val rows = reader.getFooter.getBlocks.asScala
            .map(_.getRowCount).sum
          lines += s"${part.getPath.getName}\t__nrows\tcount\t$rows\t$rows"
        } finally reader.close()
      }
    val out = f.create(new Path(dir, StatsFile), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** Parse a version dir's `_STATS.tsv` → file name → (type, min, max)
    * per column. Empty when the dir predates stats. */
  private def readStats(f: FileSystem, dir: Path)
      : Map[String, Map[String, (String, String, String)]] = {
    val p = new Path(dir, StatsFile)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
    text.split('\n').filter(_.nonEmpty).toSeq
      .map(_.split('\t'))
      .collect { case Array(file, cn, t, lo, hi) => (file, cn, t, lo, hi) }
      .groupBy(_._1)
      .map { case (file, rows) =>
        file -> rows.map(r => r._2 -> ((r._3, r._4, r._5))).toMap
      }
  }

  /** True when the file's [min,max] for `colName` may intersect
    * [lo, hi] — missing stats mean "maybe". */
  private def mayIntersect(stats: Map[String, (String, String, String)],
      colName: String, lo: Any, hi: Any): Boolean =
    stats.get(colName) match {
      case Some(("long", mn, mx)) =>
        def asL(a: Any) = a match {
          case n: Number => n.longValue()
          case s => s.toString.toLong
        }
        !(mn.toLong > asL(hi) || mx.toLong < asL(lo))
      case Some(("double", mn, mx)) =>
        def asD(a: Any) = a match {
          case n: Number => n.doubleValue()
          case s => s.toString.toDouble
        }
        !(mn.toDouble > asD(hi) || mx.toDouble < asD(lo))
      case Some(("string", mn, mx)) =>
        // footer bounds were computed in unsigned UTF-8 byte order —
        // compare the query bounds the same way (see [[utf8Gt]]); a
        // UTF-16 compare here silently prunes files whose keys mix
        // U+E000–U+FFFF with supplementary-plane characters
        def d(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
          .getBytes(UTF_8)
        val (lB, hB) = (lo.toString.getBytes(UTF_8),
          hi.toString.getBytes(UTF_8))
        !(utf8Gt(d(mn), hB) || utf8Gt(lB, d(mx)))
      case _ => true
    }

  /**
   * `currentAsOf` restricted to keys in [lo, hi], with FILE-LEVEL
   * pruning from the commit-time zone maps: a parquet file whose key
   * [min,max] cannot intersect the range is never opened. Pruning on
   * the RESOLVE KEY is the one predicate that is always
   * resolve-sound: every row (upsert, tombstone, merge) of a given
   * key carries the key value, so a file excluded by the key range
   * holds no row of any key in the range. Files without stats are
   * read (never pruned). Key-clustered ingest (e.g. range-partitioned
   * writers) makes this the classic zone-map win.
   */
  def currentAsOfRange(spark: SparkSession, path: String, keyCol: String,
      version: Int, lo: Any, hi: Any): DataFrame = {
    val base = checkpoints(spark, path).filter(_ <= version).lastOption
    vacuumBase(spark, path).foreach { vb =>
      require(base.exists(_ >= vb), s"currentAsOfRange($version): versions " +
        s"below $vb were vacuumed at $path; earliest readable version is $vb")
    }
    val from = base.map(_ - 1).getOrElse(0)
    val vs = versions(spark, path).filter(v => v > from && v <= version)
    require(vs.nonEmpty, s"no committed versions in ($from, $version] at $path")
    resolve(readPruned(spark, path, vs, keyCol, lo, hi), keyCol,
      mergeVersions(spark, path).exists(v => v > from && v <= version))
      // exact predicate on top of the pruned scan
      .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
  }

  /** Zone-map-pruned union read of the given version dirs: only files
    * whose footer [min,max] for `colName` may intersect [lo, hi] are
    * opened. */
  private def readPruned(spark: SparkSession, path: String, vs: Seq[Int],
      colName: String, lo: Any, hi: Any): DataFrame = {
    val f = fs(spark, path)
    val lookup = new StatsLookup(f)
    // zone maps speak the stable PHYSICAL name; `colName` is logical
    val phys = logicalToPhysical(spark, path, vs.max)
      .getOrElse(colName, colName)
    val files = vs.flatMap { v =>
      filesOf(f, path, v)
        .filter(fp => mayIntersect(lookup(fp), phys, lo, hi))
        .map(_.toString)
    }
    readSlice(spark, path, vs, Some(files), None)
  }

  /** Zone-map-pruned LOG view: `asOf` restricted to rows with `colName`
    * in [lo, hi]. Unlike [[currentAsOfRange]] this is sound for ANY
    * column (the log view resolves no keys, so dropping files that
    * cannot match loses nothing) — with a Z-ORDER-clustered checkpoint
    * ([[compactZOrder]]) it skips files on every clustered column. */
  def asOfRange(spark: SparkSession, path: String, version: Int,
      colName: String, lo: Any, hi: Any): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val ck = checkpoints(spark, path).toSet
    val picked = vacuumBase(spark, path) match {
      case Some(base) =>
        require(version >= base, s"asOfRange($version): versions below " +
          s"$base were vacuumed at $path; earliest readable version is $base")
        base +: vs.filter(v => v > base && v <= version && !ck.contains(v))
      case None => vs.filter(v => v <= version && !ck.contains(v))
    }
    readPruned(spark, path, picked, colName, lo, hi)
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  def currentRange(spark: SparkSession, path: String, keyCol: String,
      lo: Any, hi: Any): DataFrame =
    currentAsOfRange(spark, path, keyCol, latestVersion(spark, path), lo, hi)

  // ---------- per-file Bloom point-lookup index ----------

  private val BloomFile = "_BLOOM.tsv"

  /**
   * Maintenance op: write a per-FILE Bloom filter over `keyCol` into
   * every committed version dir that lacks one (idempotent at FILE
   * granularity: a dir re-indexes only the files its `_BLOOM.tsv`
   * does not cover — so a post-compact run picks up the new
   * checkpoint dir, and a post-vacuum run heals files materialized
   * into an already-indexed dir from an unindexed home). Zone maps
   * prune point lookups only when ingest
   * is key-clustered; on an UNCLUSTERED high-cardinality key every
   * file's [min,max] spans the lookup and nothing is skipped — the
   * per-file Bloom is the index that makes `currentAsOfPoint` open
   * ~1 file per version dir regardless of layout (Delta's Bloom
   * index shape). Build cost is one distributed pass per un-indexed
   * dir (delta-sized at steady state: new commits are deltas); each
   * file's filter is SIZED TO ITS ROW COUNT (bitsPerKey bits/row,
   * pow2-rounded, 1 KiB–2 MiB) — a fixed width would saturate on a
   * checkpoint's large files and silently admit everything.
   * Published atomically via the session's [[LogStore]] — readers
   * see the whole index or none (absence just means "no pruning").
   * Returns the dirs indexed.
   */
  def bloomIndex(spark: SparkSession, path: String, keyCol: String,
      bitsPerKey: Int = 10, kHashes: Int = 5): Int = {
    require(bitsPerKey >= 2 && kHashes >= 1,
      s"bad bloom params: bitsPerKey=$bitsPerKey kHashes=$kHashes")
    val f = fs(spark, path)
    val store = LogStore.forSession(spark)
    // column-mapped table: the files speak PHYSICAL names — build and
    // store the index under the stable physical id (one head snapshot
    // is correct for every dir: physical ids never change), and the
    // point-lookup face translates its key the same way
    val physKey = logicalToPhysical(spark, path,
      latestVersion(spark, path)).getOrElse(keyCol, keyCol)
    var indexed = 0
    versions(spark, path).foreach { v =>
      val dir = new Path(s"$path/v=$v")
      val bp = new Path(dir, BloomFile)
      val existingLines = readSmallText(f, bp)
        .split('\n').filter(_.nonEmpty).toSeq
      val covered = existingLines.map(_.takeWhile(_ != '\t')).toSet
      val parts0 = f.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      val parts = parts0.filterNot(p => covered(p.getName))
      if (parts.nonEmpty) {
          val widen = widenAt(spark, path, latestVersion(spark, path))
          val partRead =
            if (widen.isEmpty)
              spark.read.option("mergeSchema", "true")
                .parquet(parts.map(_.toString): _*)
            else spark.read.schema(physUnionSchema(spark, path, Seq(v),
                widen))
              .parquet(parts.map(_.toString): _*)
          val keys = partRead
            .select(input_file_name().as("__file"), col(physKey))
            .localCheckpoint()
          // SIZE THE FILTER TO THE FILE: a fixed width saturates on a
          // checkpoint's row-count-sized files (a full filter admits
          // everything — silently useless, not wrong). One bounded agg
          // gives rows-per-file; mBits = next pow2 of bitsPerKey×rows,
          // clamped to [2^13, 2^24] (1 KiB .. 2 MiB per file).
          val rowsPerFile = keys.groupBy("__file").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          def mBitsFor(n: Long): Int = {
            val want = math.max(1L << 13,
              math.min(1L << 24, bitsPerKey.toLong * math.max(n, 1L)))
            java.lang.Long.highestOneBit(want * 2 - 1).toInt
          }
          val byBits = rowsPerFile.groupBy { case (_, n) => mBitsFor(n) }
          val lines = byBits.toSeq.flatMap { case (mBits, files) =>
            val lanes = graft.pipeline.Bloom.buildGrouped(
              keys.filter(col("__file").isin(files.keys.toSeq: _*)),
              "__file", physKey, mBits, kHashes)
            lanes.toSeq.map { case (file, arr) =>
              val name = new Path(file).getName
              val packed = arr.zipWithIndex.collect {
                case (bits, i) if bits != 0L =>
                  s"$i:${java.lang.Long.toHexString(bits)}"
              }.mkString(",")
              s"$name\t$physKey\t$mBits\t$kHashes\t$packed"
            }
          }.sorted
          // merge with lines already covering other files; a re-publish
          // drops the old file first — the torn window shows NO index
          // (no pruning), never a half-written one
          val merged = (existingLines ++ lines).mkString("", "\n", "\n")
          if (existingLines.nonEmpty) store.delete(f, bp)
          store.writeAtomic(f, bp, merged)
          indexed += 1
      }
    }
    indexed
  }

  /** Parse a version dir's `_BLOOM.tsv` → file name →
    * (keyCol, mBits, kHashes, lanes). Empty when un-indexed. */
  private def readBloom(spark: SparkSession, f: FileSystem, dir: Path)
      : Map[String, (String, Int, Int, Array[Long])] = {
    val p = new Path(dir, BloomFile)
    if (!f.exists(p)) return Map.empty
    LogStore.forSession(spark).readSmall(f, p)
      .split('\n').filter(_.nonEmpty).toSeq
      .map(_.split('\t'))
      .collect { case Array(file, kc, m, kh, packed) =>
        val mBits = m.toInt
        val arr = new Array[Long](mBits / 64)
        packed.split(',').filter(_.nonEmpty).foreach { pair =>
          val Array(i, hex) = pair.split(':')
          arr(i.toInt) = java.lang.Long.parseUnsignedLong(hex, 16)
        }
        file -> ((kc, mBits, kh.toInt, arr))
      }.toMap
  }

  /**
   * Point lookup: `currentAsOf` restricted to ONE key, opening only
   * files that may hold a row of that key — zone maps first (free),
   * then the per-file Bloom filters where [[bloomIndex]] has run.
   * Sound for the same reason as [[currentAsOfRange]]: every row of
   * a key (upsert, tombstone, merge) carries the key value, the
   * filters are built over ALL rows of each file, and a Bloom filter
   * has no false negatives — so a skipped file holds no row of the
   * key. Un-indexed files are read, never pruned.
   */
  def currentAsOfPoint(spark: SparkSession, path: String, keyCol: String,
      version: Int, key: Any): DataFrame =
    currentAsOfPoints(spark, path, keyCol, version, Seq(key))

  /** BATCHED [[currentAsOfPoint]]: one metadata pass (zone maps +
    * Bloom filters read once), one file set (a file is opened when it
    * may hold ANY of the keys), one window resolve — instead of a
    * per-key resolve plan unioned |keys| times. Per-key rows are
    * identical to the single-key face: every file holding a key's
    * rows survives that key's pruning, so the shared resolve sees the
    * key's full history; rows of other (non-looked-up) keys the wider
    * file set drags in are dropped by the final IN filter. */
  def currentAsOfPoints(spark: SparkSession, path: String, keyCol: String,
      version: Int, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "currentAsOfPoints: empty key list")
    val base = checkpoints(spark, path).filter(_ <= version).lastOption
    vacuumBase(spark, path).foreach { vb =>
      require(base.exists(_ >= vb), s"currentAsOfPoint($version): versions " +
        s"below $vb were vacuumed at $path; earliest readable version is $vb")
    }
    val from = base.map(_ - 1).getOrElse(0)
    val vs = versions(spark, path).filter(v => v > from && v <= version)
    require(vs.nonEmpty, s"no committed versions in ($from, $version] at $path")
    val keyS = keys.map(String.valueOf(_))
    val f = fs(spark, path)
    val statsL = new StatsLookup(f)
    val bloomL = new BloomLookup(spark, f)
    // zone maps and blooms are keyed by the stable PHYSICAL name
    val physKey = logicalToPhysical(spark, path, version)
      .getOrElse(keyCol, keyCol)
    val files = vs.flatMap { v =>
      filesOf(f, path, v)
        .filter { fp =>
          val st = statsL(fp)
          val bl = bloomL(fp)
          keys.indices.exists { i =>
            mayIntersect(st, physKey, keys(i), keys(i)) &&
              (bl match {
                case Some((kc, m, kh, lanes)) if kc == physKey =>
                  graft.pipeline.Bloom.testKey(keyS(i), lanes, m, kh)
                case _ => true
              })
          }
        }
        .map(_.toString)
    }
    resolve(readSlice(spark, path, vs, Some(files), None), keyCol,
      mergeVersions(spark, path).exists(v => v > from && v <= version))
      .filter(col(keyCol).isin(keys: _*))
  }

  def currentPoint(spark: SparkSession, path: String, keyCol: String,
      key: Any): DataFrame =
    currentAsOfPoint(spark, path, keyCol, latestVersion(spark, path), key)

  /** BATCHED [[currentPoint]] — see [[currentAsOfPoints]]. */
  def currentPoints(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Any]): DataFrame =
    currentAsOfPoints(spark, path, keyCol, latestVersion(spark, path), keys)

  /** Materialize the resolved state as a checkpoint version. History
    * is preserved (time travel to older versions still works); reads
    * at or past the checkpoint no longer touch older versions. */
  /** `nFiles > 0` sizes and KEY-CLUSTERS the checkpoint: range-
    * partition by the key into exactly that many files, sorted within
    * each — the operational knob a 100 TB table needs (a default
    * shuffle-partition checkpoint would be ~32 table-sized files) and
    * a double win, since tight disjoint key ranges per file make the
    * commit zone maps maximally selective for point reads, runtime
    * filtering, and range pruning. 0 = keep the resolve's layout. */
  def compact(spark: SparkSession, path: String, keyCol: String,
      nFiles: Int = 0): Int = {
    val resolved = current(spark, path, keyCol)
      .drop(VersionCol, SeqCol, MergeCol, CkptCol)
    val sized =
      if (nFiles > 0)
        resolved.repartitionByRange(nFiles, col(keyCol))
          .sortWithinPartitions(keyCol)
      else resolved
    commit(sized, path, checkpoint = true)
  }

  /**
   * INCREMENTAL checkpoint — Delta OPTIMIZE's file-selection shape
   * applied to MOR compaction: fold ONLY the delta committed since the
   * last checkpoint, carrying that checkpoint's untouched files BY
   * REFERENCE (a `_MANIFEST.tsv` of `v=<c>/<file>` entries, atomic
   * with the staged commit) instead of rewriting them. Each
   * maintenance run costs O(touched files + delta), never O(table):
   *
   *  1. touched keys = distinct keys of the delta commits (delta-sized
   *     read);
   *  2. a checkpoint file CARRIES iff its key zone map provably
   *     excludes every touched key (one broadcast range-join of the
   *     bounded per-file range list against the touched keys) AND it
   *     is at least `minFileBytes` (under-sized files are folded into
   *     the rewrite — the bin-packing knob); missing key stats force a
   *     rewrite (carrying may drop work, never rows);
   *  3. the new checkpoint's OWN files = resolve(touched checkpoint
   *     files ∪ delta) — correct because a carried file's keys appear
   *     in no delta commit and in no other checkpoint file (a
   *     checkpoint holds each key exactly once).
   *
   * Carried rows keep their original `__v`/`__ckpt = true` stamps, so
   * the log view and both streaming faces keep excluding them
   * row-wise, and the resolve is indifferent (keys never collide
   * across carried/rewritten parts). [[vacuum]] MATERIALIZES carried
   * references before reclaiming their home dirs (files move into the
   * referencing checkpoint, stats/blooms follow), so retention never
   * strands a reference. `nFiles > 0` sizes/key-clusters the rewritten
   * part like [[compact]].
   *
   * The version slot is claimed BEFORE the fold reads anything, so a
   * concurrent append lands ABOVE the new checkpoint and stays
   * visible; in-flight claims below refuse loudly first (the
   * [[viewDeltaSlice]] guard — a lower-slot publish after our fold
   * would be hidden by the new base). First-ever checkpoint (no base
   * to fold from) falls back to a full [[compact]]. A head that is
   * already a checkpoint returns it unchanged (idempotent no-op).
   */
  def compactIncremental(spark: SparkSession, path: String,
      keyCol: String, minFileBytes: Long = 0L, nFiles: Int = 0): Int =
    compactIncrementalAttempt(spark, path, keyCol, minFileBytes, nFiles,
      attempt = 0)

  /** How long [[compactIncremental]] will wait out concurrent writers
    * racing the head+1 slot before failing loudly (overridable via
    * `spark.graft.compact.claimWaitMs` — row-level DML auto-invokes
    * the fold at planning time, so a table under sustained ingest may
    * want a larger budget rather than spurious statement failures). */
  private def claimWaitBudgetMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.compact.claimWaitMs")
      .map(_.toLong).getOrElse(30000L)

  private def compactIncrementalAttempt(spark: SparkSession, path: String,
      keyCol: String, minFileBytes: Long, nFiles: Int,
      attempt: Int, deadline: Long = 0L): Int = {
    val dl = if (deadline > 0L) deadline
      else System.currentTimeMillis() + claimWaitBudgetMs(spark)
    require(attempt == 0 || System.currentTimeMillis() < dl,
      s"compactIncremental at $path lost the head+1 slot to " +
        "concurrent writers for the whole " +
        s"${claimWaitBudgetMs(spark)} ms wait budget " +
        "(spark.graft.compact.claimWaitMs); wait for them (or let " +
        "vacuum sweep a crashed writer's stale claim) and retry")
    val f = fs(spark, path)
    val head = latestVersion(spark, path)
    val ck = checkpoints(spark, path)
    val base = ck.filter(_ <= head).lastOption
    if (base.isEmpty) return compact(spark, path, keyCol, nFiles)
    val c = base.get
    if (c == head) return c
    // serialize against in-flight lower-slot writers, then pin OUR
    // slot at head+1 so nothing can commit inside the fold range. A
    // pending lower-slot claim gets the same bounded backoff as a
    // lost head+1 race — it is the same condition (a writer mid-
    // commit), and failing a DML statement instantly on a hot table
    // would make steady ingest + periodic MERGE spuriously flaky.
    val pending = unpublishedClaims(spark, path).filter(_ <= head)
    if (pending.nonEmpty) {
      require(System.currentTimeMillis() < dl,
        s"compactIncremental at $path: version slot(s) " +
          s"${pending.mkString(",")} stayed claimed but unpublished " +
          s"for the whole ${claimWaitBudgetMs(spark)} ms wait budget " +
          "(spark.graft.compact.claimWaitMs); a lower-slot publish " +
          "after the fold would be hidden by the new checkpoint — " +
          "wait for the writer (or let vacuum sweep a crashed " +
          "writer's stale claim) and retry")
      val b = math.min(100L << math.min(attempt, 6), 3200L)
      Thread.sleep(b / 2 +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(b / 2 + 1))
      return compactIncrementalAttempt(spark, path, keyCol, minFileBytes,
        nFiles, attempt + 1, dl)
    }
    val store = LogStore.forSession(spark)
    val v = head + 1
    if (!claimSlot(store, f, path, v)) {
      // a writer claimed head+1 between our listing and the CAS —
      // back off exponentially with jitter (thundering-herd safe when
      // several DMLs race one hot table), then fold against whatever
      // head that writer published
      val b = math.min(100L << math.min(attempt, 6), 3200L)
      Thread.sleep(b / 2 +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(b / 2 + 1))
      return compactIncrementalAttempt(spark, path, keyCol, minFileBytes,
        nFiles, attempt + 1, dl)
    }
    // declare the head mapping for the fold's PRE-COMMIT window (the
    // touched-key classification below is a real Spark job): without
    // this, concurrent mapped-table commits refuse on the fold's
    // still-undeclared claim for the classification's whole duration;
    // commitAt re-declares (with any merged extras) before the write
    mappingAt(spark, path, head).foreach(snap =>
      writePendingColmap(spark, path, v, Some(snap)))
    val ckSet = ck.toSet
    val deltaVs = versions(spark, path)
      .filter(x => x > c && x <= head && !ckSet.contains(x))
    val dataDeltas = deltaVs.filter(x => filesOf(f, path, x).nonEmpty)
    if (dataDeltas.isEmpty) {
      // metadata-only delta (mapping/widen commits): nothing to fold —
      // release the slot and report the standing checkpoint
      deletePendingColmap(spark, path, v)
      store.delete(f, new Path(path, s".claim-v=$v"))
      return c
    }
    val hasMerges = mergeVersions(spark, path)
      .exists(x => x > c && x <= head)
    val physKey = logicalToPhysical(spark, path, head)
      .getOrElse(keyCol, keyCol)
    // mapping pinned at HEAD: the fold commits ABOVE any metadata-only
    // rename between the newest data delta and head, so logical names
    // must be head's — else commitAt would mint phantom extras
    val touched = readDirs(spark, path, dataDeltas, mapV = Some(head))
      .select(col(keyCol)).distinct()
    val lookup = new StatsLookup(f)
    val ckFiles = filesOf(f, path, c)
    // candidate carries: big enough AND a key range to reason with
    val (candidates, forced) = ckFiles.partition { fp =>
      lookup(fp).contains(physKey) &&
        f.getFileStatus(fp).getLen >= minFileBytes
    }
    val ranges = candidates.map(fp => (fp, lookup(fp)(physKey)))
    val types = ranges.map(_._2._1).distinct
    // files whose range intersects SOME touched key must rewrite; the
    // per-file range list is bounded (files of one checkpoint), so the
    // classification is one broadcast join against the touched keys
    val dirty: Set[String] =
      if (ranges.isEmpty) Set.empty
      else if (types.size > 1) ranges.map(_._1.toString).toSet
      else {
        import spark.implicits._
        val (castTo, rdf) = types.head match {
          case "long" => ("long", ranges.map { case (fp, (_, lo, hi)) =>
            (fp.toString, lo.toLong, hi.toLong) }.toDF("__file", "__lo", "__hi"))
          case "double" => ("double", ranges.map { case (fp, (_, lo, hi)) =>
            (fp.toString, lo.toDouble, hi.toDouble) }
            .toDF("__file", "__lo", "__hi"))
          case _ => ("string", ranges.map { case (fp, (_, lo, hi)) =>
            (fp.toString, java.net.URLDecoder.decode(lo, "UTF-8"),
              java.net.URLDecoder.decode(hi, "UTF-8")) }
            .toDF("__file", "__lo", "__hi"))
        }
        touched.join(broadcast(rdf),
            col(keyCol).cast(castTo) >= col("__lo") &&
              col(keyCol).cast(castTo) <= col("__hi"))
          .select("__file").distinct()
          .collect().map(_.getString(0)).toSet
      }
    val carried = candidates.filterNot(fp => dirty(fp.toString))
    val rewrite = forced ++ candidates.filter(fp => dirty(fp.toString))
    val foldFiles = rewrite.map(_.toString) ++
      dataDeltas.flatMap(x => filesOf(f, path, x)).map(_.toString)
    val sliceVs = c +: dataDeltas
    val resolved = resolve(
        readSlice(spark, path, sliceVs, Some(foldFiles),
          Some(head)), keyCol,
        hasMerges)
      .drop(VersionCol, SeqCol, MergeCol, CkptCol)
    // the rewritten part is key-clustered BY DEFAULT, sized like the
    // files it replaces: repeated incremental folds must keep each
    // file's key zone tight (that selectivity is what lets the NEXT
    // fold carry most files, and what point/range/DPP pruning feed
    // on) — an unclustered rewrite would decay the layout per fold.
    // A Z-ORDERED standing checkpoint (its `_ZCOLS_` marker) gets the
    // SAME interleaved sort re-applied to the rewritten slice (Morton
    // key scaled over the slice's own min/max — zone tightness is
    // per-file, so local scaling preserves per-file selectivity on
    // every clustered column), and the marker carries forward; folds
    // would otherwise silently decay non-key selectivity until the
    // next explicit compactZOrder. Clustered columns a rename removed
    // from the logical schema drop out of the re-applied key.
    val zCols = zcolsAt(spark, path, c)
      .filter(resolved.columns.contains(_))
    val outFiles = if (nFiles > 0) nFiles else math.max(rewrite.size, 1)
    val sortKey: Seq[org.apache.spark.sql.Column] =
      if (zCols.isEmpty) Seq(col(keyCol))
      else {
        val aggs = zCols.flatMap(cn =>
          Seq(min(col(cn)).cast("double"), max(col(cn)).cast("double")))
        val mm = resolved.agg(aggs.head, aggs.tail: _*).head()
        Seq(zorderKey(zCols.zipWithIndex.map { case (cn, i) =>
          val lo = if (mm.isNullAt(2 * i)) 0.0 else mm.getDouble(2 * i)
          val hi = if (mm.isNullAt(2 * i + 1)) 1.0
            else mm.getDouble(2 * i + 1)
          (col(cn), lo, hi)
        }))
      }
    val sized = resolved.repartitionByRange(outFiles, sortKey: _*)
      .sortWithinPartitions(sortKey: _*)
    // carried entries stay addressed at their CURRENT home (a chain of
    // incremental checkpoints references each file where it lives, so
    // no transitive manifest walk exists). A file outside this table's
    // root — a shallow clone's source reference — stays ABSOLUTE.
    val root = f.makeQualified(new Path(path))
    val rels = carried.map(f.makeQualified).map { fp =>
      if (fp.getParent != null && fp.getParent.getParent == root)
        s"${fp.getParent.getName}/${fp.getName}"
      else fp.toString
    }
    try commitAt(sized, path, v, checkpoint = true, merge = false,
      batchMarker = if (zCols.isEmpty) None else Some(zcolsMarker(zCols)),
      sortBy = Nil, sortFiles = 0, manifest = rels)
      .getOrElse(sys.error(s"compactIncremental at $path lost claimed " +
        s"slot v=$v to an occupied dir — claims and versions diverged; " +
        "run vacuum and retry"))
    catch {
      case _: java.util.ConcurrentModificationException =>
        // a lower writer sat in its claim→declare window during the
        // fold's commit — the refusal released our claim AND our
        // pending marker; back off and retry the whole fold within
        // the same deadline budget (the message's "retried
        // automatically" must hold on this path too, not only for
        // plain commits)
        val b = math.min(100L << math.min(attempt, 6), 3200L)
        Thread.sleep(b / 2 + java.util.concurrent.ThreadLocalRandom
          .current().nextLong(b / 2 + 1))
        compactIncrementalAttempt(spark, path, keyCol, minFileBytes,
          nFiles, attempt + 1, dl)
    }
  }

  /**
   * SHALLOW CLONE (Delta `CLONE`'s zero-copy shape): create `dst` as a
   * new table whose base checkpoint carries EVERY file of `src`'s
   * resolved head BY REFERENCE (absolute manifest entries) — no data
   * copied, constant-time regardless of table size. The clone is
   * fully independent for WRITES: appends/DML/compaction land in
   * `dst` only and never touch `src`; a full [[compact]] of the clone
   * materializes its own bytes and cuts the dependency entirely (then
   * [[releaseClone]] on the source frees its retention). Mechanically
   * it reuses the incremental-checkpoint manifest: the clone's base
   * commit is numbered `v=<srcSnapshot>`, so carried rows' original
   * `__v` stamps order correctly below every later clone commit, and
   * the base reads as the clone's vacuum floor (history below it
   * never existed here).
   *
   * The source snapshot is the head checkpoint, auto-maintained
   * incrementally when the head is dirty — so cloning a hot table
   * costs one delta fold, not a rewrite.
   *
   * A COLUMN-MAPPED or TYPE-WIDENED source clones too: its mapping
   * and widen snapshots are SEEDED into the clone's base commit dir,
   * so the clone reads logical names / widened types exactly like the
   * source did — and evolves them independently afterwards (a rename
   * on the clone never touches the source; physical ids minted on the
   * clone are salted with clone-side version numbers, all above the
   * snapshot, so they can never collide with ids riding in the
   * referenced files).
   *
   * DURABILITY vs the source's vacuum: the clone's references are
   * registered in the source's `_EXPORTS.tsv`. The source's
   * [[vacuum]] then (a) never MOVES an exported file when it
   * materializes manifest refs and (b) sweeps a reclaimed version dir
   * around exported files instead of deleting it whole — so routine
   * source maintenance can never strand a clone (this replaces the
   * old Delta-style caveat, under which a source vacuum that merely
   * materialized carried refs silently relocated files out from under
   * the clone). DROPPING the source still strands the clone (reads
   * fail loudly, never silently) — `compact` the clone first, then
   * [[releaseClone]].
   */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
      keyCol: String): Int = {
    require(latestVersion(spark, dst) == 0,
      s"cloneShallow: destination $dst already has committed versions")
    val f = fs(spark, dst)
    // the snapshot to reference must be self-contained: the head
    // checkpoint (folded incrementally if the head is dirty)
    val snapV = headCheckpointVersion(spark, src).getOrElse(
      compactIncremental(spark, src, keyCol))
    require(snapV > 1, s"cloneShallow: source snapshot v=$snapV is " +
      "degenerate (first commit cannot be a checkpoint)")
    val srcFs = fs(spark, src)
    val refs = filesOf(srcFs, src, snapV)
      .map(srcFs.makeQualified).map(_.toString)
    // mapped/widened source: seed its snapshots into the clone's base
    val cloneMapping = mappingAt(spark, src, snapV)
    val cloneWiden = widenAt(spark, src, snapV)
    // schema-fixing empty frame (commit stamps fresh meta columns) in
    // PHYSICAL column names — the referenced files' bytes speak them,
    // and the seeded mapping translates them back to logical for
    // every reader; the base version NUMBER is the source snapshot's,
    // so carried __v values sit at-or-below it and later clone
    // commits outrank
    val logical = readDirs(spark, src, Seq(snapV))
      .filter(lit(false))
      .drop(VersionCol, SeqCol, MergeCol, CkptCol, DeletedCol)
    val l2p = cloneMapping.map(_.toMap).getOrElse(Map.empty)
    val empty = logical.select(logical.columns.toSeq.map(c =>
      col(c).as(l2p.getOrElse(c, c))): _*)
    // register the references BEFORE the clone commits: a crash in
    // between leaves only harmless extra retention ([[releaseClone]]
    // or a re-run clears it), never an unprotected clone
    registerExports(spark, srcFs, src, dst, refs)
    val store = LogStore.forSession(spark)
    require(claimSlot(store, f, dst, snapV),
      s"cloneShallow: destination slot v=$snapV at $dst is claimed")
    commitAt(empty, dst, snapV, checkpoint = true, merge = false,
      batchMarker = None, sortBy = Nil, sortFiles = 0, manifest = refs,
      colmapSeed = cloneMapping, widenSeed = cloneWiden)
      .getOrElse(sys.error(s"cloneShallow at $dst lost claimed slot " +
        s"v=$snapV to an occupied dir"))
  }

  // ---------- clone export registry ----------

  private val ExportsFile = "_EXPORTS.tsv"

  /** One export pin: `file` (qualified path in THIS table) is
    * referenced by `cloneDst` since `sinceMillis` (0 = registered
    * before timestamps existed). Two kinds share the registry:
    * shallow-clone pins (`leaseMs` = 0 — block reclaim until
    * [[releaseClone]]) and READER snapshot pins
    * (`cloneDst` = `pin:<name>`, `leaseMs` > 0 — [[vacuum]]
    * auto-releases them once the lease expires, so a crashed reader
    * can never block reclaim forever). */
  final case class ExportPin(cloneDst: String, file: String,
      sinceMillis: Long, leaseMs: Long = 0L)

  /** The registry is a chain of VERSIONED files (`_EXPORTS.tsv`, then
    * `_EXPORTS.tsv.1`, `.2`, …): every update WRITES the next suffix
    * (writeAtomic refuses an occupied name — the CAS two concurrent
    * clones race on) and only then deletes the superseded files, so a
    * crash at any point leaves the newest complete file authoritative
    * — never a window where every clone's registrations are gone (the
    * old delete-then-rewrite shape erased ALL retention if the writer
    * died between the two). Returns (newest suffix, its entries, all
    * registry file paths). */
  private def exportsState(spark: SparkSession, f: FileSystem,
      path: String): (Int, Seq[ExportPin], Seq[Path]) = {
    val root = new Path(path)
    if (!f.exists(root)) return (-1, Nil, Nil)
    val files = f.listStatus(root).toSeq.map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n == ExportsFile) Some(0 -> p)
        else if (n.startsWith(ExportsFile + "."))
          n.stripPrefix(ExportsFile + ".").toIntOption.map(_ -> p)
        else None
      }
    if (files.isEmpty) return (-1, Nil, Nil)
    val (n, newest) = files.maxBy(_._1)
    val entries = LogStore.forSession(spark).readSmall(f, newest)
      .split('\n').filter(_.nonEmpty).toSeq.map { line =>
        // dst \t ref [\t sinceMillis] — the stamp arrived in r15, so
        // a pre-existing registry's 2-field lines parse as since = 0
        line.split('\t') match {
          case Array(d, r) => ExportPin(d, r, 0L)
          case Array(d, r, ts) => ExportPin(d, r, ts.toLong)
          case Array(d, r, ts, lease) =>
            ExportPin(d, r, ts.toLong, lease.toLong)
          case other => sys.error(
            s"export registry at $path: malformed line '$line' " +
              s"(${other.length} fields)")
        }
      }
    (n, entries, files.map(_._2))
  }

  /** The pins from this table's export registry — files of THIS table
    * that shallow clones reference, with the registration time. */
  private[io] def exports(spark: SparkSession,
      path: String): Seq[ExportPin] =
    exportsState(spark, fs(spark, path), path)._2

  /** Per-pin observability (which file, which clone, since when) —
    * DESCRIBE-DETAIL's companion for the clone-retention story: these
    * are the files [[vacuum]] will NOT reclaim until [[releaseClone]]
    * frees them. */
  def clonePins(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    exports(spark, path)
      .map(p => (p.cloneDst, p.file, p.sinceMillis, p.leaseMs))
      .toDF("clone", "file", "since_ts_millis", "lease_ms")
  }

  /** CLONE pins older than `leaseMs` (0 since-stamps — pre-stamp
    * legacy — count as expired: their age is unknown and unbounded).
    * Reader snapshot pins (own `leaseMs` > 0) are excluded: they
    * self-expire under their OWN lease and must not trip the
    * forgotten-clone warning with `releaseClone` advice. */
  private[graft] def expiredExports(spark: SparkSession, path: String,
      leaseMs: Long): Seq[ExportPin] = {
    val now = System.currentTimeMillis()
    exports(spark, path).filter(p =>
      p.leaseMs == 0 && now - p.sinceMillis > leaseMs)
  }

  /** Qualified paths of this table's files referenced by any clone. */
  private[graft] def exportedFiles(spark: SparkSession,
      path: String): Set[String] = exports(spark, path).map(_.file).toSet

  /** Read-modify-write of the registry through the versioned-file CAS:
    * re-reads and re-applies `xform` on every lost race. */
  private def updateExports(spark: SparkSession, f: FileSystem,
      path: String)(
      xform: Seq[ExportPin] => Seq[ExportPin]): Int = {
    val store = LogStore.forSession(spark)
    var attempt = 0
    while (true) {
      val (n, cur, old) = exportsState(spark, f, path)
      val next = xform(cur).distinct
      val target = new Path(path, s"$ExportsFile.${n + 1}")
      try {
        store.writeAtomic(f, target,
          next.map(p =>
              s"${p.cloneDst}\t${p.file}\t${p.sinceMillis}\t${p.leaseMs}")
            .mkString("", "\n", "\n"))
        old.foreach(store.delete(f, _)) // superseded; newest-wins anyway
        return next.size - cur.size
      } catch {
        case e: RuntimeException =>
          attempt += 1
          require(attempt < 20, s"export registry at $path: lost the " +
            s"versioned-file CAS $attempt times — $e")
          Thread.sleep(20L + scala.util.Random.nextInt(80))
      }
    }
    0 // unreachable
  }

  private def registerExports(spark: SparkSession, f: FileSystem,
      src: String, dst: String, refs: Seq[String]): Unit = {
    val now = System.currentTimeMillis()
    updateExports(spark, f, src)(cur =>
      cur.filterNot(_.cloneDst == dst) ++
        refs.map(ExportPin(dst, _, now)))
    ()
  }

  /** RELEASE a clone's export registrations on its source — call after
    * the clone was dropped, or after a full `compact` of the clone
    * materialized its own bytes (its manifest no longer references the
    * source). The source's next [[vacuum]] can then reclaim the files.
    * Returns the number of released references. */
  def releaseClone(spark: SparkSession, src: String, dst: String): Int = {
    val f = fs(spark, src)
    if (!exports(spark, src).exists(_.cloneDst == dst)) return 0
    -updateExports(spark, f, src)(_.filterNot(_.cloneDst == dst))
  }

  /** PIN a reader snapshot: register every file a resolve at
    * `version` reads (the newest checkpoint at or below it plus the
    * log commits above — the [[currentAsOf]] read set) in the export
    * registry under `pin:<name>`, so a [[vacuum]] that reclaims the
    * version from the log still leaves those BYTES in place — a
    * multi-hour query that planned against `version` keeps reading
    * mid-flight instead of dying on deleted files. Unlike clone pins
    * (held until [[releaseClone]]), a reader pin carries a LEASE:
    * vacuum auto-releases pins past their lease, so a crashed reader
    * can never block reclaim forever; release early with
    * [[releasePin]] when the read completes. Scope: the pin protects
    * the in-flight plan's FILES — a NEW read at `version` after the
    * vacuum still fails loudly (the vacuum-base contract is
    * unchanged). Observable per-file in [[clonePins]] and per-dir in
    * [[detail]]'s `exported_files`. Re-pinning the same name replaces
    * the previous pin (lease renewal).
    *
    * A successful return means the snapshot's files existed after
    * the registration landed (the racing-vacuum window is re-checked;
    * a torn pin is released and raises), and [[vacuum]] re-reads the
    * registry immediately before each version-dir delete, so a
    * visible pin is honored from then on. The guarantee is NOT
    * airtight against a vacuum mid-delete: a registration that lands
    * after the racing vacuum's final per-dir registry read, whose own
    * re-list also beats that dir's delete, can return success and
    * lose the files an instant later — the window is the sub-second
    * gap between one registry read and one dir delete, but it exists;
    * treat an early FileNotFound under a fresh pin as "re-plan the
    * read at or above the new vacuum base". Lease expiry is
    * judged by the VACUUMING process's clock against this call's
    * stamp, with a fixed [[pinLeaseSlackMs]] skew allowance — leases
    * assume loosely synchronized clocks; size `leaseMs` to the read's
    * duration, not to the slack. */
  def pinSnapshot(spark: SparkSession, path: String, version: Int,
      name: String, leaseMs: Long): Int = {
    require(leaseMs > 0, s"pinSnapshot: leaseMs must be > 0 (a " +
      "lease-less hold is a clone pin); got " + leaseMs)
    require(!name.contains('\t') && !name.contains('\n'),
      "pin name may not contain tabs/newlines")
    val f = fs(spark, path)
    val vs = currentAsOfVersions(spark, path, version)
    require(vs.nonEmpty,
      s"pinSnapshot: no committed versions at or below $version at $path")
    val refs = vs.flatMap(v => filesOf(f, path, v))
      .map(f.makeQualified).map(_.toString).distinct
    val now = System.currentTimeMillis()
    updateExports(spark, f, path)(cur =>
      cur.filterNot(_.cloneDst == s"pin:$name") ++
        refs.map(ExportPin(s"pin:$name", _, now, leaseMs)))
    // TOCTOU close: a vacuum racing this call may have reclaimed some
    // of the listed files BEFORE the registration landed — the pin
    // would then silently protect nothing. Re-list the pinned version
    // dirs after the CAS; if any file is gone, release the pin and
    // fail loudly so a successful return GUARANTEES protection.
    // (After the registration is visible, vacuum honors it — only the
    // pre-registration window needs the re-check.)
    // re-list PER VERSION: one reclaimed dir must not blank the whole
    // set (the diagnostic would then claim everything was reclaimed)
    val still = vs.flatMap { v =>
      try filesOf(f, path, v).map(f.makeQualified).map(_.toString)
      catch {   // this version dir reclaimed mid-race
        case _: java.io.FileNotFoundException => Nil
      }
    }.toSet
    val gone = refs.filterNot(still.contains)
    if (gone.nonEmpty) {
      releasePin(spark, path, name)
      throw new IllegalStateException(
        s"pinSnapshot($name): a concurrent vacuum reclaimed " +
          s"${gone.size} of ${refs.size} file(s) at version $version " +
          s"of $path before the pin registered (missing: " +
          s"${gone.head}) — pin released; re-plan the read at or " +
          "above the new vacuum base")
    }
    refs.size
  }

  /** Release a reader snapshot pin registered by [[pinSnapshot]].
    * Returns the number of released file references (0 = no such
    * pin — already expired or never taken). */
  def releasePin(spark: SparkSession, path: String, name: String): Int = {
    val f = fs(spark, path)
    if (!exports(spark, path).exists(_.cloneDst == s"pin:$name")) return 0
    -updateExports(spark, f, path)(_.filterNot(_.cloneDst == s"pin:$name"))
  }

  /** RESTORE the table to its state as of `version` — a roll-forward,
    * not a rewind (Delta's RESTORE shape): ONE new plain-log commit
    * holding exactly the DIFF between the head state and the target
    * state — rows whose state at `version` differs from (or is absent
    * at) the head are re-stated, keys live at the head but absent at
    * `version` are tombstoned, rows identical in both states are NOT
    * rewritten (the resolve still finds their older versions). No
    * file is deleted and pre-restore history stays fully
    * time-travelable. Because the restore is an ordinary self-
    * contained commit, every downstream reader is correct WITHOUT
    * special cases: CDC ([[changes]]) emits exactly the restored
    * diff, [[history]] closes/reopens the right SCD2 intervals, and
    * maintained views (MatView/SketchView) fold it like any other
    * delta — a checkpoint-based restore would be INVISIBLE to all
    * three (they exclude checkpoint dirs as state-identical
    * duplicates of the log). Read cost is not re-bounded by a
    * restore; run [[compact]] after if the log has grown long.
    * Vacuum-guarded like any resolve: restoring below the vacuum
    * base fails loudly. Returns the new version. */
  def restore(spark: SparkSession, path: String, keyCol: String,
      version: Int): Int = {
    val head = latestVersion(spark, path)
    require(version >= 1 && version <= head,
      s"restore($version): table at $path has versions 1..$head")
    val baseAtV = checkpoints(spark, path).filter(_ <= version).lastOption
    vacuumBase(spark, path).foreach { vb =>
      require(baseAtV.exists(_ >= vb), s"restore($version): versions " +
        s"below $vb were vacuumed at $path; earliest restorable " +
        s"version is $vb")
    }
    require(mappingAt(spark, path, version) == mappingAt(spark, path, head),
      s"restore($version): the column mapping changed in " +
        s"($version, $head] — undo the rename/drop (renameColumn back) " +
        "before restoring across it, or restore to a version at or " +
        "after the mapping change")
    // ONLY keys touched in (version, head] can differ between the two
    // states — everything else resolves identically and stays out of
    // the diff. The touched set is DELTA-sized (checkpoint dirs are
    // excluded: they duplicate log rows, and the vacuum guard above
    // ensures every change in the range still has its log row), and a
    // key filter commutes with the per-key resolve window, so both
    // resolves below read O(touched keys' rows) — never the whole
    // table. A restore at 100 TB costs the touched slice, not two
    // full-table resolves.
    val ck = checkpoints(spark, path).toSet
    val laterVs = versions(spark, path)
      .filter(v => v > version && v <= head && !ck.contains(v))
    if (laterVs.isEmpty) {
      // nothing to unwind: commit an empty diff (the restore is still
      // a recorded version, like Delta's no-op RESTORE commit)
      val v = commit(
        currentAsOf(spark, path, keyCol, version)
          .drop(VersionCol, SeqCol, MergeCol, CkptCol).limit(0), path)
      require(v == head + 1, s"restore($version) at $path committed " +
        s"v=$v but the head at diff time was $head — a concurrent " +
        "commit landed mid-restore; re-run restore to heal")
      return v
    }
    val touched = readDirs(spark, path, laterVs)
      .select(keyCol).distinct().localCheckpoint()
    def dataOf(v: Int) = {
      val base = checkpoints(spark, path).filter(_ <= v).lastOption
      val lo = base.map(_ - 1).getOrElse(0)
      val vs = versions(spark, path).filter(x => x > lo && x <= v)
      val hasMerges = mergeVersions(spark, path)
        .exists(x => x > lo && x <= v)
      resolve(readDirs(spark, path, vs)
          .join(touched, Seq(keyCol), "left_semi"), keyCol, hasMerges)
        .drop(VersionCol, SeqCol, MergeCol, CkptCol, DeletedCol)
    }
    val want = dataOf(version)
    val have = dataOf(head)
    // align schemas across evolution (a column added after `version`
    // is null in the restored rows, closing it back)
    val fields = have.schema.fields ++
      want.schema.fields.filterNot(f => have.columns.contains(f.name))
    def pad(df: DataFrame) = df.select(fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val w = pad(want)
    val h = pad(have)
    val changed = w.exceptAll(h)
    val unwound = h.select(col(keyCol))
      .join(w.select(col(keyCol)), Seq(keyCol), "left_anti")
    val batch = changed.withColumn(DeletedCol, lit(false))
      .unionByName(unwound.withColumn(DeletedCol, lit(true)),
        allowMissingColumns = true)
    val v = commit(batch, path)
    // the diff was computed against `head`: if a concurrent writer
    // slipped a commit in between, the restore overrode only the keys
    // in ITS diff — a torn mix of the two states. Detect and fail
    // loudly; re-running restore(version) heals (fresh diff vs the
    // new head).
    require(v == head + 1, s"restore($version) at $path committed v=$v " +
      s"but the head at diff time was $head — a concurrent commit " +
      "landed mid-restore and the restored state may be torn; re-run " +
      s"restore($version) to heal (it re-diffs against the new head)")
    v
  }

  /** [[compact]] carrying a batch-idempotency marker into the
    * checkpoint version — what lets a maintained view's compaction
    * survive vacuum without erasing its refresh lineage (the marker
    * that says "source batches up to N are already folded"). */
  private[io] def compactWithMarker(spark: SparkSession, path: String,
      keyCol: String, marker: String): Int = {
    val resolved = current(spark, path, keyCol)
      .drop(VersionCol, SeqCol, MergeCol, CkptCol)
    commit(resolved, path, checkpoint = true, batchMarker = Some(marker))
  }

  /** Morton (interleaved-bit) clustering key: each column linearly
    * scaled to 8 bits over its (lo, hi), bits interleaved — nearby
    * rows agree on the high bits of EVERY column, so a range-sorted
    * layout keeps each file's footer range tight on all of them.
    * Linear scaling, not equi-depth: heavy skew in a clustered column
    * wants quantile bucketing instead (the usual Z-order trade). */
  private def zorderKey(
      cols: Seq[(org.apache.spark.sql.Column, Double, Double)])
      : org.apache.spark.sql.Column =
    mortonInterleave(cols.map { case (c, lo, hi) =>
      least(greatest(
        (((c.cast("double") - lit(lo)) / lit(math.max(hi - lo, 1e-12)))
          * 255.0).cast("int"), lit(0)), lit(255))
    })

  /** Interleave the low 8 bits of each bucket column into one Morton
    * key — shared by the linear ([[compactZOrder]]) and equi-depth
    * ([[compactZOrderQuantile]]) clusterings. */
  private def mortonInterleave(buckets: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.Column = {
    val n = buckets.length
    (0 until 8).flatMap { bit =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, bit).bitwiseAND(lit(1)), bit * n + (n - 1 - j))
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Equi-depth bucket assignment against driver-collected cut points:
    * a balanced CASE-WHEN binary search (8 comparisons per row at 255
    * cuts, codegen-friendly; no UDF, no global window). Returns the
    * bucket index in [0, cuts.length]. */
  private def equiDepthBucket(c: org.apache.spark.sql.Column,
      cuts: Array[Double]): org.apache.spark.sql.Column = {
    def tree(lo: Int, hi: Int): org.apache.spark.sql.Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(c.cast("double") < lit(cuts(mid)), tree(lo, mid))
          .otherwise(tree(mid + 1, hi))
      }
    if (cuts.isEmpty) lit(0) else tree(0, cuts.length)
  }

  /** `_ZCOLS_<cols>` marker naming a checkpoint's Z-order clustering
    * columns (URL-encoded, comma-joined) — what lets INCREMENTAL folds
    * re-apply the same interleaved sort to the files they rewrite
    * instead of silently decaying the layout to key-only clustering
    * (each fold would otherwise erode non-key zone selectivity until
    * the next explicit compactZOrder). */
  private def zcolsMarker(zCols: Seq[String]): String =
    "_ZCOLS_" + zCols.map(java.net.URLEncoder.encode(_, "UTF-8"))
      .mkString(",")

  /** The Z-order clustering columns version `v` was written with
    * (empty = key-clustered / pre-marker checkpoint). */
  private[io] def zcolsAt(spark: SparkSession, path: String,
      v: Int): Seq[String] = {
    val f = fs(spark, path)
    f.listStatus(new Path(s"$path/v=$v")).toSeq
      .map(_.getPath.getName).find(_.startsWith("_ZCOLS_"))
      .map(_.stripPrefix("_ZCOLS_").split(',').toSeq
        .map(java.net.URLDecoder.decode(_, "UTF-8")))
      .getOrElse(Nil)
  }

  /** Checkpoint-compact with Z-ORDER clustering (Delta's `OPTIMIZE
    * ZORDER BY` shape): the resolved state is written range-partitioned
    * and sorted by the Morton key of `zCols` (min/max from one agg), so
    * [[snapshotRange]] skips files on ANY clustered column, not just a
    * single sort prefix. `nFiles` > 0 fixes the checkpoint's file count
    * (finer files → finer skipping). The clustering columns ride as a
    * `_ZCOLS_` marker so incremental folds preserve the layout. */
  def compactZOrder(spark: SparkSession, path: String, keyCol: String,
      zCols: Seq[String], nFiles: Int = 0): Int = {
    val resolved = current(spark, path, keyCol)
      .drop(VersionCol, SeqCol, MergeCol, CkptCol)
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val mm = resolved.agg(aggs.head, aggs.tail: _*).head()
    val z = zorderKey(zCols.zipWithIndex.map { case (c, i) =>
      val lo = if (mm.isNullAt(2 * i)) 0.0 else mm.getDouble(2 * i)
      val hi = if (mm.isNullAt(2 * i + 1)) 1.0 else mm.getDouble(2 * i + 1)
      (col(c), lo, hi)
    })
    commit(resolved, path, checkpoint = true,
      batchMarker = Some(zcolsMarker(zCols)), sortBy = Seq(z),
      sortFiles = nFiles)
  }

  /** Checkpoint-compact with EQUI-DEPTH Z-order clustering: like
    * [[compactZOrder]], but each column's 8-bit bucket comes from its
    * own 255 approxQuantile cut points instead of a linear (lo, hi)
    * scale — one wild outlier no longer collapses a column's whole
    * range into one bucket (the skew-proof variant; Delta's OPTIMIZE
    * has the same linear-vs-quantile trade). The cuts are a bounded
    * driver collect (255 doubles per column from the distributed
    * Greenwald-Khanna sketch); assignment is a balanced CASE-WHEN
    * binary search, never a global NTILE window. */
  def compactZOrderQuantile(spark: SparkSession, path: String,
      keyCol: String, zCols: Seq[String], nFiles: Int = 0): Int = {
    // The log-resolve is the expensive step: cache it so the quantile
    // pass and the checkpoint write each read the materialized state
    // instead of re-resolving, and pull ALL columns' cut arrays from
    // ONE distributed Greenwald-Khanna pass (multi-column overload)
    // rather than one scan per z-column.
    val resolved = current(spark, path, keyCol)
      .drop(VersionCol, SeqCol, MergeCol, CkptCol)
      .persist()
    try {
      val probes = (1 until 256).map(_ / 256.0).toArray
      val allCuts =
        resolved.stat.approxQuantile(zCols.toArray, probes, 0.01)
      val z = mortonInterleave(zCols.zip(allCuts).map { case (c, raw) =>
        val cuts = raw.distinct.sorted
        least(equiDepthBucket(col(c), cuts), lit(255))
      })
      commit(resolved, path, checkpoint = true,
        batchMarker = Some(zcolsMarker(zCols)), sortBy = Seq(z),
        sortFiles = nFiles)
    } finally resolved.unpersist(blocking = false)
  }

  /** Zone-map scan of a CHECKPOINT snapshot with a predicate on ANY
    * column: the materialized resolved state holds each key exactly
    * once, so file-skipping by a non-key column loses nothing. (On a
    * raw version log this is UNSOUND — pruning a file holding a key's
    * newer out-of-range row would un-supersede its older in-range one;
    * [[currentAsOfRange]] restricts log-resolve pruning to the key,
    * [[asOfRange]] covers the no-resolve log view.) */
  def snapshotRange(spark: SparkSession, path: String, version: Int,
      colName: String, lo: Any, hi: Any): DataFrame = {
    require(checkpoints(spark, path).contains(version),
      s"snapshotRange: version $version at $path is not a checkpoint")
    readPruned(spark, path, Seq(version), colName, lo, hi)
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
      .drop(DeletedCol, MergeCol, SeqCol, CkptCol)
  }

  /**
   * Retention vacuum: reclaim version dirs superseded by a checkpoint
   * and older than the horizon. base = the newest checkpoint <=
   * latestVersion - horizon; every version dir BELOW base is deleted
   * (base itself, holding the resolved state of the reclaimed prefix,
   * is always retained). Time travel at or above base keeps working;
   * below base fails loudly (`asOf`/`currentAsOf` raise). Also sweeps
   * crashed staging directories older than an hour. Returns the
   * deleted versions. No-op when no checkpoint is old enough.
   * Must not run concurrently with writers (same single-writer caveat
   * as the version counter).
   */
  def vacuum(spark: SparkSession, path: String, horizon: Int,
      exportLeaseMs: Long = 0L): Seq[Int] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Nil
    // READER pins are lease-bounded: auto-release the expired ones
    // before computing the protected file set — a crashed long reader
    // must not block reclaim forever (clone pins, lease-less, only
    // warn below)
    // the pin's `since` stamp came from the PINNING driver's clock;
    // this comparison runs on the vacuuming process's — the slack
    // absorbs cross-host skew so a pin is never reclaimed early under
    // a still-running read (the exact failure pins exist to prevent)
    val nowPin = System.currentTimeMillis()
    val slack = pinLeaseSlackMs(spark)
    val expiredPins = exports(spark, path)
      .filter(p => p.leaseMs > 0 &&
        nowPin - p.sinceMillis > p.leaseMs + slack)
    if (expiredPins.nonEmpty) {
      val names = expiredPins.map(_.cloneDst).distinct
      log.warn(s"vacuum at $path: releasing ${expiredPins.size} expired " +
        s"reader-pin reference(s) from ${names.mkString(", ")}")
      updateExports(spark, f, path)(_.filterNot(p =>
        p.leaseMs > 0 &&
          nowPin - p.sinceMillis > p.leaseMs + slack))
      ()
    }
    // LEASE check (warn, never delete): an export pin blocks file
    // reclaim indefinitely by design — a forgotten clone should at
    // least surface in the maintenance logs once it outlives the
    // lease the operator expected
    if (exportLeaseMs > 0) {
      val expired = expiredExports(spark, path, exportLeaseMs)
      if (expired.nonEmpty) {
        val byClone = expired.groupBy(_.cloneDst)
        log.warn(s"vacuum at $path: ${expired.size} export pin(s) " +
          s"from ${byClone.size} clone(s) exceed the $exportLeaseMs ms " +
          "lease and still block file reclaim — releaseClone(src, dst) " +
          "once a clone is dropped or fully compacted: " +
          byClone.map { case (c, ps) =>
            s"$c (${ps.size} file(s), oldest since " +
              s"${ps.map(_.sinceMillis).min})" }.mkString("; "))
      }
    }
    // crashed staging dirs are invisible garbage; sweep the stale ones
    // (age guard so an in-flight commit's staging survives). Stale
    // version-slot claim files get the same treatment: a claim for a
    // PUBLISHED version is redundant with the version dir itself, and
    // an hour-old claim with no version is a crashed writer's orphan —
    // a live slow writer that loses its claim this way still publishes
    // safely (the publish-time existence check catches a re-claimed
    // slot and retries at the head).
    val now = System.currentTimeMillis()
    val store = LogStore.forSession(spark)
    f.listStatus(root)
      .filter { s =>
        (s.isDirectory && s.getPath.getName.startsWith(".staging-")) ||
          (!s.isDirectory && (s.getPath.getName.startsWith(".claim-") ||
            s.getPath.getName.startsWith(".pending-colmap-")))
      }
      .filter(s => now - s.getModificationTime > 3600L * 1000)
      .foreach { s =>
        // claim files free their authoritative store slot; staging dirs
        // and pending-colmap declarations are plain data garbage
        if (s.isDirectory) f.delete(s.getPath, true)
        else if (s.getPath.getName.startsWith(".pending-colmap-"))
          f.delete(s.getPath, false)
        else store.delete(f, s.getPath)
      }
    val cutoff = latestVersion(spark, path) - horizon
    checkpoints(spark, path).filter(_ <= cutoff).lastOption match {
      case None => Nil
      case Some(b) =>
        val doomed = versions(spark, path).filter(_ < b)
        // files a shallow CLONE references (export registry) are
        // immovable and undeletable until released: materialization
        // must not relocate them (the clone's absolute refs would
        // dangle — the old Delta-style caveat this registry replaces),
        // and the dir sweep works around them
        val exported = exportedFiles(spark, path)
        // markerless below-base REMNANTS (a prior sweep's export-
        // protected leftovers) count as doomed for materialization
        // too: once their exports are released, any retained
        // manifest still pointing into them must get its files moved
        // out BEFORE the remnant sweep deletes the dir — otherwise
        // releasing a clone would dangle the source's own refs
        val remnants = f.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .flatMap(s => scala.util.Try(
            s.getPath.getName.stripPrefix("v=").toInt).toOption)
          .filter(x => x < b && !f.exists(
            new Path(s"$path/v=$x", SuccessMarker)))
          .toSet
        // MATERIALIZE manifest-carried references before reclaiming
        // their home dirs: every retained version whose manifest
        // points into a doomed dir gets the file moved in (rename —
        // cheap metadata op), its stats/bloom lines appended, and the
        // manifest rewritten. Order is crash-degradable, never
        // silent: rename first (a crash before the manifest rewrite
        // leaves a dangling entry that fails loudly and heals on the
        // next vacuum via the name-already-here check), stats second
        // (a missing stat only disables pruning for that file).
        if (doomed.nonEmpty || remnants.nonEmpty)
          materializeRefs(spark, f, path, doomed.toSet ++ remnants,
            versions(spark, path).filter(_ >= b), exported)
        doomed.foreach { v =>
          val dir = new Path(s"$path/v=$v")
          // batch idempotency markers OUTLIVE their dir: migrate them
          // into the base checkpoint before the delete, or a replayed
          // ingest whose marker dir was reclaimed would stall on the
          // surviving .claim-batch file and, past the stale window,
          // RE-COMMIT the batch (duplicate delivery to log readers).
          // The base subsumes the reclaimed rows, so it is exactly
          // the version the replay should resolve as "committed".
          f.listStatus(dir).map(_.getPath.getName)
            .filter(_.startsWith("_BATCH_")).foreach { m =>
              val dst = new Path(s"$path/v=$b", m)
              if (!f.exists(dst)) f.create(dst, false).close()
            }
          val dirQ = f.makeQualified(dir).toString
          // a pin registered AFTER this vacuum's planning read must
          // still be honored: re-read the export registry immediately
          // before THIS dir's delete (one store read per doomed dir —
          // bounded by the horizon). The only window left is a
          // registration landing inside the instant between this read
          // and the delete below; pinSnapshot's post-CAS re-list
          // catches that unless the re-list ALSO beats the delete —
          // the documented residual in pinSnapshot's contract.
          val keep = exportedFiles(spark, path)
            .filter(_.startsWith(dirQ + "/"))
            .map(p => new Path(p).getName)
          if (keep.isEmpty) { f.delete(dir, true); () }
          else {
            // exported files stay in place (their stats/bloom lines
            // with them — a clone's pruning keeps working); everything
            // else, including _SUCCESS, goes: the dir stops being a
            // committed version but its exported bytes remain
            // addressable by the clones' absolute refs
            def shrink(metaFile: String): Unit = {
              val p = new Path(dir, metaFile)
              if (!f.exists(p)) return
              val kept = readSmallText(f, p).split('\n')
                .filter(_.nonEmpty)
                .filter(l => keep.contains(l.takeWhile(_ != '\t')))
              // atomic replace (temp + rename), never an in-place
              // truncating write: a torn stats/bloom line could throw
              // at parse time on the clones' reads; and a dir whose
              // kept set is empty drops the file entirely instead of
              // keeping stale lines for reclaimed files
              f.delete(p, false)
              if (kept.nonEmpty)
                LogStore.forSession(spark).writeAtomic(f, p,
                  kept.mkString("", "\n", "\n"))
            }
            shrink(StatsFile)
            shrink(BloomFile)
            f.listStatus(dir).foreach { s =>
              val n = s.getPath.getName
              if (!keep.contains(n) && n != StatsFile && n != BloomFile)
                f.delete(s.getPath, true)
            }
          }
          // the reclaimed version's claim goes with it — slots below
          // the base are dead (commit probes upward from the head), and
          // a lingering claim would read as an in-flight writer to the
          // unpublished-claim guards
          store.delete(f, new Path(path, s".claim-v=$v"))
        }
        // remnant sweep: a MARKERLESS v-dir below the base is a prior
        // sweep's export-protected leftover (or a legacy torn dir) —
        // once its exports are released ([[releaseClone]]) nothing
        // holds it. Safe without an age guard: a visible v-dir always
        // carries _SUCCESS (it is created inside staging, before the
        // atomic publish rename), so no in-flight writer looks like
        // this.
        f.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .filter(s => scala.util.Try(
            s.getPath.getName.stripPrefix("v=").toInt).toOption
            .exists(_ < b))
          .filterNot(s => f.exists(new Path(s.getPath, SuccessMarker)))
          .foreach { s =>
            val dirQ = f.makeQualified(s.getPath).toString
            if (!exported.exists(_.startsWith(dirQ + "/")))
              f.delete(s.getPath, true)
          }
        doomed
    }
  }

  /** Time-based retention (Delta's `VACUUM … RETAIN n HOURS` shape):
    * resolve the newest version whose commit timestamp is at least
    * `retainMs` old and delegate to [[vacuum]] with the equivalent
    * version horizon. Every commit younger than the window survives,
    * and `TIMESTAMP AS OF` keeps working for any instant inside it
    * (the cut falls exactly where [[versionAt]] would resolve the
    * window's far edge). Versions without a `_TS_` marker (pre-stamp
    * tables) count as infinitely old, same as [[versionAt]]. No-op
    * when every commit is younger than the window, or when no
    * checkpoint is old enough (vacuum's own base rule). Same
    * single-writer caveat as [[vacuum]]. */
  def vacuumOlderThan(spark: SparkSession, path: String, retainMs: Long,
      exportLeaseMs: Long = 0L): Seq[Int] = {
    require(retainMs >= 0, s"vacuumOlderThan: retainMs must be >= 0, " +
      s"got $retainMs")
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) return Nil
    val cutoffTs = System.currentTimeMillis() - retainMs
    val times = commitTimes(spark, path)
    val vs = versions(spark, path)
    // the cut is the highest version BELOW every young commit — not
    // just the highest old one: with skewed writer clocks an old
    // timestamp can sit ABOVE a young one, and cutting at old.max
    // would reclaim the young commit's history ("every commit younger
    // than the window survives" is the contract, so be conservative)
    val young = vs.filter(v => times.get(v).exists(_ > cutoffTs))
    val eligible = if (young.isEmpty) vs else vs.filter(_ < young.min)
    if (eligible.isEmpty) Nil
    else vacuum(spark, path, latestVersion(spark, path) - eligible.max,
      exportLeaseMs)
  }

  /** [[vacuum]]'s reference-materialization pass (see call site). A
    * file referenced by several retained checkpoints moves into the
    * LOWEST one; the others' manifest entries re-point there. Files in
    * `exported` (clone-referenced, qualified paths) are NEVER moved —
    * the dir sweep leaves them in place, so the manifest entries that
    * point at them stay valid as-is. */
  private def materializeRefs(spark: SparkSession, f: FileSystem,
      path: String, doomedDirs: Set[Int], retained: Seq[Int],
      exported: Set[String] = Set.empty): Unit = {
    def dirOfRel(rel: String): String = rel.split('/').head
    def isDoomed(rel: String): Boolean = {
      val d = dirOfRel(rel)
      d.startsWith("v=") && doomedDirs.contains(d.stripPrefix("v=").toInt) &&
        !exported.contains(f.makeQualified(refPath(path, rel)).toString)
    }
    val manifests: Seq[(Int, Seq[String])] = retained.map { v =>
      v -> readManifest(f, new Path(s"$path/v=$v"))
    }.filter(_._2.nonEmpty)
    if (!manifests.exists(_._2.exists(isDoomed))) return
    // destination of each doomed-referenced file = its lowest referrer
    val dest: Map[String, Int] = manifests
      .flatMap { case (v, rels) => rels.filter(isDoomed).map(_ -> v) }
      .groupBy(_._1).map { case (rel, xs) => rel -> xs.map(_._2).min }
    // move files + carry their stats/bloom lines
    dest.toSeq.sortBy(_._2).foreach { case (rel, v) =>
      val src = refPath(path, rel)
      val name = src.getName
      val dstDir = new Path(s"$path/v=$v")
      val dst = new Path(dstDir, name)
      if (f.exists(src)) {
        require(!f.exists(dst), s"vacuum materialization at $path: " +
          s"carried file name collision $name in v=$v")
        val srcDir = src.getParent
        require(f.rename(src, dst),
          s"vacuum at $path: failed to materialize $rel into v=$v")
        // stats/bloom lines follow the file (missing lines only cost
        // pruning, never rows — append best-effort but atomically)
        def carryLines(metaFile: String): Unit = {
          val srcLines = readSmallText(f, new Path(srcDir, metaFile))
            .split('\n').filter(_.nonEmpty)
            .filter(_.startsWith(name + "\t"))
          if (srcLines.nonEmpty) {
            val dstP = new Path(dstDir, metaFile)
            val cur = readSmallText(f, dstP)
              .split('\n').filter(_.nonEmpty)
            // plain overwrite (single-maintainer contract): a torn
            // stats file only weakens pruning, never correctness
            val out = f.create(dstP, true)
            try out.write((cur ++ srcLines)
              .mkString("", "\n", "\n").getBytes(UTF_8))
            finally out.close()
          }
        }
        carryLines(StatsFile)
        carryLines(BloomFile)
      } else require(f.exists(dst), s"vacuum at $path: carried file " +
        s"$rel is gone and not materialized in v=$v — manifest and " +
        "files diverged")
    }
    // rewrite every retained manifest: moved-into-own-dir entries
    // drop (the file is owned now); others re-point to the new home
    manifests.foreach { case (v, rels) =>
      if (rels.exists(isDoomed)) {
        val updated = rels.flatMap { rel =>
          dest.get(rel) match {
            case None => Some(rel)
            case Some(owner) if owner == v => None
            case Some(owner) =>
              Some(s"v=$owner/${refPath(path, rel).getName}")
          }
        }
        val dir = new Path(s"$path/v=$v")
        if (updated.isEmpty) { f.delete(new Path(dir, ManifestFile), false); () }
        else writeManifest(f, dir, updated)
      }
    }
  }

  /** CDC view (change-data-feed shape): per key, what happened between
    * the resolved states at `fromV` and `toV` — `insert` (key appears),
    * `delete` (key gone), `update` (any COMMON column differs,
    * null-safe; columns added by schema evolution after `fromV` can't
    * be compared and don't count). One full-outer join of two resolved
    * states — each a single window over its version range. */
  def changes(spark: SparkSession, path: String, keyCol: String,
      fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"changes: fromV $fromV must be < toV $toV")
    val b = currentAsOf(spark, path, keyCol, toV)
      .drop(VersionCol, DeletedCol, MergeCol, SeqCol, CkptCol)
    // fromV = 0 is the whole-history CDC anchor: the state BEFORE the
    // table existed is empty by definition (vacuum cannot change it),
    // so every current key classifies as insert. ONLY v=0 gets this —
    // a positive fromV whose versions were vacuumed away must keep
    // failing loudly (currentAsOf's vacuum-base guard), never silently
    // re-report the whole table as inserts.
    val a = if (fromV == 0) b.limit(0)
    else {
    // column identity is the PHYSICAL id: align the fromV snapshot's
    // logical names to toV's through the shared physicals, so a
    // rename inside (fromV, toV] diffs the same column under one name
    // (keyCol is toV's name throughout) instead of reading it as a
    // drop+add of unrelated columns
    val mapA = mappingAt(spark, path, fromV)
    val mapB = mappingAt(spark, path, toV)
    val aRaw = currentAsOf(spark, path, keyCol = mapB match {
        case Some(ms) =>
          // fromV's logical name of toV's key (same physical)
          val phys = ms.toMap.getOrElse(keyCol,
            sys.error(s"changes: no column '$keyCol' at version $toV"))
          mapA.flatMap(_.find(_._2 == phys).map(_._1)).getOrElse(phys)
        case None => keyCol
      }, fromV)
    (mapB match {
      case Some(ms) =>
        ms.foldLeft(aRaw) { case (df, (lb, phys)) =>
          val la = mapA.flatMap(_.find(_._2 == phys).map(_._1))
            .getOrElse(phys)
          if (la != lb && df.columns.contains(la))
            df.withColumnRenamed(la, lb)
          else df
        }
      case None => aRaw
    }).drop(VersionCol, DeletedCol, MergeCol, SeqCol, CkptCol)
    }
    val common = a.columns.intersect(b.columns).filterNot(_ == keyCol)
    val af = a.select(Seq(col(keyCol), lit(true).as("__ina")) ++
      common.map(c => col(c).as(s"__a_$c")): _*)
    val bf = b.select(Seq(col(keyCol), lit(true).as("__inb")) ++
      common.map(c => col(c).as(s"__b_$c")): _*)
    val differs =
      if (common.isEmpty) lit(false)
      else common.map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
        .reduce(_ || _)
    af.join(bf, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__ina").isNull, lit("insert"))
          .when(col("__inb").isNull, lit("delete"))
          .when(differs, lit("update"))
          .otherwise(lit("none")).as("change_type"))
      .filter(col("change_type") =!= "none")
  }

  /** Typed refusal from [[changesIncremental]]'s preconditions: the
    * O(delta) kernel is INAPPLICABLE to this range (MERGE commits,
    * mapping change, vacuumed anchor, NULL keys) and the caller
    * should use [[changes]]. An `IllegalArgumentException` subclass
    * so existing callers' handling is unchanged; [[changesAuto]]
    * dispatches on THIS CLASS, never on message text. */
  final class IncrementalRefusal(msg: String)
      extends IllegalArgumentException(msg)

  /** Cross-host clock-skew allowance (ms) added on top of a reader
    * pin's lease before [[vacuum]] auto-releases it — the pin's
    * `since` stamp and the vacuum's `now` come from DIFFERENT hosts'
    * clocks, and reclaiming early under a still-running read is the
    * exact failure pins exist to prevent. Default 5 min; tunable
    * (`spark.graft.pinLeaseSlackMs`, chiefly for tests) — size
    * `leaseMs` to the read, not to the slack. */
  private[io] def pinLeaseSlackMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.pinLeaseSlackMs")
      .map(_.toLong).getOrElse(300000L)

  @inline private def refuseIncremental(cond: Boolean,
      msg: => String): Unit =
    if (!cond) throw new IncrementalRefusal(msg)

  /** O(delta) CDC: the SAME relation as [[changes]] computed from the
    * DELTA alone — at 100 TB, "what changed between v1000 and v1008"
    * must cost the eight commits, not two full-table resolves. Three
    * pieces, none table-sized:
    *
    *  1. the newest slice row per TOUCHED key — one window over the
    *     log versions in `(fromV, toV]` (checkpoints excluded: pure
    *     compaction, and [[restore]] commits a plain diff, so every
    *     state change in range has a log row);
    *  2. the old state FOR THE TOUCHED KEYS ONLY — a broadcast join
    *     of the touched-key set against the V2 scan at
    *     `versionAsOf = fromV` with `fromCheckpointBase` (the newest
    *     checkpoint plus the log above it — bounded dirs, and the
    *     checkpoint's key-clustered files carry tight zone maps), so
    *     the runtime IN-set file pruning ([[pruneFilesForInSets]])
    *     skips every file whose key zones miss the set: a per-key
    *     file lookup, not a scan (join BEFORE the resolve window — a
    *     key filter commutes with the per-key resolve, and the
    *     dynamic filter must reach the scan);
    *  3. a left join classifying insert / update (any common column
    *     differs, null-safe) / delete — old rows exist only for
    *     touched keys, so no full-outer needed.
    *
    * Falls back to [[changes]] when the touched-key set exceeds
    * `maxBroadcastKeys` (a delta that big has no point-lookup shape).
    * Fail-loud contracts: MERGE commits in range have no
    * self-contained new state, and a column mapping change in range
    * would splice misaligned names — both direct to [[changes]].
    * Columns added by schema evolution after `fromV` can't be
    * compared and don't count, exactly like [[changes]].
    *
    * Refusals are TYPED ([[IncrementalRefusal]], an
    * `IllegalArgumentException` subclass): [[changesAuto]] dispatches
    * to [[changes]] by catching the class, never by matching message
    * text — a reworded message can't silently change dispatch. */
  def changesIncremental(spark: SparkSession, path: String,
      keyCol: String, fromV: Int, toV: Int,
      maxBroadcastKeys: Long = 5000000L): DataFrame = {
    require(fromV < toV,
      s"changesIncremental: fromV $fromV must be < toV $toV")
    val mv = mergeVersions(spark, path)
    refuseIncremental(!mv.exists(v => v > fromV && v <= toV),
      s"changesIncremental: MERGE commits in ($fromV, $toV] carry " +
        "column overlays with no self-contained row state — use changes()")
    refuseIncremental(
      mappingAt(spark, path, fromV) == mappingAt(spark, path, toV),
      s"changesIncremental: the column mapping changed in " +
        s"($fromV, $toV] — use changes(), which aligns names")
    // a positive fromV must be READABLE (some committed version at or
    // below it): after a vacuum reclaimed the range, the delta slice
    // is empty and the early return below would silently report "no
    // changes" for a range that DID change. (If fromV survives the
    // vacuum base, everything above it survives too — so this one
    // check covers the whole range.) fromV = 0 stays the legitimate
    // empty anchor: the state before the table existed is empty by
    // definition.
    refuseIncremental(fromV == 0 || versions(spark, path).exists(_ <= fromV),
      s"changesIncremental: no committed versions at or below $fromV " +
        s"at $path (vacuumed?) — pick a readable fromV, or 0 for the " +
        "whole-history anchor")
    val f = fs(spark, path)
    val ck = checkpoints(spark, path).toSet
    val deltaVs = versions(spark, path)
      .filter(v => v > fromV && v <= toV && !ck.contains(v))
      .filter(v => filesOf(f, path, v).nonEmpty)
    if (deltaVs.isEmpty) {
      val keyType =
        currentAsOf(spark, path, keyCol, toV).schema(keyCol).dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol, keyType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType, nullable = false))))
    }
    // 1) newest slice row per touched key. The old side's schema (the
    // V2 slice at fromV) is the table's schema there — pad slice
    // columns a narrower delta frame omitted (a live row written
    // without column c resolves to c = NULL; the comparison must see
    // that as a change, exactly like the full face's resolved diff).
    // fromV = 0 (the whole-history anchor) => the old side is EMPTY
    // by definition — every surviving key classifies as insert. ONLY
    // v=0: a positive vacuumed-away fromV fails loudly downstream
    // (the vacuum-base contract), never silently re-anchors.
    val rawOldOpt =
      if (fromV == 0) None
      else Some(spark.read.format("graft")
        .option("versionAsOf", fromV)
        // the BOUNDED resolve slice: newest checkpoint + the log above
        // it — the plain log view would read O(history) dirs, and the
        // checkpoint's key-clustered files are where zone maps are
        // tight enough for the IN-set pruning to mean anything
        .option("fromCheckpointBase", "true")
        .load(path))
    val slice0 = readDirs(spark, path, deltaVs, mapV = Some(toV))
    val slice1 = if (slice0.columns.contains(SeqCol)) slice0
      else slice0.withColumn(SeqCol, lit(null).cast("long"))
    val slice = rawOldOpt.map(_.schema.fields.toSeq).getOrElse(Nil)
      .filterNot(f => slice1.columns.contains(f.name))
      .filterNot(f => MetaCols.contains(f.name))
      .foldLeft(slice1)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
    // touched keys, materialized ONCE (the threshold count, the
    // broadcast build, and nothing else re-reads the delta for it)
    val touched = slice.select(col(keyCol).as("__ck")).distinct()
      .localCheckpoint()
    refuseIncremental(touched.filter(col("__ck").isNull).isEmpty,
      s"changesIncremental: NULL keys in ($fromV, $toV] at $path — " +
        "null never equi-joins, so the incremental lookup cannot " +
        "classify it; use changes()")
    if (touched.count() > maxBroadcastKeys)
      return changes(spark, path, keyCol, fromV, toV)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(VersionCol).desc, col(SeqCol).desc_nulls_last)
    val dataCols = slice.columns.filterNot(MetaCols.contains)
      .filterNot(_ == keyCol).toSeq
    val newest = slice.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(Seq(col(keyCol), col(DeletedCol).as("__ndel")) ++
        dataCols.map(c => col(c).as(s"__n_$c")): _*)
    // 2) old state for the touched keys, through the pruned V2 scan
    // (empty when nothing was committed at or below fromV)
    val (common, oldSel) = rawOldOpt match {
      case None =>
        (dataCols,
          newest.select(Seq(col(keyCol), lit(true).as("__ino")) ++
            dataCols.map(c => col(s"__n_$c").as(s"__o_$c")): _*)
            .limit(0))
      case Some(rawOld) =>
        val oldRaw = rawOld.join(broadcast(touched),
          rawOld(keyCol) === col("__ck")).drop("__ck")
        val base0 = checkpoints(spark, path).filter(_ <= fromV)
          .lastOption.getOrElse(0)
        val old = resolve(oldRaw, keyCol,
            mv.exists(v => v > base0 && v <= fromV))
          .drop(VersionCol, DeletedCol, MergeCol, SeqCol, CkptCol)
        val cs = dataCols.filter(old.columns.contains)
        (cs, old.select(Seq(col(keyCol), lit(true).as("__ino")) ++
          cs.map(c => col(c).as(s"__o_$c")): _*))
    }
    // 3) classify — every old row is a touched key, LEFT join suffices
    val differs =
      if (common.isEmpty) lit(false)
      else common.map(c => !(col(s"__n_$c") <=> col(s"__o_$c")))
        .reduce(_ || _)
    newest.join(oldSel, Seq(keyCol), "left_outer")
      .select(col(keyCol),
        when(col("__ino").isNull && !col("__ndel"), lit("insert"))
          .when(col("__ino").isNotNull && col("__ndel"), lit("delete"))
          .when(col("__ino").isNotNull && differs, lit("update"))
          .otherwise(lit("none")).as("change_type"))
      .filter(col("change_type") =!= "none")
  }

  /** CDC with AUTOMATIC kernel dispatch: [[changesIncremental]] when
    * its preconditions hold, [[changes]] otherwise — the face a
    * cron'd consumer points at (SQL: `graft_changes_auto`). Same
    * answer either way; O(delta) whenever the range allows it. The
    * two metadata-decidable refusals (MERGE commits in range, column
    * mapping changed in range) dispatch up front; NULL keys in the
    * delta — only discoverable from the delta probe itself — fall
    * back when the kernel refuses; the `maxBroadcastKeys` overflow
    * already falls back inside the kernel. */
  def changesAuto(spark: SparkSession, path: String, keyCol: String,
      fromV: Int, toV: Int,
      maxBroadcastKeys: Long = 5000000L): DataFrame = {
    require(fromV < toV, s"changesAuto: fromV $fromV must be < toV $toV")
    val mv = mergeVersions(spark, path)
    if (mv.exists(v => v > fromV && v <= toV) ||
        mappingAt(spark, path, fromV) != mappingAt(spark, path, toV))
      changes(spark, path, keyCol, fromV, toV)
    else
      try changesIncremental(spark, path, keyCol, fromV, toV,
        maxBroadcastKeys)
      catch {
        // the kernel's refusals surface eagerly (the delta probe runs
        // at call time) as the TYPED IncrementalRefusal — anything
        // else propagates
        case _: IncrementalRefusal =>
          changes(spark, path, keyCol, fromV, toV)
      }
  }

  /**
   * The table as a STREAMING source (Delta's `readStream` shape): a
   * Structured Streaming file source over the version dirs, emitting
   * each committed version's rows exactly once as the directory
   * appears. Works because publication is one atomic rename — a
   * version is never listed half-written — and hidden staging dirs /
   * underscore marker files are invisible to the file source.
   * Checkpoint versions are excluded row-wise via the `__ckpt` stamp
   * (they are materialized duplicates of rows the stream already
   * delivered). Rows keep `__v` (ordering/CDC tag) and `__deleted`
   * (downstream tombstone handling); the schema is FIXED at stream
   * start (file sources do not evolve schemas mid-stream — restart the
   * stream after a schema-evolving commit to pick up new columns).
   * Requires at least one committed version (the schema source).
   */
  def logStream(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"logStream: no committed versions at $path " +
      "(the first version fixes the stream schema)")
    val dataDirs = vs.map(v => s"$path/v=$v").filter(d =>
      fs(spark, path).listStatus(new Path(d))
        .exists(_.getPath.getName.endsWith(".parquet")))
    val widenLs = widenAt(spark, path, vs.max)
    val schema =
      if (widenLs.isEmpty)
        spark.read.option("mergeSchema", "true").parquet(dataDirs: _*)
          .schema
      else physUnionSchema(spark, path,
        dataVersions(spark, path, vs), widenLs)
    // column-mapped table: the stream reads physical files; surface
    // the CURRENT logical names (fixed at stream start, like the
    // schema itself)
    applyMapping(spark.readStream.schema(schema).parquet(s"$path/v=*"),
        mappingAt(spark, path, vs.max))
      .filter(!coalesce(col(CkptCol), lit(false)))
      .drop(MergeCol, SeqCol, CkptCol)
  }

  /** STREAMING CDC, step 2 of 2 (Delta CDF shape): classify ONE
    * micro-batch of version-stamped rows — from the V2 streaming
    * source (`format("graft")`, what [[changesStreamTo]] wires) or
    * from [[logStream]] — into `(key, change_type,
    * change_version)` rows —
    * one classification per committed version the batch delivered,
    * each the per-version diff [[changesAuto]]`(v-1, v)` so
    * intermediate states are preserved (insert@v1 then delete@v3 is
    * two change rows), not collapsed the way one `changes(v1, v3)`
    * would. The batch payload only NAMES the versions (a bounded
    * distinct over `__v` — versions per trigger, not rows); each
    * version's delta re-reads through the bounded V2 face, so
    * per-commit cost stays touched-keys-sized, and MERGE / mapping /
    * NULL-key commits classify through the full kernel automatically.
    *
    * Exactly-once: the file source delivers each version's files in
    * ONE batch (publication is an atomic directory rename, so a
    * version is never listed half-written — but do NOT set
    * `maxFilesPerTrigger`, which could split a multi-file version
    * across batches and double-classify it), and `foreachBatch`
    * replays a failed batch under the same id — pair with an
    * idempotent sink ([[appendBatch]]) for end-to-end exactly-once
    * across restarts. [[changesStreamTo]] wires exactly this. */
  def classifyChanges(batch: DataFrame, path: String,
      keyCol: String): DataFrame = {
    val spark = batch.sparkSession
    // checkpoint rows (ckpt-stamped) are re-materializations of
    // already-delivered versions, never new changes: the file-glob
    // source filters them upstream, but the V2 source's INITIAL batch
    // on a vacuumed table delivers the base checkpoint (the stand-in
    // for the reclaimed prefix, whose per-version history is gone) —
    // exclude it from version naming here so both feeds agree
    val named =
      if (batch.columns.contains(CkptCol))
        batch.filter(!coalesce(col(CkptCol), lit(false)))
      else batch
    val vs = named.select(col(VersionCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (vs.isEmpty) {
      val keyType = currentAsOf(spark, path, keyCol,
        latestVersion(spark, path)).schema(keyCol).dataType
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol, keyType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("change_version",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    } else vs.map { v =>
      // NOT named __v: a Versioned sink stamps its own __v on append,
      // and the source-version tag must survive the fold
      changesAuto(spark, path, keyCol, v - 1, v)
        .withColumn("change_version", lit(v))
    }.reduce(_.unionByName(_))
  }

  /** The STREAMING CDC pipe in one call: the admission-controlled V2
    * streaming source over the source table
    * (`readStream.format("graft")`,
    * [[graft.sources.GraftDataSource]]) → per-version classification
    * ([[classifyChanges]]) → exactly-once fold into a Versioned SINK
    * table ([[appendBatch]] keyed by the micro-batch id UNDER a
    * checkpoint-stable ingest scope, so a replayed batch is
    * recognized and skipped while a REBUILT stream — fresh checkpoint
    * location, epoch ids restarting at 0 — feeds the same sink
    * without its first batches being mistaken for the old stream's).
    * Restart-safe end to end: the source's checkpointed
    * COMMIT-VERSION offsets resume at the first undelivered version,
    * and the sink's batch markers absorb re-delivery. The sink accumulates `(key, change_type,
    * change_version)` rows — the downstream-consumable change FEED
    * (read its log view), not a resolved state.
    *
    * BACKFILL is bounded: `maxVersionsPerTrigger` (and optionally
    * `maxBytesPerTrigger`) cap each micro-batch, so a fresh stream on
    * a table with a long history drains as a sequence of
    * individually-checkpointed epochs — each epoch classifies at most
    * N versions (a union of N bounded `changesAuto(v-1, v)` plans)
    * and a mid-backfill restart loses at most one epoch of work,
    * where the previous file-glob pipe delivered EVERY version in one
    * unbounded batch 0 (one retry domain, a thousands-wide union plan
    * on a 100 TB table's history). The fold is admission-invariant:
    * versions are classified one at a time regardless of how they
    * were batched, so the accumulated feed is identical for any cap. */
  /** STREAMING TABLE REPLICATION — the cross-region replica pipe:
    * stream the source's committed versions through the
    * admission-controlled V2 source and FOLD each micro-batch into a
    * destination Versioned table, so `current(dst)` tracks
    * `current(src)` version by version. The fold is the source's own
    * resolve rule applied within the batch (latest `(__v, __seq)` per
    * key wins; tombstones replicate as tombstones), so one bounded
    * replica commit per epoch carries at most one row per touched
    * key — batch-size-invariant state, exactly-once under the same
    * checkpoint-scoped markers as [[changesStreamTo]].
    *
    * A VACUUMED source bootstraps correctly: the fresh stream's
    * initial batch delivers the base checkpoint (the only copy of the
    * reclaimed prefix) and the fold treats its rows like any others.
    * MERGE commits RESTATE instead of refusing: a column overlay has
    * no self-contained row state, so a merge-bearing epoch folds by
    * resolving its TOUCHED KEYS against the source at the epoch's
    * end version — the O(delta) CDC old-state probe shape
    * ([[changesIncremental]] step 2: bounded `fromCheckpointBase` V2
    * read, IN-set file pruning, broadcast under `maxBroadcastKeys`) —
    * with tombstones synthesized for touched keys dead at that
    * version. Keys the epoch never touched are untouched in the
    * replica, so the commit stays touched-keys-sized; merge-free
    * epochs (the common case) keep the pure within-batch fold and
    * never pay the probe. NULL keys under a merge-bearing epoch
    * refuse loudly (null never equi-joins — the restatement cannot
    * address the key; delete the null-key rows or avoid MERGE on
    * that table). The schema is fixed at stream
    * start (restart
    * after schema-evolving commits, the stream contract). The replica
    * is an ordinary Versioned table: key-resolved reads, its own
    * compaction/vacuum cadence, further downstream CDC — everything
    * composes. */
  def replicateStreamTo(spark: SparkSession, path: String,
      keyCol: String, dstPath: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerTrigger: Int = 16,
      maxBytesPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxVersionsPerTrigger >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
    val ckptPath = new Path(checkpointDir)
    val ingest = ingestIdFor("repl",
      ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(ckptPath).toString)
    val rd = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    maxBytesPerTrigger.fold(rd)(b =>
        rd.option("maxBytesPerTrigger", b.toString))
      .load(path).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // MERGE detection from METADATA first (free when the source
        // has no merge commits — the common case); only a
        // merge-bearing source pays a column-pruned distinct over the
        // batch
        val mv = mergeVersions(spark, path).toSet
        val bvs =
          if (mv.isEmpty) Array.empty[Int]
          else b.select(col(VersionCol).cast("int")).distinct()
            .collect().map(_.getInt(0))
        val folded =
          if (!bvs.exists(mv.contains)) {
            // merge-free epoch: pure within-batch fold (latest
            // (__v, __seq) per key wins — every row self-contained).
            // Legacy dirs may predate __seq — normalize like resolve()
            val bs = if (b.columns.contains(SeqCol)) b
              else b.withColumn(SeqCol, lit(null).cast("long"))
            val w = Window.partitionBy(keyCol).orderBy(
              col(VersionCol).desc, col(SeqCol).desc_nulls_last)
            bs.withColumn("__rk", row_number().over(w))
              .filter(col("__rk") === 1)
              .drop("__rk", VersionCol, SeqCol, MergeCol, CkptCol)
          } else {
            // merge-bearing epoch: overlay rows are not
            // self-contained, so RESTATE the epoch's touched keys
            // from the source resolved at the epoch's end version —
            // the changesIncremental old-state probe shape (bounded
            // checkpoint-base read, IN-set pruning, broadcast-gated)
            val vHi = bvs.max
            val touched = b.select(col(keyCol).as("__ck")).distinct()
              .localCheckpoint()
            require(touched.filter(col("__ck").isNull).isEmpty,
              s"replicateStreamTo: NULL keys in a MERGE-bearing epoch " +
                s"from $path — null never equi-joins, so the " +
                "restatement cannot resolve the key's state; delete " +
                "the null-key rows (or avoid MERGE on this table)")
            val live = currentForKeys(spark, path, keyCol, touched, vHi)
              .withColumn(DeletedCol, lit(false))
            // touched keys with no live row at vHi are dead there —
            // synthesize tombstones so the replica's resolve agrees
            val dataCols = live.columns
              .filterNot(c => c == keyCol || c == DeletedCol)
            val dead = touched
              .join(live.select(col(keyCol).as("__lk")),
                col("__ck") === col("__lk"), "left_anti")
              .select(Seq(col("__ck").as(keyCol)) ++
                dataCols.map(c => lit(null).cast(live.schema(c).dataType)
                  .as(c)) ++
                Seq(lit(true).as(DeletedCol)): _*)
            live.unionByName(dead)
          }
        appendBatch(folded, dstPath, id, ingest)
        ()
      }
      .start()
  }

  /** MIGRATION note (r17 pipe swap): this pipe once read the
    * file-glob [[logStream]] and marked sink epochs with BARE
    * `_BATCH_<epoch>` ids; it now reads the admission-controlled V2
    * source and scopes markers per checkpoint (`cdc<hash>-…`).
    * Checkpoints from the old pipe are INCOMPATIBLE on resume (source
    * offsets and marker scopes both changed): drain the old stream to
    * idle, then restart from a FRESH checkpoint location — the new
    * stream re-delivers from the source's start (or its base
    * checkpoint) into the same sink exactly once under its own scope.
    * One residual from a TORN old-pipe epoch (sink append landed, the
    * engine's checkpoint commit lost): that epoch's rows re-deliver
    * under the new scope as duplicate feed rows — dedup the feed once
    * on `(key, change_type, change_version)` after migrating. Legacy
    * bare markers are deliberately NOT honored by the new scope: a
    * fresh stream's epoch ids restart at 0, and treating the old
    * stream's bare `_BATCH_0..n` as "already applied" would silently
    * swallow the new stream's first epochs — the exact bug the scope
    * exists to prevent. */
  def changesStreamTo(spark: SparkSession, path: String, keyCol: String,
      sinkPath: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerTrigger: Int = 16,
      maxBytesPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxVersionsPerTrigger >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
    // sink markers scoped by a CHECKPOINT-STABLE ingest id: epoch ids
    // restart at 0 for every new checkpoint location, so without the
    // scope a stream recreated under a fresh checkpoint (same sink)
    // would read its early batches as replays of the OLD stream's
    // markers and silently drop new source versions
    val ckptPath = new Path(checkpointDir)
    val ingest = ingestIdFor("cdc",
      ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(ckptPath).toString)
    val rd = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    maxBytesPerTrigger.fold(rd)(b =>
        rd.option("maxBytesPerTrigger", b.toString))
      .load(path).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendBatch(classifyChanges(b, path, keyCol), sinkPath, id,
          ingest)
        ()
      }
      .start()
  }

  /** Max `_BATCH_<n>` idempotency marker across a view table's
    * committed versions (0 = none) — the "source version this
    * maintained view reflects" shared by [[MatView]] and
    * [[SketchView]]. */
  private[io] def batchMarkerMax(spark: SparkSession, viewPath: String): Int = {
    val f = fs(spark, viewPath)
    versions(spark, viewPath).flatMap { v =>
      f.listStatus(new Path(s"$viewPath/v=$v")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("_BATCH_"))
        // streaming-sink markers are `_BATCH_<queryId>_<epoch>` —
        // not view refresh markers; ignore the non-integer shape
        .flatMap(_.stripPrefix("_BATCH_").toIntOption)
    }.maxOption.getOrElse(0)
  }

  /** Maintained-view delta slice (from, to] with the shared safety
    * guards: refuse while a source slot at or below `to` is claimed
    * but unpublished (a late low-version publish would be filtered by
    * `v > from` forever — silent permanent drift), refuse MERGE
    * commits in range (no self-contained row state to diff), refuse a
    * source vacuumed past the view (the reclaimed deltas are
    * unrecoverable — rebuild the view); a FRESH view on a vacuumed
    * source bootstraps from the vacuum-base checkpoint like [[asOf]].
    * Returns the non-checkpoint version dirs to fold (empty = pure
    * compaction range, nothing to apply). */
  private[io] def viewDeltaSlice(spark: SparkSession, srcPath: String,
      from: Int, to: Int): Seq[Int] = {
    val pending = unpublishedClaims(spark, srcPath).filter(_ <= to)
    require(pending.isEmpty, s"refresh($from -> $to): source version " +
      s"slots ${pending.mkString(",")} are claimed but unpublished; an " +
      "in-flight writer could publish below the refresh head and be " +
      "silently skipped — wait for it (or let vacuum sweep a crashed " +
      "writer's stale claim) and retry")
    require(!mergeVersions(spark, srcPath)
        .exists(v => v > from && v <= to),
      s"refresh($from -> $to): MERGE commits in the delta range have no " +
        "self-contained row state to diff; compact the source first")
    val ck = checkpoints(spark, srcPath).toSet
    val vb = vacuumBase(spark, srcPath)
    vb.foreach { b =>
      require(from == 0 || from >= b, s"refresh($from -> $to): source " +
        s"versions below $b were vacuumed at $srcPath; the view is " +
        "stale beyond the source's retention — rebuild it with init")
    }
    vb match {
      case Some(b) if from == 0 =>
        b +: versions(spark, srcPath)
          .filter(v => v > b && v <= to && !ck.contains(v))
      case _ => versions(spark, srcPath)
        .filter(v => v > from && v <= to && !ck.contains(v))
    }
  }

  /** Tombstone every CURRENT key matching `cond` — predicate delete
    * (the retention/GDPR shape: `DELETE WHERE`). One key-scoped
    * resolve finds the matching live keys; the tombstones land as one
    * commit. Returns the new version, or 0 when nothing matched (no
    * empty commit burned). */
  def deleteWhere(spark: SparkSession, path: String, keyCol: String,
      cond: org.apache.spark.sql.Column): Int = {
    val doomed = current(spark, path, keyCol).filter(cond)
      .select(keyCol)
    if (doomed.isEmpty) 0
    else delete(doomed, path)
  }

  /** DESCRIBE-DETAIL observability: one row per committed version —
    * commit wall-clock, checkpoint/merge/batch-marker flags, parquet
    * file count and total bytes. Pure metadata (markers + file
    * listing), no data scan; the ops surface for retention and
    * compaction decisions. */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val ck = checkpoints(spark, path).toSet
    val mg = mergeVersions(spark, path).toSet
    val times = commitTimes(spark, path)
    val pinned = exportedFiles(spark, path)
    val rows = versions(spark, path).map { v =>
      val dir = new Path(s"$path/v=$v")
      // ONE listing + ONE manifest read per version dir: markers,
      // own-file count/bytes, and carried-ref count/bytes all derive
      // from it (a 10^4-version table must not pay 3x the RPCs)
      val statuses = f.listStatus(dir).toSeq
      val markerNames = statuses.map(_.getPath.getName)
      val ownParquet = statuses
        .filter(_.getPath.getName.endsWith(".parquet"))
      val carriedRefs = readManifest(f, dir).map(refPath(path, _))
      val carriedLens = refLens(f, carriedRefs)
      val batch = markerNames
        .find(_.startsWith("_BATCH_")).map(_.stripPrefix("_BATCH_"))
      // dead-letter split stats stamped by appendCheckedQuarantine:
      // _CHECKS_clean-N_bad-M rides BOTH sides of the marker family
      val checks = markerNames.flatMap(parseChecks).headOption
      // clone-pinned files of THIS dir — vacuum cannot reclaim them
      // until releaseClone ([[clonePins]] lists file/clone/since)
      val dirQ = f.makeQualified(dir).toString
      // operation class, derived from the commit's OWN markers (no
      // data scan): checkpoint = materialized state (compact /
      // restore / clone base), merge = column overlay, metadata =
      // data-less mapping/widen DDL, ingest = batch/epoch-marked
      // write, write = plain append/upsert/delete/DML
      val op =
        if (ck.contains(v)) "checkpoint"
        else if (mg.contains(v)) "merge"
        // batch marker BEFORE the data-less test: an empty micro-batch
        // (or an all-divert quarantine epoch) is still an ingest
        else if (batch.isDefined) "ingest"
        else if ((ownParquet.isEmpty && carriedRefs.isEmpty)) "metadata"
        else "write"
      (v, times.get(v), ck.contains(v), mg.contains(v), batch, op,
        ownParquet.length + carriedRefs.length,
        ownParquet.map(_.getLen).sum + carriedLens.sum,
        pinned.count(_.startsWith(dirQ + "/")),
        checks.map(_._1), checks.map(_._2))
    }
    rows.toDF("version", "commit_ts_millis", "is_checkpoint", "is_merge",
      "batch_id", "operation", "num_files", "size_bytes",
      "exported_files", "checks_clean", "checks_bad")
  }

  /** DEAD-LETTER rate observability WITHOUT reading the quarantine
    * table: one row per ingest version that carried a
    * `_CHECKS_clean-N_bad-M` stats marker
    * ([[appendCheckedQuarantine]]) — the per-batch clean/diverted
    * split. Run against the MAIN table or the quarantine table (both
    * sides of the marker family carry the same stats); `bad_rows > 0`
    * rows are the epochs that diverted. Pure metadata (marker names),
    * no data scan. */
  def quarantineStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    // marker names only — no manifest reads, no byte sizing (this is
    // the cheap observability call; detail() is the full one)
    val rows = versions(spark, path).flatMap { v =>
      val names = f.listStatus(new Path(s"$path/v=$v")).toSeq
        .map(_.getPath.getName)
      names.flatMap(parseChecks).headOption.map { case (c, b) =>
        (v, names.find(_.startsWith("_BATCH_"))
          .map(_.stripPrefix("_BATCH_")), c, b)
      }
    }
    rows.toDF("version", "batch_id", "clean_rows", "bad_rows")
  }

  /** Thresholds for [[maintain]]'s auto-policy. Every knob has a
    * 100 TB-sane default; the SQL face reads overrides from
    * `maintain.*` table properties. */
  final case class MaintainConfig(
      /** Fold once this many DATA commits sit above the checkpoint. */
      deltaCommits: Int = 8,
      /** …or once the delta's bytes reach this fraction of the
        * checkpoint's. */
      deltaBytesFrac: Double = 0.10,
      /** Full re-cluster instead of a fold once the delta's bytes
        * reach this fraction of the checkpoint's (the fold would
        * rewrite most files anyway — pay once, restore clustering). */
      fullRewriteFrac: Double = 0.5,
      /** Target checkpoint file size; also the fold's bin-packing
        * floor (files under half this get folded into the rewrite)
        * and the sizing unit for nFiles. */
      targetFileBytes: Long = 128L << 20,
      /** Full re-cluster when more than this fraction of the head
        * checkpoint's files are under targetFileBytes/2 AND
        * re-clustering would actually shrink the file count. */
      smallFileFrac: Double = 0.5,
      /** Reclaim history below head−horizon after maintenance
        * (0 = never vacuum). */
      vacuumHorizon: Int = 0,
      /** Reclaim history older than this many millis after
        * maintenance (0 = off) — the TIME-based retention production
        * crons want ([[vacuumOlderThan]] semantics: the cut stays
        * below every young commit). Takes precedence over
        * `vacuumHorizon` when both are set. */
      vacuumRetainMs: Long = 0L)

  /** ONE-CALL AUTO-MAINTENANCE: read the table's shape (checkpoint
    * base, delta commits/bytes above it, file-size histogram) and run
    * whatever [[compactIncremental]] / [[compact]] /
    * [[compactZOrder]] / [[vacuum]] combination the thresholds call
    * for — the ops loop a 100 TB table needs on a cron, without an
    * operator choosing fold-vs-recluster per table per day. Policy,
    * in order:
    *
    *  1. delta above the checkpoint ≥ `fullRewriteFrac` of the
    *     checkpoint → FULL compact (re-clusters; Z-order columns from
    *     the `_ZCOLS_` marker are preserved), sized to
    *     `targetFileBytes`;
    *  2. else delta ≥ `deltaCommits` commits or ≥ `deltaBytesFrac`
    *     of the checkpoint → INCREMENTAL fold (O(touched + delta),
    *     rewritten part sized, under-half-target files bin-packed in);
    *  3. head checkpoint fragmented (> `smallFileFrac` of files under
    *     half target, and re-clustering would shrink the count) →
    *     FULL compact;
    *  4. `vacuumHorizon` > 0 → vacuum.
    *
    * Returns the (action, detail) list actually taken — `noop` when
    * the table is below every threshold. Idempotent at a quiet head:
    * a second call right after does nothing. */
  def maintain(spark: SparkSession, path: String, keyCol: String,
      cfg: MaintainConfig = MaintainConfig()): Seq[(String, String)] = {
    val actions = mutable.ArrayBuffer.empty[(String, String)]
    val f = fs(spark, path)
    def bytesOf(v: Int): Long = fileLensOf(f, path, v).sum
    def nf(bytes: Long): Int =
      math.max(1, math.ceil(bytes.toDouble / cfg.targetFileBytes).toInt)
    val head0 = latestVersion(spark, path)
    if (head0 == 0) return Seq(("noop", "empty table"))
    val cks = checkpoints(spark, path)
    val base = cks.filter(_ <= head0).lastOption
    val deltaVs = versions(spark, path)
      .filter(v => base.forall(_ < v) && !cks.contains(v))
      .filter(v => filesOf(f, path, v).nonEmpty)
    val deltaBytes = deltaVs.map(bytesOf).sum
    val ckptBytes = base.map(bytesOf).getOrElse(0L)
    val zc = base.map(zcolsAt(spark, path, _)).getOrElse(Nil)
    def fullCompact(estBytes: Long, why: String): Unit = {
      val files = nf(estBytes)
      val v =
        if (zc.nonEmpty) compactZOrder(spark, path, keyCol, zc, files)
        else compact(spark, path, keyCol, files)
      actions += (("compact",
        s"v=$v, $files file(s)${if (zc.nonEmpty)
          s", zorder=${zc.mkString(",")}" else ""} — $why"))
    }
    if (deltaVs.nonEmpty) {
      if (base.isEmpty) {
        if (deltaVs.size >= cfg.deltaCommits ||
          deltaBytes >= cfg.targetFileBytes)
          fullCompact(deltaBytes, "first checkpoint")
      } else if (deltaBytes >= cfg.fullRewriteFrac * ckptBytes)
        fullCompact(ckptBytes + deltaBytes,
          s"delta $deltaBytes B >= ${cfg.fullRewriteFrac} x " +
            s"checkpoint $ckptBytes B")
      else if (deltaVs.size >= cfg.deltaCommits ||
        deltaBytes >= cfg.deltaBytesFrac * math.max(ckptBytes, 1L)) {
        val v = compactIncremental(spark, path, keyCol,
          minFileBytes = cfg.targetFileBytes / 2,
          nFiles = nf(deltaBytes * 2))
        actions += (("fold",
          s"v=$v, ${deltaVs.size} delta commit(s), $deltaBytes B"))
      }
    }
    // fragmentation sweep over the (possibly just-written) head
    // checkpoint — only when re-clustering actually shrinks the count
    val head1 = latestVersion(spark, path)
    checkpoints(spark, path).filter(_ <= head1).lastOption.foreach { c =>
      val sizes = fileLensOf(f, path, c)
      val small = sizes.count(_ < cfg.targetFileBytes / 2)
      val want = nf(sizes.sum)
      if (sizes.length > 1 &&
        small.toDouble / sizes.length > cfg.smallFileFrac &&
        want < sizes.length)
        fullCompact(sizes.sum,
          s"$small/${sizes.length} files under " +
            s"${cfg.targetFileBytes / 2} B")
    }
    if (cfg.vacuumRetainMs > 0) {
      val got = vacuumOlderThan(spark, path, cfg.vacuumRetainMs)
      if (got.nonEmpty)
        actions += (("vacuum", s"reclaimed ${got.size} version(s) " +
          s"below ${got.max + 1} (older than ${cfg.vacuumRetainMs} ms)"))
    } else if (cfg.vacuumHorizon > 0) {
      val got = vacuum(spark, path, cfg.vacuumHorizon)
      if (got.nonEmpty)
        actions += (("vacuum", s"reclaimed ${got.size} version(s) " +
          s"below ${got.max + 1}"))
    }
    if (actions.isEmpty) Seq(("noop", "below every threshold"))
    else actions.toSeq
  }

  /** Destroy the table (test/fixture reset). */
  def drop(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }
}
