package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Sketches

/**
 * Incrementally-maintained DISTINCT-COUNT view over a [[Versioned]]
 * source: per-group HyperLogLog register state kept as its own
 * Versioned table, so `estimate` always answers "distinct `valueCol`
 * per `groupCol` over the source's resolved current state" WITHOUT a
 * source re-scan — the cardinality profile ([[MatView]] covers
 * COUNT/SUM/min-max; distinct-count is the aggregate neither deltas
 * nor extremes can maintain, because a fresh value may duplicate an
 * existing one: only sketch STATE makes it foldable).
 *
 * State: one row per (group, register) — at most m = 2^b rows per
 * group regardless of source size, keyed `g:bucket` for the per-key
 * resolve. Two-tier maintenance, mirroring [[MatView]]'s min/max:
 *
 *  - APPEND-ONLY refresh (no tombstones, no prior state for any
 *    touched key): the delta's register table folds in by per-register
 *    max — monotone, DELTA cost, no source read (the at-rest analogue
 *    of [[Sketches.hllMerge]]);
 *  - upserts or deletes: registers can only be rebuilt — SCOPED
 *    recompute of the TOUCHED groups from the resolved source
 *    (semi-join pruned; untouched groups never read), registers that
 *    vanish tombstoned in the same commit.
 *
 * Commits ride [[Versioned.appendBatch]] with `batchId = to`, so a
 * crashed or repeated refresh is exactly-once, and the shared
 * [[Versioned.viewDeltaSlice]] guards (in-flight claims, MERGE in
 * range, vacuumed-past-view) apply verbatim. The view being a plain
 * Versioned table means [[Versioned.logStream]] turns it into a
 * cardinality CHANGE FEED and [[Versioned.compact]]/`vacuum` (via
 * [[maintainView]]) bound its history.
 *
 * Estimates are md5-deterministic ([[Sketches.hllRegisters]]'s
 * layout), so the maintained state is oracle-checkable: a DuckDB
 * recompute over the resolved source lands on the identical registers
 * and estimates (q_distinct_view).
 */
object SketchView {

  final case class Handle(viewPath: String, srcPath: String,
    keyCol: String, groupCol: String, valueCol: String, b: Int = 8)

  /** Composite resolve key of a register row. */
  private val SkCol = "__sk"
  private val GroupCol = "g"

  /** Create the view (dropping prior state) and fold the source's
    * current head. */
  def init(spark: SparkSession, srcPath: String, keyCol: String,
      groupCol: String, valueCol: String, viewPath: String,
      b: Int = 8): Handle = {
    val h = Handle(viewPath, srcPath, keyCol, groupCol, valueCol, b)
    Versioned.drop(spark, viewPath)
    refresh(spark, h)
    h
  }

  /** The source version the view reflects (0 = nothing yet). */
  def refreshedVersion(spark: SparkSession, h: Handle): Int =
    Versioned.batchMarkerMax(spark, h.viewPath)

  /** Fold source versions (refreshedVersion, head] into the register
    * state. Idempotent on the batch marker. */
  def refresh(spark: SparkSession, h: Handle): Int =
    refreshDetailed(spark, h)._1

  /** [[refresh]] plus whether the APPEND-ONLY register fold ran (true)
    * or the scoped group recompute (false) — spec/ops observability. */
  private[graft] def refreshDetailed(spark: SparkSession,
      h: Handle): (Int, Boolean) = {
    val from = refreshedVersion(spark, h)
    val to = Versioned.latestVersion(spark, h.srcPath)
    if (to <= from) return (from, false)
    val deltaVs = Versioned.viewDeltaSlice(spark, h.srcPath, from, to)
    if (deltaVs.isEmpty) return (from, false)
    val needed = Seq(h.keyCol, h.groupCol, h.valueCol).distinct
    def pruned(df: DataFrame) = {
      val keep = needed.filter(df.columns.contains) ++
        df.columns.filter(Versioned.MetaCols.contains)
      df.select(keep.map(col): _*)
    }
    val delta = pruned(Versioned.readDirs(spark, h.srcPath, deltaVs))
    val w = Window.partitionBy(h.keyCol)
      .orderBy(col(Versioned.VersionCol).desc,
        col(Versioned.SeqCol).desc_nulls_last)
    val newest0 = delta.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .localCheckpoint()
    val newest = Seq(h.groupCol, h.valueCol).distinct
      .foldLeft(newest0)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    val touched = newest.select(h.keyCol).distinct().localCheckpoint()
    val touchedSmall =
      MatView.keyBytes(touched, h.keyCol) <= MatView.BroadcastBytes
    def semiTouched(df: DataFrame) =
      df.join(if (touchedSmall) broadcast(touched) else touched,
        Seq(h.keyCol), "left_semi")
    // prior state of the touched keys decides the tier: any prior row
    // (upsert) or tombstone (delete) means registers may need to
    // SHRINK. Key-filtered BEFORE the resolve window (per-key resolve
    // commutes with a key filter), so this reads O(touched keys' rows)
    // — the append-only probe never pays a source-sized resolve.
    val oldState =
      if (from == 0) null
      else {
        val baseCk = Versioned.checkpoints(spark, h.srcPath)
          .filter(_ <= from).lastOption
        val loV = baseCk.map(_ - 1).getOrElse(0)
        val oldVs = Versioned.versions(spark, h.srcPath)
          .filter(v => v > loV && v <= from)
        val hasMerges = Versioned.mergeVersions(spark, h.srcPath)
          .exists(v => v > loV && v <= from)
        Versioned.resolve(
          semiTouched(pruned(Versioned.readDirs(spark, h.srcPath, oldVs))),
          h.keyCol, hasMerges)
      }
    val appendOnly =
      newest0.filter(col(Versioned.DeletedCol)).isEmpty &&
        (oldState == null || oldState.isEmpty)
    def regs(df: DataFrame) =
      Sketches.hllRegisters(df.select(col(h.groupCol), col(h.valueCol)),
        h.groupCol, h.valueCol, h.b)
    val viewEmpty = Versioned.latestVersion(spark, h.viewPath) == 0
    def viewCur = Versioned.current(spark, h.viewPath, SkCol)
      .select(GroupCol, "bucket", "rmax")
    val rows =
      if (appendOnly) {
        // pure inserts: per-register max against the view's rows of the
        // SAME (g, bucket) only — delta-sized, no source read
        val dr = regs(newest.filter(!col(Versioned.DeletedCol)))
        val folded =
          if (viewEmpty) dr
          else dr.join(
            viewCur.withColumnRenamed("rmax", "__old"),
            Seq(GroupCol, "bucket"), "left")
            .select(col(GroupCol), col("bucket"),
              greatest(col("rmax"), col("__old")).as("rmax"))
        folded.withColumn(Versioned.DeletedCol, lit(false))
      } else {
        // upsert/delete: rebuild the TOUCHED groups' registers from the
        // resolved source (untouched groups never read); registers that
        // vanish (emptied group, lost max) tombstone in the same commit
        val oldGroups =
          if (oldState == null)
            newest.filter(lit(false)).select(col(h.groupCol).as(GroupCol))
          else oldState.select(col(h.groupCol).as(GroupCol))
        val touchedGroups = newest.filter(!col(Versioned.DeletedCol))
          .select(col(h.groupCol).as(GroupCol))
          .unionByName(oldGroups)
          .filter(col(GroupCol).isNotNull).distinct().localCheckpoint()
        val scoped = Versioned.currentAsOf(spark, h.srcPath, h.keyCol, to)
          .join(touchedGroups.withColumnRenamed(GroupCol, h.groupCol),
            Seq(h.groupCol), "left_semi")
        val newRegs = regs(scoped).localCheckpoint()
        val gone =
          if (viewEmpty) newRegs.filter(lit(false))
          else viewCur
            .join(touchedGroups, Seq(GroupCol), "left_semi")
            .join(newRegs.select(GroupCol, "bucket"),
              Seq(GroupCol, "bucket"), "left_anti")
        newRegs.withColumn(Versioned.DeletedCol, lit(false))
          .unionByName(gone.select(col(GroupCol), col("bucket"),
            lit(null).cast("long").as("rmax"),
            lit(true).as(Versioned.DeletedCol)))
      }
    val out = rows.select(
      concat(col(GroupCol), lit(":"), col("bucket")).as(SkCol),
      col(GroupCol), col("bucket"), col("rmax"),
      col(Versioned.DeletedCol))
    Versioned.appendBatch(out, h.viewPath, batchId = to.toLong)
    (to, appendOnly)
  }

  /** The maintained register state: (groupCol, bucket, rmax). */
  def registers(spark: SparkSession, h: Handle): DataFrame =
    Versioned.current(spark, h.viewPath, SkCol)
      .select(col(GroupCol), col("bucket"), col("rmax"))

  /** Per-group distinct estimate from the maintained state — reads
    * ONLY the view (<= m rows per group), never the source. */
  def estimate(spark: SparkSession, h: Handle): DataFrame =
    Sketches.hllEstimate(registers(spark, h), h.b)
      .withColumnRenamed("g", h.groupCol)

  /** Bound the view's own history (checkpoint-compact + vacuum,
    * carrying the refresh marker — see [[MatView.maintainView]]). */
  def maintainView(spark: SparkSession, h: Handle,
      horizon: Int = 0): Seq[Int] = {
    val rv = refreshedVersion(spark, h)
    if (rv == 0) return Nil
    Versioned.compactWithMarker(spark, h.viewPath, SkCol, s"_BATCH_$rv")
    Versioned.vacuum(spark, h.viewPath, horizon)
  }
}
