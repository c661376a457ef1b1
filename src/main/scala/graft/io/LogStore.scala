package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Pluggable commit-primitive store — the Delta/Iceberg "LogStore"
 * shape. The at-rest state formats ([[Versioned]] version slots and
 * batch markers, [[graft.pipeline.Search]] index generations) never
 * touch filesystem CAS primitives directly; they route through the
 * session's configured store, so a deployment on an object store
 * without put-if-absent (the S3 caveat) plugs a metastore-backed
 * implementation here instead of forking the formats.
 *
 * Selection is per session via the `spark.graft.logstore.class`
 * config (reflection, instance cached per class): default
 * [[FsLogStore]] — NIO O_CREAT|O_EXCL on `file://`, atomic namenode
 * `create(overwrite=false)` on HDFS.
 *
 * Scope note: these primitives cover CLAIM (put-if-absent slot
 * allocation), ATOMIC small-metadata publish, and its read-back.
 * [[graft.pipeline.Search]] commits entirely through them (the marker
 * file IS the commit). [[Versioned]] additionally publishes each data
 * directory with one `rename` — atomic on local FS and HDFS; an
 * object-store deployment must pair a metastore LogStore with a
 * rename-free layout (marker-is-the-commit, as Search already does).
 */
trait LogStore {

  /** One-time configuration hook, called by [[LogStore.forSession]]
    * right after reflective construction (impls needing external
    * coordinates — a JDBC URL, a metastore endpoint — read session
    * conf here). Default no-op. */
  def init(spark: SparkSession): Unit = ()

  /** Atomically create `p` iff absent; true when this caller won the
    * slot. MUST be a true compare-and-swap against every concurrent
    * caller of the same store. */
  def createExclusive(f: FileSystem, p: Path): Boolean

  /** Write `content` to `p` ATOMICALLY: a reader must never observe a
    * partial file. `p`'s slot must already be claimed (no destination
    * conflict between writers). */
  def writeAtomic(f: FileSystem, p: Path, content: String): Unit

  /** Read a small metadata file fully (driver-side metadata only). */
  def readSmall(f: FileSystem, p: Path): String

  /** Claim-slot discovery: the names of `.claim-*` entries under
    * `dir`, served from the store's AUTHORITATIVE copy. The in-flight
    * guards ([[graft.io.GenLog.unpublishedGens]]) ride this — a
    * metastore store must answer from the same substrate its
    * [[createExclusive]] wins on (the DB), so a claim is discoverable
    * the instant its CAS commits, never only after a best-effort
    * filesystem mirror lands. Default: filesystem listing (exact for
    * [[FsLogStore]], whose CAS is the filesystem). */
  def listClaims(f: FileSystem, dir: Path): Seq[String] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(".claim-"))

  /** Remove the metadata entry at `p` from the store AND the
    * filesystem — the reclamation hook every GenLog/Versioned sweep
    * routes through, so a metastore store frees the authoritative row
    * (re-opening the slot for [[createExclusive]]) instead of leaving
    * it burned forever behind a deleted mirror file. Deleting an
    * absent entry is a no-op. */
  def delete(f: FileSystem, p: Path): Unit = { f.delete(p, false); () }
}

/**
 * Filesystem implementation (the default): exclusive create is NIO
 * `Files.createFile` on `file://` (true O_CREAT|O_EXCL, atomic against
 * every process on the machine) and `create(overwrite=false)` on HDFS
 * (one atomic namenode op); atomic write stages to a hidden sibling
 * and publishes with one rename.
 */
class FsLogStore extends LogStore {

  def createExclusive(f: FileSystem, p: Path): Boolean =
    if (f.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.createFile(local)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      // only already-exists means "lost the race"; a transient
      // namenode/network/permission failure must SURFACE, not silently
      // burn slot probes
      try { f.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }

  def writeAtomic(f: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent,
      s".tmp-${p.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    if (!f.rename(tmp, p)) {
      f.delete(tmp, true)
      sys.error(s"atomic publish of $p failed: destination occupied")
    }
  }

  def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}

object LogStore {

  /** Session config key naming the [[LogStore]] implementation class
    * (no-arg constructor). Unset = [[FsLogStore]]. */
  val ConfKey = "spark.graft.logstore.class"

  /** The session's configured store. Instances are cached PER CLASS
    * NAME JVM-wide ([[Memo.once]]: [[init]] runs once, with the first
    * session that names the class — sessions sharing an implementation
    * share its configuration; run distinct backends under distinct
    * classes). */
  def forSession(spark: SparkSession): LogStore = {
    val cls = spark.conf.get(ConfKey, classOf[FsLogStore].getName)
    Memo.once(("logstore", cls)) {
      val s = Class.forName(cls).getDeclaredConstructor().newInstance()
        .asInstanceOf[LogStore]
      s.init(spark)
      s
    }
  }
}
