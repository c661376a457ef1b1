package graft.io

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec

/** The driver's one memo: every value the operator layer keeps across
  * calls lives here. Entries have one of two lifecycles.
  *
  *  - '''Once''' ([[once]]): one entry per key, built exactly once.
  *    Concurrent first callers of a key wait for that key's build only;
  *    builds of other keys, including one nested inside the build, go
  *    ahead. A build that throws leaves nothing behind, so the next call
  *    builds again. An entry given a `release` holds Spark-cached data
  *    (a persisted frame) or other per-run state: [[clear]] releases
  *    and drops it. An entry without one (an on-disk fixture, a table
  *    schema, a store instance) stays for the life of the JVM; one
  *    keyed by a session holds one entry per session ever used, so
  *    these grow with the sessions a JVM creates, not with its calls.
  *  - '''By signature''' ([[bySig]]): metadata derived from committed
  *    files, keyed by (root, content signature). A commit changes the
  *    signature, so an entry can never go stale, only unused. At most
  *    [[PerRoot]] signatures are kept per root, the least recently used
  *    going first, so a long-lived process that keeps committing to a
  *    table holds a bounded number of entries for it. The bound is
  *    larger than one because one call can resolve two signatures of
  *    the same root (`Versioned.changes` reads both ends of its range)
  *    and readers interleave slices (a current read beside an `asOf`
  *    one): keeping only the newest would rebuild on every such call.
  *    The signature is the slice's, never the key's: a point or range
  *    read prunes files but reads them under the whole slice's schema,
  *    so reads of any number of keys share one entry. [[clear]] leaves
  *    these entries alone.
  *
  * The maps are `ConcurrentHashMap`s and each key has its own lock, not
  * a `TrieMap`: `TrieMap.getOrElseUpdate` may run a build twice under
  * contention, and `computeIfAbsent` cannot run a build that memoizes
  * another key ("Recursive update"), so no build runs inside either.
  */
object Memo {

  /** Signatures kept per root by [[bySig]]. */
  private[io] val PerRoot = 8

  /** One key's value, built under the slot's own lock. `dropped` marks
    * a slot [[clear]] took out of the map: a caller that fetched it
    * before then fetches the key's new slot instead. */
  private final class Slot(val release: Option[Any => Unit]) {
    private var value: Option[Any] = None
    private var dropped = false

    def get(build: => Any): Option[Any] = synchronized {
      if (dropped) None
      else {
        if (value.isEmpty) value = Some(build)
        value
      }
    }

    def drop(): Unit = synchronized {
      dropped = true
      for (v <- value; r <- release) r(v)
      value = None
    }
  }

  private val slots = new ConcurrentHashMap[Any, Slot]()

  private val sigs =
    new ConcurrentHashMap[String, java.util.LinkedHashMap[String, Slot]]()

  /** The value of `key`, built by `build` on first use and kept for the
    * life of the JVM. */
  def once[T](key: Any)(build: => T): T = get(key, None, build)

  /** The value of `key`, built by `build` on first use and kept until
    * [[clear]], which passes it to `release`. */
  def once[T](key: Any, release: T => Unit)(build: => T): T =
    get(key, Some(release.asInstanceOf[Any => Unit]), build)

  @tailrec private def get[T](key: Any, release: Option[Any => Unit],
      build: => T): T =
    slots.computeIfAbsent(key, _ => new Slot(release)).get(build) match {
      case Some(v) => v.asInstanceOf[T]
      case None => get(key, release, build)
    }

  /** The value for signature `sig` under `root`, loaded by `load` on
    * first use. Keeps the [[PerRoot]] most recently used signatures of
    * each root. `sig` should be a fixed-size digest ([[digest]]), not
    * the file list it stands for. */
  def bySig[T](root: String, sig: String)(load: => T): T = {
    val recent = sigs.computeIfAbsent(root, _ =>
      new java.util.LinkedHashMap[String, Slot](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Slot]): Boolean =
          size > PerRoot
      })
    val slot = recent.synchronized {
      recent.computeIfAbsent(sig, _ => new Slot(None))
    }
    slot.get(load).get.asInstanceOf[T]
  }

  /** Signatures [[bySig]] holds for `root`. */
  private[graft] def sigsHeld(root: String): Int =
    Option(sigs.get(root)).fold(0)(m => m.synchronized(m.size))

  /** SHA-256 of `parts`, hex: a fixed-size signature of a file list. */
  def digest(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Releases and drops every [[once]] entry that was given a release;
    * a build in progress finishes first. Other entries stay. */
  def clear(): Unit = slots.forEach { (k, s) =>
    if (s.release.isDefined && slots.remove(k, s)) s.drop()
  }
}
