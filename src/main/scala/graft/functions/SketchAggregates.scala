package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native HyperLogLog aggregate, the one build of
 * [[graft.pipeline.Sketches.hllDistinct]]: the whole sketch state is ONE
 * 2^b-byte register buffer per group, updated in place and merged
 * byte-wise, so partials ship one row per group per partition. The
 * register-table form ([[graft.pipeline.Sketches.hllRegisters]]) is the
 * AT-REST state that shard folds of persisted sketches take.
 *
 * BIT-COMPATIBLE with the register table and therefore with the
 * q_distinct_hll oracle: identical md5-derived 60-bit hash split
 * (top b bits index the register, next 48 bits are the rank value —
 * reference layout pinned by SketchesSpec), identical rho
 * (49 - bitLength(v), the `length(bin(v))` integer form), identical
 * alpha / linear-counting estimate algebra in java.lang.Math — the
 * same libm Spark's `pow`/`log` Columns call.
 */
case class HllSketchAgg(child: Expression, b: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(b >= 4 && b <= 12,
    s"b = $b out of range: need 4 <= b <= 12 (16..4096 registers)")

  private def m: Int = 1 << b

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_sketch_agg expects string, got $other")
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h60 = HllSketchAgg.hash60(v.asInstanceOf[UTF8String])
      val bucket = (h60 >>> (60 - b)).toInt
      val value = (h60 >>> (12 - b)) & ((1L << 48) - 1)
      val rho = (if (value == 0L) 49
        else 49 - (64 - java.lang.Long.numberOfLeadingZeros(value))).toByte
      if (rho > buf(bucket)) buf(bucket) = rho
    }
    buf
  }

  override def merge(a: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) {
      if (other(i) > a(i)) a(i) = other(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    // identical algebra to Sketches.hllEstimate: absent registers
    // (byte 0 — present ones always have rho >= 1) contribute 2^0
    var z = 0.0
    var zeros = 0
    var i = 0
    while (i < buf.length) {
      z += java.lang.Math.pow(2.0, -buf(i).toDouble)
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val eRaw = alpha * m * m / z
    val est = if (eRaw <= 2.5 * m && zeros > 0)
      m.toDouble * java.lang.Math.log(m.toDouble / zeros)
    else eRaw
    java.lang.Math.round(est)
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(
      newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): HllSketchAgg = copy(child = newChild)

  override def prettyName: String = "graft_hll_sketch"
}

object HllSketchAgg {

  /** First 60 bits of md5 (15 hex digits) as a non-negative long —
    * the exact value of `conv(substring(md5(x), 1, 15), 16, 10)`. */
  private[functions] def hash60(s: UTF8String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes)
    // first 8 digest bytes as a big-endian unsigned long, top 60 bits
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** First 48 bits of md5 (12 hex digits) — the exact value of
    * `conv(substring(md5(x), 1, 12), 16, 10)`, the shared hash of the
    * KMV sketch and every token id in the engine. */
  private[functions] def hash48(s: UTF8String): Long = hash60(s) >>> 12
}

/**
 * Native KMV bottom-k aggregate, the one build of
 * [[graft.pipeline.Sketches.kmvSketch]]: per group, the k smallest
 * DISTINCT 48-bit md5 hashes — kept as a bounded sorted-long-set
 * buffer, so the partial aggregation ships O(k) longs per group per
 * partition and discards everything above its k-th hash as it goes,
 * never shuffling the value space. Feeds the
 * [[graft.pipeline.Sketches.kmvSetOps]]/`kmvEstimate` algebra.
 *
 * Returns the sorted hash array; explode to (g, h) rows for the
 * sketch-table form.
 */
case class KmvSketchAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 2, s"k = $k too small for a KMV sketch")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch_agg expects string, got $other")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      // strictly below the current k-th: it displaces the k-th unless
      // already present (TreeSet add dedups)
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, HllSketchAgg.hash48(v.asInstanceOf[UTF8String]))
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(a, it.next())
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 8)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val buf = new java.util.TreeSet[java.lang.Long]()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) { buf.add(bb.getLong); () }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): KmvSketchAgg = copy(child = newChild)

  override def prettyName: String = "graft_kmv_sketch"
}

/**
 * The buffer codec both Misra-Gries aggregates share: an (item -> count)
 * map per group, merged by counter addition followed by a decrement of
 * the (k+1)-st largest count (Agarwal et al., "Mergeable Summaries",
 * PODS 2012, §3.1), which preserves the classic deterministic guarantee
 * across any merge tree: every item with true frequency > n/(k+1)
 * survives, with estimate >= true - n/(k+1). Returns (item, est) struct
 * rows sorted by item (deterministic output independent of merge order
 * is NOT guaranteed for `est` — only the survivor guarantee is; callers
 * needing exact counts do the recount pass). The subclasses differ only
 * in their children and `update`.
 */
sealed abstract class MisraGriesSummary
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  def k: Int

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item", StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField("est", LongType,
          nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def merge(a: java.util.HashMap[String, Long],
      other: java.util.HashMap[String, Long])
      : java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      a.merge(e.getKey, e.getValue, (x, y) => x + y)
    }
    MisraGriesSummary.reduceToK(a, k)
    a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val keys = new Array[String](buf.size)
    val kit = buf.keySet().iterator()
    var i = 0
    while (kit.hasNext) { keys(i) = kit.next(); i += 1 }
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](keys.length)
    i = 0
    while (i < keys.length) {
      rows(i) = InternalRow(UTF8String.fromString(keys(i)), buf.get(keys(i)))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(rows)
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    // length-prefixed UTF-8 bytes, not writeUTF — items over 64 KiB
    // (a pathological but legal key) must round-trip, not throw
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    buf
  }
}

object MisraGriesSummary {
  /** Subtract the (k+1)-st largest count from every counter and drop
    * the non-positive — the mergeable-summaries reduction back to
    * <= k counters. No-op while the map fits. */
  private[functions] def reduceToK(
      buf: java.util.HashMap[String, Long], k: Int): Unit = {
    if (buf.size <= k) return
    val counts = new Array[Long](buf.size)
    var i = 0
    val vit = buf.values().iterator()
    while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
    java.util.Arrays.sort(counts)
    val cut = counts(counts.length - 1 - k)
    val eit = buf.entrySet().iterator()
    while (eit.hasNext) {
      val e = eit.next()
      if (e.getValue <= cut) eit.remove()
      else e.setValue(e.getValue - cut)
    }
  }
}

/**
 * Native Misra-Gries heavy-hitter summary: k counters per group as ONE
 * (item -> count) map — the bounded-state ONE-PASS complement to the
 * count-min table ([[graft.pipeline.Sketches.countMinTable]]): no
 * fixed hash grid, no candidate list needed up front, state O(k) per
 * group regardless of vocabulary size. The EXACT heavy-hitter set is
 * recovered by one candidate-restricted recount
 * ([[graft.pipeline.Sketches.heavyHittersExact]]) — candidates are
 * <= k rows, so the recount join broadcasts.
 */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends MisraGriesSummary with UnaryLike[Expression] {

  require(k >= 1 && k <= 100000, s"k = $k out of range")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"misra_gries_agg expects string, got $other")
  }

  override def update(buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      // containsKey, NOT a get-against-null check: the Scala view of
      // java.util.HashMap[String, Long] unboxes an absent key's null
      // to 0L, and a primitive != null comparison lifts to the box
      // (always true) — that shape silently turns the eviction branch
      // into dead code and the bounded summary into an exact counter
      if (buf.containsKey(s)) buf.put(s, buf.get(s) + 1L)
      else if (buf.size < k) buf.put(s, 1L)
      else {
        // full: decrement every counter (the arriving item's implicit
        // counter of 1 cancels against the global decrement), dropping
        // counters that reach zero
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): MisraGriesAgg = copy(child = newChild)

  override def prettyName: String = "graft_misra_gries"
}

/**
 * Weighted Misra-Gries: each input row carries an (item, weight)
 * pair — the FOLD form of [[MisraGriesAgg]], consuming persisted
 * summary rows (item, est) instead of raw occurrences. A weighted
 * arrival inserts the item at its full weight (buffer briefly k+1
 * entries), then applies the same (k+1)-st-largest reduction as the
 * partial merge — Agarwal et al.'s mergeable-summaries argument makes
 * summaries-of-summaries keep the survivor guarantee: after folding
 * shards whose TRUE total is n, every item with true count > n/(k+1)
 * is present. This is what makes per-shard MG summaries an AT-REST
 * state (<= k rows per shard), foldable at delta cost like the HLL
 * register tables and KMV bottom-k sketches.
 */
case class MisraGriesWeightedAgg(item: Expression, weight: Expression,
    k: Int, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends MisraGriesSummary
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k >= 1 && k <= 100000, s"k = $k out of range")

  override def left: Expression = item
  override def right: Expression = weight

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, weight.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"misra_gries_weighted expects (string, bigint), got $other")
    }

  override def update(buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val i = item.eval(input)
    val w = weight.eval(input)
    if (i != null && w != null && w.asInstanceOf[Long] > 0L) {
      buf.merge(i.asInstanceOf[UTF8String].toString,
        w.asInstanceOf[Long], (a, b) => a + b)
      MisraGriesSummary.reduceToK(buf, k)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): MisraGriesWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): MisraGriesWeightedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MisraGriesWeightedAgg =
    copy(item = newLeft, weight = newRight)

  override def prettyName: String = "graft_misra_gries_weighted"
}
