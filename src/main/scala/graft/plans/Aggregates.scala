package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded "K smallest ids" state shared by the cap aggregates: a binary
  * MAX-heap of at most k keys (with an optional parallel payload array),
  * so inserting into a full buffer is O(log k) and a hot bucket's state
  * never exceeds k entries — the property that makes the aggregate
  * map-side combinable with BOUNDED shuffle bytes where a window
  * row_number shuffles and sorts the bucket's full mass. */
final class BoundedMinHeap(val k: Int, val withPayload: Boolean) {
  // storage grows lazily (×2, capped at k): the overwhelmingly common
  // bucket holds 1–2 rows, and the partial-aggregate hash map keeps one
  // buffer PER LIVE GROUP — preallocating k slots per group would turn
  // a million tiny buckets into k×8 bytes each
  private var cap = math.min(k, 8)
  var keys = new Array[Long](cap)
  var payloads: Array[Long] = if (withPayload) new Array[Long](cap) else null
  var size = 0

  private def grow(): Unit = {
    cap = math.min(k, math.max(cap * 2, 8))
    keys = java.util.Arrays.copyOf(keys, cap)
    if (withPayload) payloads = java.util.Arrays.copyOf(payloads, cap)
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && keys((i - 1) / 2) < keys(i)) {
      BoundedMinHeap.swap(keys, payloads, i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  /** Insert (key, payload), keeping only the k smallest keys. */
  def insert(key: Long, payload: Long): Unit = {
    if (size < k) {
      if (size == cap) grow()
      keys(size) = key
      if (withPayload) payloads(size) = payload
      size += 1
      siftUp(size - 1)
    } else if (key < keys(0)) {
      keys(0) = key
      if (withPayload) payloads(0) = payload
      BoundedMinHeap.siftDown(keys, payloads, size)
    }
  }

  def mergeFrom(other: BoundedMinHeap): Unit = {
    var i = 0
    while (i < other.size) {
      insert(other.keys(i), if (withPayload) other.payloads(i) else 0L)
      i += 1
    }
  }

  /** (sorted-ascending keys, payloads in the same order): heapsort of a
    * copy — the copy is already a max-heap, so repeatedly moving its max
    * to the back sorts it on primitives, with no boxing. */
  def sorted(): (Array[Long], Array[Long]) = {
    val ks = java.util.Arrays.copyOf(keys, size)
    val ps = if (withPayload) java.util.Arrays.copyOf(payloads, size) else null
    var end = size - 1
    while (end > 0) {
      BoundedMinHeap.swap(ks, ps, 0, end)
      BoundedMinHeap.siftDown(ks, ps, end)
      end -= 1
    }
    (ks, ps)
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + size * (if (withPayload) 16 else 8))
    bb.putInt(size)
    var i = 0
    while (i < size) {
      bb.putLong(keys(i))
      if (withPayload) bb.putLong(payloads(i))
      i += 1
    }
    bb.array()
  }
}

object BoundedMinHeap {
  /** Swap entries a and b of a key array and its (nullable) payloads. */
  private def swap(ks: Array[Long], ps: Array[Long], a: Int, b: Int): Unit = {
    val t = ks(a); ks(a) = ks(b); ks(b) = t
    if (ps != null) { val p = ps(a); ps(a) = ps(b); ps(b) = p }
  }

  /** Restore the max-heap property of the first n entries after the root
    * changed. */
  private def siftDown(ks: Array[Long], ps: Array[Long], n: Int): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < n && ks(m) < ks(l)) m = l
      if (r < n && ks(m) < ks(r)) m = r
      if (m == i) done = true else { swap(ks, ps, i, m); i = m }
    }
  }

  def deserialize(bytes: Array[Byte], k: Int, withPayload: Boolean): BoundedMinHeap = {
    val h = new BoundedMinHeap(k, withPayload)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val key = bb.getLong
      val p = if (withPayload) bb.getLong else 0L
      h.insert(key, p)
      i += 1
    }
    h
  }
}

/** Aggregate: the `k` SMALLEST non-null long values of `child` per
  * group, returned as a sorted-ascending array<bigint>.
  *
  * This is the hot-bucket CAP primitive: "keep the maxBucket lowest ids
  * per (band, bucket)" was previously a Window row_number — one
  * exchange+sort of EVERY banded row with the hottest bucket
  * concentrating in one task (no map-side combine for window
  * row_number). As a TypedImperativeAggregate the buffer is a bounded
  * k-heap, partial-aggregated map-side (ObjectHashAggregate), so a hot
  * bucket costs at most k entries per map partition through the
  * exchange and there is no sort anywhere. Result set is IDENTICAL to
  * the window form (the k smallest ids is exactly row_number<=k under
  * orderBy id for unique ids). */
case class SmallestKLongs(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedMinHeap] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = child :: Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"smallest_k_longs requires a bigint column (the engine-wide id convention), got ${child.dataType}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "smallest_k_longs"

  override def createAggregationBuffer(): BoundedMinHeap =
    new BoundedMinHeap(k, withPayload = false)

  override def update(buffer: BoundedMinHeap, input: InternalRow): BoundedMinHeap = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Long], 0L)
    buffer
  }

  override def merge(buffer: BoundedMinHeap, input: BoundedMinHeap): BoundedMinHeap = {
    buffer.mergeFrom(input); buffer
  }

  override def eval(buffer: BoundedMinHeap): Any =
    new GenericArrayData(buffer.sorted()._1)

  override def serialize(buffer: BoundedMinHeap): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): BoundedMinHeap =
    BoundedMinHeap.deserialize(bytes, k, withPayload = false)

  override def withNewMutableAggBufferOffset(newOffset: Int): SmallestKLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SmallestKLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SmallestKLongs =
    copy(child = newChildren.head)
}

/** `SmallestKLongs` with a long payload riding each kept id (the
  * hamming family keeps (id, hash64) per row): the k entries with the
  * SMALLEST `key`, as a sorted-ascending array<struct<id,payload>>.
  * Key ties keep an arbitrary payload among the tied rows — callers
  * key by unique row ids. */
case class SmallestKLongPairs(
    key: Expression, payload: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedMinHeap] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = key :: payload :: Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && payload.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"smallest_k_long_pairs requires bigint (id, payload) columns, got ${key.dataType}, ${payload.dataType}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("payload", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "smallest_k_long_pairs"

  override def createAggregationBuffer(): BoundedMinHeap =
    new BoundedMinHeap(k, withPayload = true)

  override def update(buffer: BoundedMinHeap, input: InternalRow): BoundedMinHeap = {
    val kv = key.eval(input)
    if (kv != null) {
      val pv = payload.eval(input)
      buffer.insert(kv.asInstanceOf[Long], if (pv == null) 0L else pv.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: BoundedMinHeap, input: BoundedMinHeap): BoundedMinHeap = {
    buffer.mergeFrom(input); buffer
  }

  override def eval(buffer: BoundedMinHeap): Any = {
    val (ks, ps) = buffer.sorted()
    new GenericArrayData(ks.indices.map(i => InternalRow(ks(i), ps(i))).toArray[Any])
  }

  override def serialize(buffer: BoundedMinHeap): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): BoundedMinHeap =
    BoundedMinHeap.deserialize(bytes, k, withPayload = true)

  override def withNewMutableAggBufferOffset(newOffset: Int): SmallestKLongPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SmallestKLongPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SmallestKLongPairs =
    copy(key = newChildren(0), payload = newChildren(1))
}
