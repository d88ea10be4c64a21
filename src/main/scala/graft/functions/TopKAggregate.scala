package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k smallest (key, tie) pairs seen, kept in a
  * binary MAX-heap so insertion beyond capacity is one root compare —
  * O(log k) when the candidate enters, O(1) when it doesn't (the common
  * case once the heap is warm). `payload` rides along un-compared.
  *
  * Comparisons are primitive (<, ==): -0.0 and 0.0 tie and fall through
  * to the id tie-break, matching SQL ORDER BY on the same columns.
  */
final class TopKHeap(val cap: Int) {
  val key = new Array[Double](cap)
  val tie = new Array[Long](cap)
  val pay = new Array[Long](cap)
  var size = 0

  private def less(ad: Double, al: Long, bd: Double, bl: Long): Boolean =
    ad < bd || (ad == bd && al < bl)

  private def swap(i: Int, j: Int): Unit = {
    val kd = key(i); key(i) = key(j); key(j) = kd
    val kl = tie(i); tie(i) = tie(j); tie(j) = kl
    val kp = pay(i); pay(i) = pay(j); pay(j) = kp
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && less(key((i - 1) / 2), tie((i - 1) / 2), key(i), tie(i))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < size && less(key(m), tie(m), key(l), tie(l))) m = l
      if (r < size && less(key(m), tie(m), key(r), tie(r))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(kd: Double, kl: Long, pv: Long): Unit = {
    if (size < cap) {
      key(size) = kd; tie(size) = kl; pay(size) = pv
      size += 1
      siftUp(size - 1)
    } else if (less(kd, kl, key(0), tie(0))) {
      key(0) = kd; tie(0) = kl; pay(0) = pv
      siftDown()
    }
  }

  /** Entries sorted ascending by (key, tie) — the ORDER BY this heap
    * replaces. */
  def sortedRows(): Array[Any] = {
    val idx = Array.range(0, size).sortWith { (a, b) =>
      less(key(a), tie(a), key(b), tie(b))
    }
    idx.map(i => InternalRow(key(i), tie(i), pay(i)): Any)
  }
}

/** The part of a bounded top-k aggregate that does not depend on its
  * input: the [[TopKHeap]] buffer of capacity `k`, its merge, the
  * sorted `array<struct<key, tie, payload>>` result and the buffer's
  * byte form. [[TopKAgg]] and [[TopKArrAgg]] differ only in what one
  * input row inserts. */
abstract class TopKHeapAgg extends TypedImperativeAggregate[TopKHeap] {

  def k: Int

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", DoubleType, nullable = false),
    StructField("tie", LongType, nullable = false),
    StructField("payload", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.key(i), other.tie(i), other.pay(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sortedRows())

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.size * 24)
    bb.putInt(buf.cap).putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.key(i)).putLong(buf.tie(i)).putLong(buf.pay(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new TopKHeap(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      // entries were heap-ordered already; re-inserting restores the
      // invariant without assuming any order
      h.insert(bb.getDouble(), bb.getLong(), bb.getLong())
      i += 1
    }
    h
  }
}

/** Per-group bounded TOP-K as a partial-aggregatable custom aggregate:
  * `array<struct<key, tie, payload>>` of the k smallest (key, tie)
  * pairs, sorted ascending — exactly the rows
  * `row_number() OVER (PARTITION BY grp ORDER BY key, tie) <= k`
  * keeps, in the same order.
  *
  * Why not the window: a row_number window SORTS EVERY candidate row
  * through one exchange — top-k of n rows costs n log n compares and
  * n rows of shuffle. This aggregate keeps a k-element heap per group
  * per map partition, so the shuffle moves at most k rows per
  * (partition x group) and the candidate set collapses BEFORE the
  * exchange — the distributed-top-k shape that survives a 100x corpus.
  * (The encoded-long min in MatchLines.matchByDescriptorTables is the
  * k=1 special case of the same idea; this generalizes it to the ANN
  * top-k family and the hausdorff beam.)
  *
  * Determinism contract: NULL keys are skipped (the callers' windows
  * ordered NULLS LAST and post-filtered them); ties resolve on `tie`
  * (an id column at every call site); -0.0 == 0.0 like SQL ORDER BY.
  */
case class TopKAgg(k1: Expression, k2: Expression, p: Expression, k: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TopKHeapAgg {

  require(k > 0, "TopKAgg: k must be positive")

  override def children: Seq[Expression] = Seq(k1, k2, p)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(k1 = newChildren(0), k2 = newChildren(1), p = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  // COMPILED per-row input evaluation. CollapseProject inlines the
  // caller's scoring projection (a 64-term dot, the hausdorff kernel
  // call, the beam proxy arithmetic) INTO these children, and
  // TypedImperativeAggregate offers no codegen path — naive
  // `child.eval(input)` would interpret that whole tree once per
  // candidate row (measured 5-10x regressions). One generated
  // projection, built lazily after binding, keeps the hot loop
  // compiled on both the update and merge-side reads.
  @transient private lazy val inputProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Seq(k1, k2, p))

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val r = inputProj(input)
    if (!r.isNullAt(0) && !r.isNullAt(1)) {
      buf.insert(r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    buf
  }
}

object TopKAgg {
  /** Column API: top-k rows by (key ASC, tie ASC), payload carried
    * along. Result: array<struct<key, tie, payload>> sorted ascending —
    * posexplode it and `pos + 1` is the row_number the window form
    * produced. */
  def apply(key: Column, tie: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(TopKAgg(ColumnBridge.expression(key),
      ColumnBridge.expression(tie), ColumnBridge.expression(payload), k)
      .toAggregateExpression())
}

/** Top-k merge over PRE-BEAMED arrays: each input row carries an
  * array<struct<key: double, tie: long>> (a CellBeam output) and one
  * update call folds the whole array into the bounded heap — top-k of a
  * union of per-cell top-k's, without exploding the arrays into k rows
  * each first. Same compare, same NULL-array skip, same sorted-ascending
  * result shape as [[TopKAgg]] (payload fixed at 0). At sf0.1 this turns
  * the beam merge's 1.6M-row aggregate input into 66k array rows. */
case class TopKArrAgg(arr: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TopKHeapAgg {

  require(k > 0, "TopKArrAgg: k must be positive")

  override def children: Seq[Expression] = Seq(arr)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKArrAgg =
    copy(arr = newChildren(0))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKArrAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKArrAgg =
    copy(inputAggBufferOffset = newOffset)

  // see TopKAgg.inputProj: keep the (possibly inlined) child compiled
  @transient private lazy val inputProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(Seq(arr))

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val r = inputProj(input)
    if (!r.isNullAt(0)) {
      val a = r.getArray(0)
      val n = a.numElements()
      var i = 0
      while (i < n) {
        val s = a.getStruct(i, 2)
        buf.insert(s.getDouble(0), s.getLong(1), 0L)
        i += 1
      }
    }
    buf
  }
}

object TopKArrAgg {
  /** Column API. `arr` = array<struct<key, tie>> per row. */
  def apply(arr: Column, k: Int): Column =
    ColumnBridge.column(TopKArrAgg(ColumnBridge.expression(arr), k)
      .toAggregateExpression())
}
