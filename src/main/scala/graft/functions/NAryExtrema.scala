package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Presto's n-ary extrema aggregates — `max(x, n)`, `min(x, n)`,
  * `max_by(x, y, n)`, `min_by(x, y, n)` — each returning an ARRAY of the n
  * values ranked by the order key (x itself for max/min, y for the _by
  * forms), descending for max/max_by and ascending for min/min_by
  * (prestodb's documented output order). Spark has only the 1-ary/2-ary
  * forms, so the pasted n-ary spelling fails loudly at analysis (r17
  * verdict missing #2); [[GraftExtensions]] shadows the four names with a
  * builder that delegates the native arities to the exact builtin
  * expressions (Max/Min/MaxBy/MinBy) and lowers the n-ary arity here.
  *
  * Pinned Presto behaviors:
  *  - rows whose ORDER key is NULL are ignored (Presto's n-ary forms skip
  *    null comparisons the same way 1-ary max skips null inputs); for
  *    max/min the order key IS the value, so NULL values are skipped;
  *  - the _by forms KEEP a NULL value x when its key y ranks — the array
  *    can contain nulls;
  *  - a group with no ranked row yields NULL (matching 1-ary max on an
  *    all-null or empty group), never an empty array;
  *  - fewer than n ranked rows yield a short array;
  *  - ties in the order key resolve arbitrarily in Presto; here the
  *    FIRST-accumulated row wins the earlier slot, leaving merge order the
  *    only nondeterminism, exactly as in Presto. Declared queries pin
  *    determinism by ranking on a unique key.
  *
  * Scale shape: the same partial-aggregate economics as [[TopKByValue]] —
  * each map task keeps at most n (key, value) pairs per group and only
  * those partials cross the exchange (ObjectHashAggregate, sort-fallback
  * under pressure), vs a window formulation shuffling every row of every
  * group. n is bounded at registration (Presto's own cap is 10000).
  */
case class NAryExtremaAgg(
    left: Expression,   // value expression (x)
    right: Expression,  // order expression (y; same as x for max/min)
    n: Int,
    descending: Boolean,
    funcName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[NAryExtremaBuffer] with BinaryLike[Expression] {

  require(n >= 1 && n <= 10000, s"$funcName: n must be in [1, 10000], got $n")

  private def valueType: DataType = left.dataType
  private def orderType: DataType = right.dataType

  override def prettyName: String = funcName
  override def dataType: DataType = ArrayType(valueType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(orderType, prettyName)

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(orderType)

  /** Negative when key `a` ranks strictly before key `b`. */
  private def keyCompare(a: Any, b: Any): Int = {
    val c = ordering.compare(a, b)
    if (descending) -c else c
  }

  override def createAggregationBuffer(): NAryExtremaBuffer = new NAryExtremaBuffer

  private def insert(buf: NAryExtremaBuffer, key: Any, value: Any): Unit = {
    val es = buf.entries
    if (es.size == n && keyCompare(key, es.last._1) >= 0) return // fast reject
    // upper-bound binary search: first index whose key ranks strictly after
    // `key` — equal keys keep the incumbent ahead (first-accumulated wins)
    var lo = 0; var hi = es.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keyCompare(es(mid)._1, key) <= 0) lo = mid + 1 else hi = mid
    }
    es.insert(lo, (key, value))
    if (es.size > n) es.remove(es.size - 1)
  }

  override def update(buf: NAryExtremaBuffer, input: InternalRow): NAryExtremaBuffer = {
    val k = right.eval(input)
    if (k != null)
      insert(buf, InternalRow.copyValue(k), InternalRow.copyValue(left.eval(input)))
    buf
  }

  override def merge(buf: NAryExtremaBuffer, other: NAryExtremaBuffer): NAryExtremaBuffer = {
    other.entries.foreach { case (k, v) => insert(buf, k, v) }
    buf
  }

  override def eval(buf: NAryExtremaBuffer): Any =
    if (buf.entries.isEmpty) null
    else new GenericArrayData(buf.entries.map(_._2).toArray)

  @transient private lazy val entryProjection =
    UnsafeProjection.create(Array[DataType](orderType, valueType))

  override def serialize(buf: NAryExtremaBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    dos.writeInt(buf.entries.size)
    buf.entries.foreach { case (k, v) =>
      val ur = entryProjection(InternalRow(k, v))
      dos.writeInt(ur.getSizeInBytes)
      dos.write(ur.getBytes)
    }
    dos.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): NAryExtremaBuffer = {
    val dis = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new NAryExtremaBuffer
    val count = dis.readInt()
    var i = 0
    while (i < count) {
      val len = dis.readInt()
      val arr = new Array[Byte](len)
      dis.readFully(arr)
      val row = new UnsafeRow(2)
      row.pointTo(arr, len)
      // serialized entries are already rank-sorted; append preserves order
      buf.entries += ((InternalRow.copyValue(row.get(0, orderType)),
        InternalRow.copyValue(row.get(1, valueType))))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NAryExtremaAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NAryExtremaAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NAryExtremaAgg =
    copy(left = newLeft, right = newRight)
}

/** Rank-sorted bounded buffer of (order key, value) pairs. */
final class NAryExtremaBuffer {
  val entries: mutable.ArrayBuffer[(Any, Any)] = mutable.ArrayBuffer.empty
}
