// Subpackage of org.apache.spark.sql like the other graft kernels:
// extends the catalyst-internal Collect base. Logically graft's plans/
// extension layer.
package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct,
  Expression, GenericInternalRow, InterpretedOrdering, Literal, SortDirection,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** `collect_list` with a hard element cap enforced INSIDE the
  * aggregation buffer — the scale-safe bucket builder for every
  * LSH-family candidate stage ([[graft.operators.Dedup]]).
  *
  * `collect_list(...)` followed by `filter(size(...) <= cap)` is
  * correct but builds the FULL list before the filter sees it: one
  * boilerplate-hot key (an empty-text fingerprint, a common template's
  * band hash — guaranteed in a real crawl) with 10^8 members is a
  * multi-GB single-key aggregation buffer and an executor OOM at
  * 100 TB. This aggregate retains at most `cap + 1` elements at every
  * point in the plan — per-row update, map-side partials, shuffled
  * partial rows, and the final merge alike — so the hot key costs
  * O(cap) per partial, never O(members).
  *
  * `cap + 1` (not `cap`) is the retention bound so over-cap buckets
  * stay distinguishable downstream: a result of size `cap + 1` means
  * "more than cap members existed" and the caller's `[2, cap]` size
  * filter drops it — the exact survivor set and member lists the
  * uncapped collect_list + filter formulation produces (equality
  * property-pinned in DedupSuite, including torn-across-partials hot
  * keys).
  *
  * Same TypedImperativeAggregate machinery as the built-in
  * `collect_list` (ObjectHashAggregate with map-side partial
  * aggregation), so the plan shape is unchanged — only the buffer
  * bound differs. Nulls are skipped like collect_list; element order
  * within a bucket is nondeterministic like collect_list (callers are
  * order-insensitive: pair expansion + de-dup).
  */
case class CollectListCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(cap >= 1, s"graft_collect_capped: cap must be >= 1, got $cap")

  override lazy val bufferElementType: DataType = child.dataType
  override def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)
  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty
  override def prettyName: String = "graft_collect_capped"

  /** Retention bound: cap + 1 elements distinguish over-cap from at-cap.
    * Saturates at Int.MaxValue — a JVM array can't exceed it anyway, so
    * cap = Int.MaxValue ("uncapped") keeps collecting instead of the
    * overflowed cap+1 = MinValue silently emptying every bucket. */
  private def limit: Int = if (cap == Int.MaxValue) cap else cap + 1

  override def update(buffer: mutable.ArrayBuffer[Any],
                      input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buffer.length < limit) {
      val value = child.eval(input)
      if (value != null) buffer += convertToBufferElement(value)
    }
    buffer
  }

  override def merge(buffer: mutable.ArrayBuffer[Any],
                     other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    val room = limit - buffer.length
    if (room >= other.length) buffer ++= other
    else if (room > 0) buffer ++= other.take(room)
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectListCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectListCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectListCapped =
    copy(child = newChild)
}

/** The best `k` rows of each group: the engine's one bounded top-N
  * aggregate, behind the ANN top-K ([[graft.operators.Similarity]]) and
  * the global-shift boundary strips ([[graft.operators.GlobalShift]]).
  *
  * `child` is a struct whose leading `directions.size` fields are the
  * key, ordered by Spark's own [[InterpretedOrdering]] (ASC NULLS FIRST
  * or DESC NULLS LAST, for every orderable type); later fields ride
  * along. The result holds the structs best first, each key once (which
  * of several equal-key rows survives is unspecified). Null structs are
  * skipped.
  *
  * Bounded at every point of the plan, like [[CollectListCapped]]: a
  * buffer holds at most 2k rows and compacts (sort, de-duplicate, cut to
  * k) when full. A row no better than the compacted k-th is rejected
  * before it is copied — for a `struct(...)` child, before the struct is
  * built. Partials merge map-side and ship at most k sorted rows.
  * Spark's ObjectHashAggregate holds one buffer per group only until a
  * task reaches `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * groups (128 by default); then it copies every remaining input
  * row into an external sorter and sorts it by group before `update`
  * sees it, so the rejection then saves the copy into the buffer only. */
case class CollectTopN(
    child: Expression,
    k: Int,
    directions: Seq[SortDirection],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CollectTopN.Buffer] with UnaryLike[Expression] {

  require(k >= 1 && directions.nonEmpty, s"graft_collect_top_n: need k >= 1 and a key, got $k")

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def defaultResult: Option[Literal] = Option(Literal.create(Array(), dataType))
  override def prettyName: String = "graft_collect_top_n"

  private def fields = child.dataType.asInstanceOf[StructType].fields

  /** Reads only the leading key fields, so it orders full structs and
    * key-only probe rows alike. */
  @transient private lazy val ordering: Ordering[InternalRow] = new InterpretedOrdering(
    directions.zipWithIndex.map { case (d, i) =>
      SortOrder(BoundReference(i, fields(i).dataType, fields(i).nullable), d) })

  /** For a `struct(...)` child: the key expressions, evaluated into
    * `probe` to judge a row before its struct is built. */
  @transient private lazy val keyExprs: Array[Expression] = child match {
    case s: CreateNamedStruct => s.valExprs.take(directions.size).toArray
    case _ => Array.empty
  }
  @transient private lazy val probe = new GenericInternalRow(directions.size)

  override def createAggregationBuffer(): CollectTopN.Buffer =
    new CollectTopN.Buffer(k, ordering)

  override def update(buffer: CollectTopN.Buffer, input: InternalRow): CollectTopN.Buffer = {
    var i = 0
    while (i < keyExprs.length) { probe.update(i, keyExprs(i).eval(input)); i += 1 }
    if (keyExprs.isEmpty || buffer.admits(probe)) {
      val value = child.eval(input)
      if (value != null) buffer.offer(value.asInstanceOf[InternalRow].copy())
    }
    buffer
  }

  override def merge(buffer: CollectTopN.Buffer, other: CollectTopN.Buffer): CollectTopN.Buffer = {
    other.sortedRows.foreach(buffer.offer)
    buffer
  }

  override def eval(buffer: CollectTopN.Buffer): Any = new GenericArrayData(buffer.sortedRows)

  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buffer: CollectTopN.Buffer): Array[Byte] =
    projection.apply(InternalRow(eval(buffer))).getBytes

  override def deserialize(bytes: Array[Byte]): CollectTopN.Buffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buffer = createAggregationBuffer()
    (0 until arr.numElements()).foreach(i => buffer.offer(arr.getStruct(i, fields.length)))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectTopN =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectTopN =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectTopN =
    copy(child = newChild)
}

object CollectTopN {

  /** The best `k` structs of `child` per group, as a DataFrame column. */
  def column(child: Column, k: Int, directions: SortDirection*): Column =
    Shim.toColumn(CollectTopN(Shim.toExpression(child), k, directions).toAggregateExpression())

  /** Rows owned by the buffer: a sorted, de-duplicated prefix from the
    * last compaction, then newcomers that each beat its k-th row `kth`
    * (null while fewer than k are kept). */
  final class Buffer(k: Int, ord: Ordering[InternalRow]) {
    private var rows = new Array[InternalRow](math.min(k, 8))
    private var n = 0
    private var sorted = true
    private var kth: InternalRow = null

    /** Could a row with these leading key fields still be kept? */
    def admits(key: InternalRow): Boolean = kth == null || ord.compare(key, kth) < 0

    def offer(row: InternalRow): Unit = if (admits(row)) {
      if (n.toLong >= 2L * k) compact()
      if (admits(row)) {
        if (n == rows.length) rows = java.util.Arrays.copyOf(rows,
          math.min(math.min(n * 2L, 2L * k), Int.MaxValue - 8L).toInt)
        rows(n) = row
        n += 1
        sorted = false
      }
    }

    private def compact(): Unit = if (!sorted) {
      java.util.Arrays.sort(rows, 0, n, ord)
      var kept = 0
      for (i <- 0 until n if kept < k && (kept == 0 || ord.compare(rows(i), rows(kept - 1)) != 0)) {
        rows(kept) = rows(i)
        kept += 1
      }
      java.util.Arrays.fill(rows.asInstanceOf[Array[AnyRef]], kept, n, null)
      n = kept
      sorted = true
      kth = if (n == k) rows(k - 1) else null
    }

    /** The kept rows, best first. */
    def sortedRows: Array[InternalRow] = {
      compact()
      java.util.Arrays.copyOf(rows, n)
    }
  }
}
