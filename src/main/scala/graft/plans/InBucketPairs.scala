// Subpackage of org.apache.spark.sql like the other graft kernels.
// Logically graft's plans/ extension layer.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** The `id_a < id_b` pairs of one capped LSH bucket — the in-bucket
  * expansion every candidate stage of [[graft.operators.Dedup]] runs
  * over a [[CollectListCapped]] `members` array, as one compiled call
  * for a plain `explode`.
  *
  * Members are bare ids or structs whose first field is the id and
  * whose later fields are its payload. The result holds one struct per
  * ordered pair `(id_a, id_b, <p>_a, <p>_b, …)` for every payload field
  * `p`, in no particular order. Ids compare under Spark's `<`; equal ids pair
  * with nothing, and a null member or a null id is skipped. These are
  * the semantics of the interpreted
  * `flatten(transform(members, m1 -> filter(transform(members, m2 ->
  * if(m1.id < m2.id, struct(…), null)), p -> p is not null)))` it
  * replaces (equality pinned in PairExprSuite); the interpreted form is
  * a `CodegenFallback` that split the whole-stage span and built all n²
  * structs of a bucket. Payload values are views into the bucket row,
  * valid while the generator consumes it. */
case class InBucketPairs(child: Expression) extends UnaryExpression {

  private def element: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  private def idType: DataType = element match {
    case s: StructType => s.head.dataType
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.nonEmpty && RowOrdering.isOrderable(s.head.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(t, _) if !t.isInstanceOf[StructType] && RowOrdering.isOrderable(t) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"in_bucket_pairs needs an array of orderable ids or of (id, payload…) structs, got ${other.simpleString}")
  }

  override def dataType: DataType = {
    val payload = element match {
      case s: StructType => s.fields.toSeq.tail
      case _ => Nil
    }
    ArrayType(StructType(
      Seq(StructField("id_a", idType, nullable = false), StructField("id_b", idType, nullable = false)) ++
        payload.flatMap(f => Seq(f.copy(name = f.name + "_a"), f.copy(name = f.name + "_b")))),
      containsNull = false)
  }

  override def prettyName: String = "in_bucket_pairs"

  override protected def withNewChildInternal(newChild: Expression): InBucketPairs =
    copy(child = newChild)

  @transient private lazy val kernel = new BucketPairKernel(element)

  override protected def nullSafeEval(input: Any): Any = kernel.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pairKernel", kernel)
    nullSafeCodeGen(ctx, ev, members => s"${ev.value} = $k.pairs($members);")
  }
}

/** The loop behind [[InBucketPairs]], shared by its interpreted and
  * generated paths (the generated class calls it, so every recompiled
  * stage reuses one JIT-compiled loop). Long and int ids compare as
  * primitives; other orderable ids under Spark's interpreted ordering. */
final class BucketPairKernel(element: DataType) extends Serializable {

  private val width = element match {
    case s: StructType => s.length
    case _ => 0
  }
  private val idType = element match {
    case s: StructType => s.head.dataType
    case t => t
  }
  private val payloadTypes: Array[DataType] = element match {
    case s: StructType => s.fields.tail.map(_.dataType)
    case _ => Array.empty
  }
  private val idKind = idType match {
    case LongType => 0
    case IntegerType => 1
    case _ => 2
  }
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(idType)

  private def less(a: Any, b: Any): Boolean = (idKind: @scala.annotation.switch) match {
    case 0 => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case 1 => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case _ => ordering.lt(a, b)
  }

  def pairs(members: ArrayData): ArrayData = {
    val n = members.numElements()
    val ids = new Array[Any](n)
    val rows = if (width > 0) new Array[InternalRow](n) else null
    var m = 0
    var i = 0
    while (i < n) {
      if (!members.isNullAt(i)) {
        if (width == 0) {
          ids(m) = members.get(i, idType)
          m += 1
        } else {
          val r = members.getStruct(i, width)
          if (!r.isNullAt(0)) {
            ids(m) = r.get(0, idType)
            rows(m) = r
            m += 1
          }
        }
      }
      i += 1
    }
    val bound = m.toLong * (m - 1) / 2
    require(bound <= Int.MaxValue - 8,
      s"in_bucket_pairs: a bucket of $m members has more pairs than an array holds")
    val out = new Array[Any](bound.toInt)
    var cnt = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        if (less(ids(i), ids(j))) { out(cnt) = pair(ids, rows, i, j); cnt += 1 }
        else if (less(ids(j), ids(i))) { out(cnt) = pair(ids, rows, j, i); cnt += 1 }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(if (cnt == out.length) out else out.take(cnt))
  }

  private def pair(ids: Array[Any], rows: Array[InternalRow], a: Int, b: Int): InternalRow = {
    val v = new Array[Any](2 * width max 2)
    v(0) = ids(a)
    v(1) = ids(b)
    var f = 0
    while (f < payloadTypes.length) {
      v(2 + 2 * f) = rows(a).get(f + 1, payloadTypes(f))
      v(3 + 2 * f) = rows(b).get(f + 1, payloadTypes(f))
      f += 1
    }
    new GenericInternalRow(v)
  }
}
