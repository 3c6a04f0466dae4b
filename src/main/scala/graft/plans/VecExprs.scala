// Subpackage of org.apache.spark.sql for the same reason as MinHashSig:
// ExpectsInputTypes uses private[sql] AbstractDataType. Logically graft's
// plans/ extension layer.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The loops of [[VecDot]] and [[VecCosine]], shared by their
  * interpreted and generated paths: the generated class emits one static
  * call, so a recompiled stage calls a loop that is already JIT-compiled
  * (the [[GraftHash]] design). Each loop is a left-to-right fold over
  * both arrays, float elements widened to double per element.
  *
  * A loop returns NaN where the SQL result is NULL (length mismatch, or
  * a null element when `checkNulls`); [[isNullResult]] tells that NaN
  * from a NaN the data computes, and runs only on a NaN. */
object GraftVec {

  private def at(a: ArrayData, i: Int, float: Boolean): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(x: ArrayData, y: ArrayData, fx: Boolean, fy: Boolean, checkNulls: Boolean): Double = {
    val n = x.numElements()
    if (y.numElements() != n) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      acc += at(x, i, fx) * at(y, i, fy)
      i += 1
    }
    acc
  }

  def cosine(x: ArrayData, y: ArrayData, fx: Boolean, fy: Boolean, checkNulls: Boolean): Double = {
    val n = x.numElements()
    if (y.numElements() != n) return Double.NaN
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      val xv = at(x, i, fx)
      val yv = at(y, i, fy)
      ab += xv * yv; aa += xv * xv; bb += yv * yv
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** True iff a loop's NaN stands for NULL. */
  def isNullResult(x: ArrayData, y: ArrayData, checkNulls: Boolean): Boolean = {
    val n = x.numElements()
    if (y.numElements() != n) return true
    var i = 0
    while (checkNulls && i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** The 0-based product-quantization code of each subspace of `v`
    * ([[PqCodes]]). Subspace `s` is `v`'s slice `[s·d, s·d + d)`, and
    * its code is the position of the smallest distance
    * `(sub·sub − 2.0·(sub·c)) + selfDots(s)(j)` over the codewords
    * `c = books(s)(j)`, each dot the left fold of [[dot]]. A distance is
    * null, and skipped, when the slice is shorter than `c` or holds a
    * null; a subspace whose distances are all null has a null code. Ties
    * take the first position, NaN sorts above every number and -0.0
    * equals 0.0: the SQL order `array_position(ds, array_min(ds)) - 1`
    * uses. A null `v` gives a null code per subspace. */
  def pqCodes(v: ArrayData, books: Array[Array[Array[Double]]],
              selfDots: Array[Array[Double]]): ArrayData = {
    val codes = new Array[Any](books.length)
    var s = 0
    while (s < books.length) {
      if (v != null) codes(s) = pqCode(v, books(s), selfDots(s), s * books(s).head.length)
      s += 1
    }
    new GenericArrayData(codes)
  }

  private def pqCode(v: ArrayData, book: Array[Array[Double]], selfDots: Array[Double],
                     start: Int): Any = {
    val len = math.max(0, math.min(book.head.length, v.numElements() - start))
    var ss = 0.0
    var i = 0
    while (i < len) {
      if (v.isNullAt(start + i)) return null
      val x = v.getDouble(start + i)
      ss += x * x
      i += 1
    }
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < book.length) {
      val c = book(j)
      if (c.length == len) {
        var dc = 0.0
        i = 0
        while (i < len) { dc += v.getDouble(start + i) * c(i); i += 1 }
        val dist = (ss - 2.0 * dc) + selfDots(j)
        if (best < 0 || SQLOrderingUtil.compareDoubles(dist, bestD) < 0) { best = j; bestD = dist }
      }
      j += 1
    }
    if (best < 0) null else best
  }
}

/** A binary `array<double|float>` kernel of [[GraftVec]]: input types,
  * the per-side float flags and the NULL protocol, spelled once. */
abstract class VecKernelExpression extends BinaryExpression with ExpectsInputTypes {

  /** The [[GraftVec]] method this expression calls. */
  protected def kernel: String

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)),
    TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // null-element checks only when the schema admits null slots — the
  // loop over containsNull=false embeddings stays branch-free
  private def checkNulls: Boolean = Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  private def run(x: ArrayData, y: ArrayData): Double = {
    val (fx, fy) = (isFloat(left), isFloat(right))
    if (kernel == "dot") GraftVec.dot(x, y, fx, fy, checkNulls)
    else GraftVec.cosine(x, y, fx, fy, checkNulls)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val v = run(x, y)
    if (v.isNaN && GraftVec.isNullResult(x, y, checkNulls)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gv = GraftVec.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""
         |${ev.value} = $gv.$kernel($x, $y, ${isFloat(left)}, ${isFloat(right)}, $checkNulls);
         |if (java.lang.Double.isNaN(${ev.value}) && $gv.isNullResult($x, $y, $checkNulls)) {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)
  }
}

/** Codegen'd dot product over two `array<double|float>` columns as ONE
  * left-to-right fold ([[GraftVec.dot]]) — the exact summation order of
  * the interpreted `aggregate(zip_with(...))` it replaces and of
  * DuckDB's `list_dot_product`, so cosine results stay bit-comparable
  * across engines. Float elements widen to double per element, like the
  * element-wise cast the HOF form applied.
  *
  * Null semantics match the HOF form exactly: `zip_with` null-pads the
  * shorter array and a null element nulls the whole sum, so length
  * mismatch or any null slot yields NULL (not a silent truncated sum). */
case class VecDot(left: Expression, right: Expression) extends VecKernelExpression {
  override protected def kernel: String = "dot"
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: ONE pass over both arrays accumulating
  * `a·b`, `a·a`, `b·b`, then `ab / (sqrt(aa) * sqrt(bb))`
  * ([[GraftVec.cosine]]) — the exact IEEE operation sequence of the
  * unfused `VecDot(a,b) / (sqrt(VecDot(a,a)) * sqrt(VecDot(b,b)))` it
  * replaces (bit-identical results, pinned in VecExprSuite), at a third
  * of the array traffic. Null semantics mirror [[VecDot]]: NULL on
  * length mismatch or (when the schema admits them) null elements. */
case class VecCosine(left: Expression, right: Expression) extends VecKernelExpression {
  override protected def kernel: String = "cosine"
  override def prettyName: String = "vec_cosine"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd product-quantization encode ([[GraftVec.pqCodes]]): one
  * `array<int>` of per-subspace codes against literal codebooks `books`
  * (subspace × codeword × component) and their self-dots `selfDots`.
  * It computes the codes of the built-in spelling it replaces,
  * `array(per subspace s: (array_position(ds, array_min(ds)) - 1)` over
  * `ds = array(per codeword c: (vec_dot(sub, sub) - 2.0 * vec_dot(sub, c)) + |c|²))`,
  * `sub = slice(v, s·d + 1, d)`, bit for bit (pinned in VecExprSuite). That
  * spelling compiled to one ~100 KB class per plan, re-slicing `v` for every
  * dot. */
case class PqCodes(child: Expression, books: Seq[Seq[Seq[Double]]], selfDots: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  @transient private lazy val bookArrays: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val selfDotArrays: Array[Array[Double]] =
    selfDots.map(_.toArray).toArray

  override def eval(input: InternalRow): Any =
    GraftVec.pqCodes(child.eval(input).asInstanceOf[ArrayData], bookArrays, selfDotArrays)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gv = GraftVec.getClass.getName.stripSuffix("$") // static forwarder
    val b = ctx.addReferenceObj("pqBooks", bookArrays, "double[][][]")
    val sd = ctx.addReferenceObj("pqSelfDots", selfDotArrays, "double[][]")
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |ArrayData ${ev.value} = $gv.pqCodes(${v.isNull} ? null : ${v.value}, $b, $sd);
      |""".stripMargin, isNull = FalseLiteral)
  }
}
