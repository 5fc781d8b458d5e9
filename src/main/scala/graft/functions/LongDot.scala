package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native integer dot product over two array<bigint> columns — the
  * embedding queries' per-pair kernel. The previous form,
  * `aggregate(zip_with(a, b, _ * _), 0L, _ + _)`, is a higher-order
  * function: HOFs are CodegenFallback in Spark (interpreted, one lambda
  * InternalRow round-trip per element, plus the zip_with intermediate
  * array allocation) — at |pairs| x dims evaluations that interpreter
  * overhead dominates the whole query (q17 measured). This expression is
  * one static-call loop inside whole-stage codegen, no intermediate
  * array. Semantics equal the HOF form for the equal-length non-null
  * arrays the quantizer produces (spec-asserted); any other input raises.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def nullSafeEval(x: Any, y: Any): Any =
    LongDot.dot(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LongDot.dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongDot {
  /** Column-level constructor — one definition of the GraftSqlBridge
    * plumbing for every call site.
    */
  def of(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(LongDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** Codegen target — must stay public static. A null ELEMENT inside
    * either array, or arrays of different lengths, raise: the HOF form
    * this replaces null-propagates to a null dot, and silently reading a
    * slot as 0 or truncating to the shorter array would fabricate a
    * finite similarity — the quantizer never produces either, so hitting
    * one means corrupt input, and fail-loud beats either silent answer
    * (the canonicalByText collision discipline).
    */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"long_dot: array lengths differ ($n vs ${b.numElements()}) — " +
        "corrupt quantized embedding input")
    var i = 0
    var s = 0L
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"long_dot: null array element at index $i — corrupt quantized " +
          "embedding input")
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }
}
