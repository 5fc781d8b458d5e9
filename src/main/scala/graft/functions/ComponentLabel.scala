package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native component lookup for the driver-finished connected components:
  * `table` broadcasts the sorted node ids and their labels as two
  * primitive arrays; each row binary-searches its id, and an id absent
  * from the table (no edges) is a singleton labeled by itself. A static
  * call inside whole-stage codegen — no ScalaUDF closure or boxing per
  * node.
  */
case class ComponentLabel(child: Expression,
    table: Broadcast[(Array[Long], Array[Long])])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "component_label"

  override def nullSafeEval(id: Any): Any =
    ComponentLabel.label(table, id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("componentTable", table,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, id =>
      s"graft.functions.ComponentLabel.label($t, $id)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object ComponentLabel {
  def of(id: org.apache.spark.sql.Column,
      table: Broadcast[(Array[Long], Array[Long])])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(ComponentLabel(GraftSqlBridge.expression(id), table))
  }

  /** Codegen target — must stay public static. */
  def label(table: Broadcast[(Array[Long], Array[Long])], id: Long): Long = {
    val (ids, labels) = table.value
    val idx = java.util.Arrays.binarySearch(ids, id)
    if (idx >= 0) labels(idx) else id
  }
}
