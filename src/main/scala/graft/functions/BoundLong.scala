package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-commit constant (commit version, sequence number, snapshot id)
  * that reaches generated code through the references array. Spark
  * inlines primitive literals into the generated Java source, so a feed
  * stamping each commit with `lit(v)` compiles new classes per commit
  * and evicts reusable ones from the shared codegen cache; this
  * expression's code is the same for every value. It is not foldable,
  * so the optimizer never turns it back into a literal. */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}

object BoundLong {
  def column(value: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(BoundLong(value))
}
