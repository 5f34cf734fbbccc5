package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A bound query parameter: a constant that is neither folded into the
  * plan nor inlined into generated code — the Catalyst counterpart of a
  * placeholder in a parameterized SELECT.
  *
  * A [[Literal]] of a primitive-backed type (timestamp, long, double,
  * ...) inlines its value into the generated Java source, so every
  * distinct value costs a janino compile and a cold JIT (the mechanism
  * [[NearestCentroidPos]] removed from the Lloyd iterations). The code
  * generated here reads the value from the stage's references array
  * instead, so ONE class serves every value of the type; `eval` returns
  * the same value.
  *
  * Being non-foldable, a filter against it runs in the filter operator
  * and is never translated into a data-source filter: no parquet
  * row-group skipping, no JDBC or partition pushdown. Use it where plan
  * reuse matters more than scan pruning; keep [[Literal]] where
  * pushdown is the point.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "BoundParam: a bound value must not be null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("boundParam", value, boxed)
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }

  override def toString: String = s"param(${Literal(value, dataType)})"
}

object BoundParam {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Binds `v` with the type and internal value `lit(v)` would have. */
  def apply(v: Any): Column = {
    val l = Literal.create(v)
    ColumnBridge.toColumn(BoundParam(l.value, l.dataType))
  }
}
