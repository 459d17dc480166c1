package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A per-call value bound into a plan as DATA, not as source text. A
  * `lit(v)` of a numeric type is inlined into the generated Java, so
  * every new `v` is a new class for Janino to compile; this leaf reads
  * its value from the generated class's reference array instead, so the
  * same plan shape with another value reuses the compiled class from
  * Spark's codegen cache. Non-foldable, so the optimizer keeps it (and
  * does not translate predicates over it into data source filters);
  * EXPLAIN prints `bound(<value>)`.
  *
  * `value` is the Catalyst internal value of `dataType` and is never
  * null — build one with [[BoundValue.of]].
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a bound value is never null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  override def toString: String = s"bound(${Literal(value, dataType)})"
  override def sql: String = Literal(value, dataType).sql
}

object BoundValue {
  /** `v` (a Scala value `lit` accepts) as a bound column. */
  def of(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(BoundValue(l.value, l.dataType))
  }
}
