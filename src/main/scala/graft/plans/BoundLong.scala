package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A BIGINT bound into a plan at run time, like a prepared statement's
  * `$1`. A literal is inlined into the generated Java source, so every new
  * value compiles new classes (and can evict others from Spark's 100-entry
  * codegen cache); this expression reads its value from the stage's
  * reference array instead, so plans that differ only in the bound value
  * share one compiled class. Deterministic but not foldable, so the
  * optimizer keeps it; predicates on it are not pushed into file scans.
  */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bound_long"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value))
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}
