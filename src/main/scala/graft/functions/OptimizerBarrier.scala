package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity pass-through whose ONLY effect is `deterministic = false`:
  * a planner barrier against predicate pushdown duplicating an
  * expensive kernel (guide §4.4, the same mechanism as
  * `udf.asNondeterministic()`).
  *
  * The pattern it exists for: `select(kernel(x) as c).filter(c
  * isNotNull)` — PushPredicateThroughProject substitutes the alias, so
  * the KERNEL lands in a Filter *below* the projection (and below the
  * scale-adaptive spread Exchange), and the plan evaluates it TWICE
  * per row — the filter copy on the narrow pre-spread scan, serially.
  * Wrapping the filter's column reference in `barrier(...)` makes the
  * predicate non-deterministic, which pushdown rules must not move or
  * duplicate; the kernel then runs exactly once, in the projection,
  * at full width. Codegen and null-ness are the child's own, passed
  * through untouched, so the filter's VALUE semantics are identical.
  *
  * Use it only on predicates over expensive derived columns — a
  * non-deterministic predicate also blocks legitimate pushdown of
  * itself, which is exactly the point here and a pessimization
  * anywhere else.
  */
case class OptimizerBarrier(child: Expression) extends UnaryExpression {

  override lazy val deterministic: Boolean = false

  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): OptimizerBarrier =
    copy(child = newChild)

  override def prettyName: String = "opt_barrier"
}

object OptimizerBarrier {
  def of(c: Column): Column = column(OptimizerBarrier(expression(c)))
}
