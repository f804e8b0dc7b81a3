package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.DataType

/** Identity pass-through that the optimizer may not duplicate or
  * reorder: `deterministic = false`, evaluation delegates to the child
  * (values are EXACTLY the child's — pure, retry-stable, engine-exact).
  *
  * Why it exists (r17): alias-substituting predicate pushdown clones a
  * projected expression into every filter that reads its column — a
  * participation gate like `filter(size(col) > 0)` or `filter(nrm > 0)`
  * then re-evaluates the projection's kernel once per conjunct per row.
  * For cheap expressions that is the right trade (the filter may reach
  * the scan); for the per-row kernels that dominate an operator's CPU
  * (the md5-shingle passes, a vec_dot over a wide embedding) it double-
  * charges the hot loop. Wrapping ONLY the projected alias in a barrier
  * pins the expression to its projection — the gate reads the computed
  * column — while the expression class itself stays deterministic for
  * every other use (unlike the blanket ShingleMd5Sketch marking, this
  * is per-call-site). The guide's §4.4 expensive-expression discipline,
  * packaged as a combinator.
  *
  * Cost: none at runtime (codegen emits the child's code verbatim);
  * the flag only disables optimizer moves across this node.
  */
case class OptimizerBarrier(child: Expression) extends UnaryExpression {

  override lazy val deterministic: Boolean = false

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "opt_barrier"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): OptimizerBarrier =
    copy(child = newChild)
}

object OptimizerBarrier {
  def barrier(c: Column): Column = Shim.column(OptimizerBarrier(Shim.expression(c)))
}
