package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that the optimizer cannot move, copy or see through,
  * and that still runs inside whole-stage codegen. It is the engine's one
  * owner of a "white lie": the wrapped expression is deterministic, but
  * the wrapper says `deterministic = false`. Every `pushdown_barrier` in a
  * plan relies on one of two contracts that follow from that flag:
  *
  *   1. A barrier'd FILTER stays where it is put. `PushDownPredicates`
  *      only moves deterministic conjuncts, so `Filter(pushdown_barrier(c))`
  *      is not pushed below a window, a distinct or a repartition that
  *      several consumers share (x05's per-source picks over one window).
  *   2. A barrier'd PROJECTED value is computed once per row.
  *      `CollapseProject` will not inline a nondeterministic alias into its
  *      consumers, and `PushDownPredicates` will not push the `size > 0`
  *      filter that `InferFiltersFromGenerate` puts above an `explode`
  *      through it. Without the barrier an array read by `size()`,
  *      `getItem`s or an `explode` is re-derived once per consumer:
  *      whole-stage codegen does not eliminate lambda higher-order
  *      subexpressions (d04's shingle frame 5.2 s vs 0.45 s at sf0.1;
  *      `PushdownBarrierFSpec` pins it).
  *
  * The conditions, stated once: the wrapped expression MUST be
  * deterministic (values, not placement, are what callers rely on), and
  * wrapping opts it out of constant folding, constraint propagation
  * (no inferred `isnotnull`, no conversion to a join condition) and
  * subexpression elimination. Use it only where staying put, or being
  * computed once, is the optimization. Each call site and its measured
  * reason: BENCH_NOTES "Barrier sites".
  *
  * Value semantics are the child's, verbatim: `eval` and `doGenCode`
  * delegate, so unlike an `observe()`/CollectMetrics barrier (not
  * `CodegenSupport` in Spark 4.1) it adds no row-at-a-time boundary. A
  * logical plan node would block the same rules honestly, but needs a
  * planner strategy in every session, and the catalogue's sessions are
  * built by callers without the engine's extensions.
  */
case class PushdownBarrierF(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  // the barrier: never foldable, never deterministic, never pushed
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false

  override def prettyName: String = "pushdown_barrier"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): PushdownBarrierF =
    copy(child = newChild)
}

object PushdownBarrierF {
  /** Column-API entry point, around a filter condition or a projected value. */
  def pushdownBarrier(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(PushdownBarrierF(expression(c)))
  }
}
