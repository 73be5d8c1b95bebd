package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two `array<float>` columns in
  * double precision, with whole-stage codegen (`doGenCode`).
  *
  * This is the ANN hot path (SURVEY §7.3 "optional native Expression for hot
  * kernels"): the equivalent higher-order-function chain
  * (`aggregate(zip_with(a, b, *), 0d, +)`) materializes an intermediate
  * array per row and interprets two lambdas; this fuses into one branch-free
  * loop inside the generated code. Billions of embeddings x 64+ dims makes
  * that constant factor the dominant scan cost.
  *
  * Accumulation is left-to-right in DOUBLE — identical element order and
  * width as the HOF form and as DuckDB's `list_dot_product` on `DOUBLE[]`,
  * so swapping implementations never changes oracle results.
  *
  * Null handling matches the HOF form exactly: null arrays propagate null
  * via `BinaryExpression` null-safety, length-mismatched arrays yield null
  * (`zip_with` pads the shorter array with nulls), and a null ELEMENT on
  * either side yields null (the HOF sum of a null product is null) — never
  * a silent 0.0 contribution.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $s;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}
