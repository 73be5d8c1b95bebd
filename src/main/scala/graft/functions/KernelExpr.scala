package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** A native kernel: the static entry point `owner.method` that generated
  * code calls, its argument types, its result type, and the interpreted
  * call used when code generation is off. `method` is also the kernel's
  * SQL and plan name. */
abstract class Kernel(val owner: String, val method: String,
    val inputTypes: Seq[DataType], dataType: DataType) extends Serializable {
  def resultType(args: Seq[Expression]): DataType = dataType
  def nullable(args: Seq[Expression]): Boolean = true
  def call(a: Array[Any]): Any

  /** This kernel over `args` as a column. Numeric arguments are cast to the
    * kernel's types (a no-op the optimizer drops when they already match);
    * array and string arguments pass as they are. */
  def apply(args: Column*): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    val typed = args.zip(inputTypes).map {
      case (c, t: NumericType) => c.cast(t)
      case (c, _) => c
    }
    column(KernelExpr(this, typed.map(expression)))
  }
}

/** A [[Kernel]] applied to `children`, with whole-stage code generation:
  * the generated code evaluates the children in order, stops at the first
  * null (a null input gives a null output), and calls the kernel's entry
  * point on the children's values as they are, so no row is converted to
  * Scala collections and no value is boxed. An object-typed kernel may
  * also return null itself. The one native-expression shape for the SAXS
  * pixel kernels (`graft.pipeline.ImageExprs`) and the text kernels
  * ([[TextKernels]]). */
case class KernelExpr(kernel: Kernel, children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length == kernel.inputTypes.length &&
      children.zip(kernel.inputTypes).forall {
        case (c, ArrayType(e, _)) => c.dataType match {
          case ArrayType(a, _) => a == e
          case _ => false
        }
        case (c, t) => c.dataType == t
      }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${kernel.method} expects " +
      s"(${kernel.inputTypes.map(_.simpleString).mkString(", ")}), got " +
      s"(${children.map(_.dataType.simpleString).mkString(", ")})")
  }
  override def dataType: DataType = kernel.resultType(children)
  override def nullable: Boolean = kernel.nullable(children)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.method
  /** Plans print `method(child, ...)`, without the kernel object. */
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) return null
      i += 1
    }
    kernel.call(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val call = s"${kernel.owner}.${kernel.method}(${args.map(_.value).mkString(", ")})"
    val set =
      if (CodeGenerator.isPrimitiveType(dataType)) s"${ev.isNull} = false;\n${ev.value} = $call;"
      else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    // evaluate the children in order, stopping at the first null
    val body = args.foldRight(set) { (a, inner) =>
      s"${a.code}\nif (!${a.isNull}) {\n$inner\n}"
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelExpr =
    copy(children = newChildren)
}
