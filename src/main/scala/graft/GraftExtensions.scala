package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProductF, KernelExpr, TextKernels}

/** SQL surface for the engine's native codegen expressions, injected via
  * `SparkSessionExtensions` — set
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) and the hot-path
  * expressions become callable from pure SQL.
  *
  * Caveat worth knowing: `spark.sql.extensions` is a STATIC conf — it
  * only takes effect when the SparkContext itself is created with it
  * (spark-submit `--conf`, or the first builder in the JVM). Attaching to
  * an already-running context (shared notebook JVMs, test suites) must
  * use the programmatic `withExtensions` form on a fresh session.
  *
  * Functions:
  *
  *   - `dot_f(a, b)` — float-array dot product ([[DotProductF]])
  *   - every text kernel in [[TextKernels.all]], under its own name, as a
  *     [[KernelExpr]]: `md5_32(s)` and `md5_60(s)` (portable 32- and 60-bit
  *     md5-prefix hashes), `token_count(text)` (zero-allocation whitespace
  *     token count), `minhash_sig(text)` (one-pass MinHash signature),
  *     `simhash32(text)` and `simhash64(text)` (one-pass 32-bit SimHash and
  *     64-bit SimHash as two unsigned 32-bit halves `[hi, lo]`)
  *
  * A call with the wrong number of arguments fails naming the function
  * (`md5_32 takes 1 argument, got 2`).
  *
  * This is the integration path for `spark.sql(...)`-only users (BI tools,
  * Thrift/Connect servers, notebook SQL cells) who never touch the Scala
  * Column API: the same whole-stage-codegen expressions the DataFrame
  * helpers in [[graft.functions.TextFns]]/[[graft.functions.VectorFns]]
  * wrap, with no UDF/serialization penalty. Registration is per-session
  * and idempotent (`injectFunction` replaces on re-apply), so pooled
  * sessions re-applying extensions are safe.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(ext: SparkSessionExtensions, name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (args: Seq[Expression]) => {
        require(args.size == arity, s"$name takes $arity argument" +
          s"${if (arity == 1) "" else "s"}, got ${args.size}")
        build(args)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "dot_f", classOf[DotProductF], 2)(a => DotProductF(a.head, a(1)))
    TextKernels.all.foreach { k =>
      inject(ext, k.method, classOf[KernelExpr], k.inputTypes.length)(KernelExpr(k, _))
    }
  }
}
