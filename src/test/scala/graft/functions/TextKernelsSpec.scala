package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every text kernel evaluated once through whole-stage code generation and
  * once fully interpreted (the `Kernel.call` path) on edge-case inputs: the
  * two paths must agree value for value, and the interpreted one must not
  * be compiled. Value parity with the composed chains is each kernel's own
  * spec (`Md5Hash32FSpec`, `MinHashSigFSpec`, ...). */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    null,
    "",
    "   \t\n ",                              // whitespace only
    "a",                                     // fewer than ShingleK tokens
    "two tokens",
    "\tleading and trailing\n",
    "über straße 東京 タワー emoji🙂 ño",     // multi-byte UTF-8
    "nbsp\u00a0is\u00a0content here",       // unicode whitespace is content
    "dup dup dup dup uniq")

  /** Parquet-backed, so the projection is planned and run (a local relation
    * would be folded on the driver). */
  private lazy val docs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("textkernels").toString
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[T](kv: Seq[(String, String)])(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (conf, whether the projection must be whole-stage compiled). Generated
    * code only in the first: a compile error fails the query instead of
    * silently falling back to the interpreted path. */
  private val modes = Seq(
    (Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"), true),
    (Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"), false))

  private def evaluate(conf: Seq[(String, String)], compiled: Boolean): Map[Int, Row] =
    withConf(conf) {
      val q = docs.select(col("id") +: TextKernels.all.map(k => k(col("text")).as(k.method)): _*)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(") == compiled, plan)
      q.collect().map(r => r.getInt(0) -> r).toMap
    }

  test("every text kernel: codegen == interpreted on null, empty, whitespace, short and non-ASCII text") {
    val Seq(gen, interp) = modes.map { case (conf, compiled) => evaluate(conf, compiled) }
    assert(gen.size == texts.length && interp.size == texts.length)
    texts.indices.foreach { i =>
      TextKernels.all.zipWithIndex.foreach { case (k, j) =>
        assert(gen(i).get(j + 1) == interp(i).get(j + 1),
          s"${k.method}(${texts(i)}): codegen ${gen(i).get(j + 1)}, interpreted ${interp(i).get(j + 1)}")
      }
    }
    // a null input gives null from every kernel; a non-null one gives a
    // value from every kernel except minhash_sig below ShingleK tokens
    val nullRow = texts.indexOf(null)
    assert((1 to TextKernels.all.length).forall(gen(nullRow).isNullAt), gen(nullRow))
    val sig = TextKernels.all.indexOf(TextKernels.MinhashSig) + 1
    texts.indices.filter(_ != nullRow).foreach { i =>
      (1 to TextKernels.all.length).filter(_ != sig).foreach(j =>
        assert(!gen(i).isNullAt(j), s"${TextKernels.all(j - 1).method}(${texts(i)})"))
      assert(gen(i).isNullAt(sig) == (TextHash.tokenize(
        org.apache.spark.unsafe.types.UTF8String.fromString(texts(i))).length < TextKernels.ShingleK))
    }
  }

  test("nullability: simhash32/simhash64 follow the input, the other kernels are nullable") {
    val q = docs.select(TextKernels.all.map(k => k(coalesce(col("text"), lit(""))).as(k.method)): _*)
    val nullable = q.schema.fields.map(f => f.name -> f.nullable).toMap
    assert(nullable == TextKernels.all.map(k =>
      k.method -> !Set("simhash32", "simhash64").contains(k.method)).toMap, nullable)
    assert(docs.select(TextKernels.Simhash64(col("text"))).schema.head.nullable)
  }
}
