package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFns, TextKernels}

/** The pure-SQL surface: `GraftExtensions` must make the native codegen
  * expressions callable through `spark.sql` with values identical to the
  * Column-API wrappers (same Expression class — parity is by construction,
  * asserted anyway as the registration contract) for every function in
  * `TextKernels.all`.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers dot_f / minhash_sig / simhash32 / simhash64 / md5_32 / token_count for SQL") {
    ExtensionsSpec.withExtensionsSession { s =>
      val d = s.sql("SELECT dot_f(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
        .head.getDouble(0)
      assert(d == 11.0)

      // every registered text kernel: SQL == its Column-API helper, and a
      // new kernel without a helper here fails the key-set check
      val helpers: Map[String, Column => Column] = Map(
        "md5_32" -> (c => TextFns.md5Hash32(c)),
        "md5_60" -> TextFns.md5Hash60,
        "token_count" -> TextFns.tokenCount,
        "minhash_sig" -> TextFns.minhashSig,
        "simhash32" -> TextFns.simhashNative,
        "simhash64" -> TextFns.simhash64Native)
      assert(helpers.keySet == TextKernels.all.map(_.method).toSet)
      import s.implicits._
      val docs = Seq("key agg row scan key agg", "a", "", null).toDF("text")
      docs.createOrReplaceTempView("ext_docs")
      val names = TextKernels.all.map(_.method)
      val viaSql = s.sql(names.map(n => s"$n(text) AS $n").mkString("SELECT ", ", ", " FROM ext_docs"))
        .collect()
      val viaCol = docs.select(names.map(n => helpers(n)(col("text")).as(n)): _*).collect()
      assert(viaSql.map(_.toString).toSeq == viaCol.map(_.toString).toSeq)

      // arity errors must be loud, not silently-null, and name the function
      val e = intercept[Exception](s.sql("SELECT dot_f(array(1.0F))").collect())
      assert(e.getMessage.contains("dot_f takes 2 arguments, got 1"), e.getMessage)
      names.foreach { n =>
        val e = intercept[Exception](s.sql(s"SELECT $n('a', 'b')").collect())
        assert(e.getMessage.contains(s"$n takes 1 argument, got 2"), e.getMessage)
      }
    }
  }

  test("conf surface: the spark.graft.* keys in src/main/scala are exactly " +
      "README's configuration table, and both are the three kept keys") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val inCode = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => literal.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    val readme = Files.readString(Paths.get("README.md"))
    val table = readme.linesIterator
      .dropWhile(_ != "## Configuration reference").drop(1)
      .takeWhile(!_.startsWith("## "))
    val row = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r
    val inReadme = table.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    val kept = Set("spark.graft.checkpoint.dir", "spark.graft.d05.maxRows",
      "spark.graft.cc.localMax")
    assert(inCode == kept, s"conf literals in src/main/scala: $inCode")
    assert(inReadme == kept, s"README configuration table keys: $inReadme")
  }
}

object ExtensionsSpec {

  /** Runs `body` in a FRESH session built with [[GraftExtensions]] (the
    * shared SparkSpec session was built without them; the underlying
    * context is reused), then restores the prior active/default session.
    * The programmatic `withExtensions` path works with a pre-existing
    * SparkContext — the `spark.sql.extensions` CONF string is static and
    * only takes effect when the context itself is created with it, which
    * in a suite-shared JVM it wasn't (the caveat GraftExtensions docs). */
  def withExtensionsSession[T](body: SparkSession => T): T = {
    val prior = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { p =>
        SparkSession.setActiveSession(p)
        SparkSession.setDefaultSession(p)
      }
    }
  }
}
