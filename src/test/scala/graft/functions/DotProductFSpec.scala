package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native dot-product expression: bit-parity with the HOF formulation, SQL
  * registration, null propagation, and codegen participation. */
class DotProductFSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.1f, -0.2f), Array(0.3f, 0.7f)),
    (3L, null.asInstanceOf[Array[Float]], Array(1.0f))
  ).toDF("id", "a", "b")

  test("matches the higher-order-function formulation bit-for-bit") {
    val rows = df.select($"id",
      VectorFns.dot($"a", $"b").as("native"),
      VectorFns.dotHof($"a", $"b").as("hof")).where($"a".isNotNull).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"id=${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 1).get.getDouble(1) == 32.0)
  }

  test("null array propagates null") {
    val r = df.where($"id" === 3).select(VectorFns.dot($"a", $"b")).collect()
    assert(r.head.isNullAt(0))
  }

  test("length mismatch yields null, matching the HOF zip_with semantics") {
    val mm = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("id", "a", "b")
    val r = mm.select(
      VectorFns.dot($"a", $"b").as("native"),
      VectorFns.dotHof($"a", $"b").as("hof")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("registered SQL function dot_f works and matches") {
    val rows = df.where($"a".isNotNull).collect()
    val out = graft.ExtensionsSpec.withExtensionsSession { s =>
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .createOrReplaceTempView("vecs")
      s.sql("SELECT id, dot_f(a, b) AS d FROM vecs ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val viaCol = df.where($"a".isNotNull).orderBy("id")
      .select($"id", VectorFns.dot($"a", $"b")).as[(Long, Double)].collect().toSeq
    assert(out.head == ((1L, 32.0)))
    assert(out == viaCol)
  }

  test("participates in whole-stage codegen (no fallback)") {
    // a local Seq relation constant-folds into LocalTableScan — use a real
    // parquet scan so the projection actually plans
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(VectorFns.dot(col("embedding"), col("embedding")).as("d"))
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    assert(s.contains("*(1)"), s) // codegen stage covers scan + projection
  }
}
