package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec}

/** The fixed sketch geometries (x04/x05 k = 64, x07 m = 4096, x08 R = 16,
  * the constants the committed oracle SQL hardcodes) keep their documented
  * semantics — in particular the two EXACTNESS edges: KMV over a
  * vocabulary smaller than k is exact, and a bitmap far above the
  * vocabulary estimates within LC's small-load error, while a vocabulary
  * far above it saturates to the NULL contract.
  */
class SketchGeomSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(q: String, dir: String = sf): DataFrame =
    SparkEntry.queries(q)(spark, dir)

  /** A one-table `documents` dir holding `(text, source)` rows. */
  private def docsDir(docs: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory("graft_sketch").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("source", StringType, nullable = false)))
    val rows = docs.zipWithIndex.map { case ((t, src), i) => Row(i.toLong, t, src) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, r: Range): String =
    r.map(i => s"$prefix$i").mkString(" ")

  /** 1,000 distinct tokens over two sources, far above k = 64. */
  private lazy val bigVocab = docsDir(Seq(
    (words("a", 0 until 600), "src0"), (words("a", 400 until 1000), "src1")))

  test("x04: k >= vocabulary takes the exact path (est == n_exact), " +
      "k below it estimates with the k-cut") {
    // 20 distinct tokens < k = 64
    val small = docsDir(Seq((words("w", 0 until 10), "src0"),
      (words("w", 5 until 20), "src0")))
    val r = run("x04", small).head()
    assert(r.getAs[Long]("n_exact") == 20L)
    assert(r.getAs[Long]("est_distinct") == r.getAs[Long]("n_exact"))
    val big = run("x04", bigVocab).head()
    assert(big.getAs[Long]("k_obs") == 64L)
    val est = big.getAs[Long]("est_distinct")
    val exact = big.getAs[Long]("n_exact")
    // k=64 is a sigma ~ 12.7% estimator — only sanity-bound it
    assert(exact > 900L && est > exact / 2 && est < exact * 2, s"$est vs $exact")
  }

  test("x05 shares x04's k (one common k or the union sketch cannot " +
      "compose)") {
    assert(run("x05", bigVocab).head().getAs[Long]("k_obs") == 64L)
    assert(run("x05").head().getAs[Long]("k_obs") <= 64L)
  }

  test("x07: a bitmap far above the vocabulary estimates within small-load " +
      "LC error; a degenerate tiny bitmap saturates to the NULL contract") {
    // 50 distinct tokens in a 4096-bucket bitmap
    val r = run("x07", docsDir(Seq((words("w", 0 until 50), "src0")))).head()
    val est = r.getAs[Double]("est_distinct")
    val ex = r.getAs[Long]("n_exact")
    assert(ex == 50L && math.abs(est / ex - 1) < 0.05,
      s"m=4096 at a 50-token vocab should be near-exact: est=$est exact=$ex")
    // 100k distinct tokens leave no bucket of 4096 empty
    val sat = run("x07", docsDir((0 until 10).map(d =>
      (words(s"t${d}_", 0 until 10000), "src0")))).head()
    assert(sat.getAs[Long]("occupied") == 4096L)
    assert(sat.isNullAt(sat.fieldIndex("est_distinct")),
      "occupied == m must yield the documented NULL, never ±inf")
  }

  test("x08: r_rows reports the 16 sign rows and rel_err stays consistent " +
      "with est/exact") {
    val r = run("x08").head()
    assert(r.getAs[Int]("r_rows") == 16)
    val (est, ex) = (r.getAs[Long]("est_f2"), r.getAs[Long]("exact_f2"))
    val rel = r.getAs[Double]("rel_err")
    // est_f2 is the floored division of the same sum rel_err divides
    // exactly — agreement within the floor+rounding slack
    assert(math.abs(est.toDouble / ex - 1 - rel) < 1e-3)
  }
}
