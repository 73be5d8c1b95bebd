package graft.pipeline

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import TreeTable.TreeRow

/** Ingest's two halves: the repetition-directory keys, and the tree-table
  * translation, checked against the per-rule join fold
  * ([[PerRuleReaders]]) on seeded random trees. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val mtime = Timestamp.valueOf("2024-01-15 12:00:00")

  private def listing(paths: Seq[String]): DataFrame =
    paths.map(p => (p, mtime)).toDF("path", "modificationTime")

  test("repetitionKeys: files directly inside YYYYMMDD_batch_rep/ are keyed, others dropped") {
    val keys = Ingest.repetitionKeys(listing(Seq(
      "/data/20240115_1_2/im_craw.nxs",
      "/data/20240115_1_2/beam_profile/x.nxs", // one level deeper
      "/data/notarep/im_craw.nxs",
      "/data/2024011_1_2/im_craw.nxs", // 7-digit date
      "/data/120240115_1_2/im_craw.nxs"))) // 9-digit date
      .select("file", "ymd", "batch", "repetition")
      .as[(String, String, Int, Int)].collect().toSeq
    assert(keys == Seq(("/data/20240115_1_2/im_craw.nxs", "20240115", 1, 2)))
  }

  /** The repetition frame's contract, as the typed pipeline consumes it:
    * (name, type, nullable) in order, for keys from a nullable listing. */
  private val repetitionSchema = Seq(
    ("file", "string", true), ("modificationTime", "timestamp", true),
    ("ymd", "string", true), ("batch", "int", true), ("repetition", "int", true),
    ("configuration", "int", false),
    ("directFrameTime", "double", false), ("sampleFrameTime", "double", false),
    ("darkcurrent", "double", false), ("averagedNumberOfFrames", "double", false),
    ("incidentWavelength", "struct<value:double,units:string>", false),
    ("detX", "struct<value:double,units:string>", false),
    ("sampleX", "struct<value:double,units:string>", false),
    ("directBeam", "array<float>", true), ("directH", "int", true),
    ("directW", "int", true),
    ("sampleBeam", "array<float>", true), ("sampleH", "int", true),
    ("sampleW", "int", true))

  /** A random measurement tree over `files`, one row per (file, path) at
    * most: numeric paths missing, scalar, array-valued (K19 mean), empty
    * array or valueless; images with or without `dims`; files with no
    * rows at all or only a lenient parse-error marker (`path = ""`); an
    * unrelated string path; and rows for a file the listing never saw. */
  private def randomTree(rnd: Random, files: Seq[String]): Seq[TreeRow] = {
    val rules = Ingest.repetitionRules
    val numeric = rules.filter(r => Set("f64", "i32", "quantity")(r.dtype)).map(_.srcPath)
    val images = rules.filter(_.dtype == "image").map(_.srcPath)
    def units = Seq(None, Some("m"), Some("mm"), Some("angstrom"))(rnd.nextInt(4))
    def floats(n: Int) = Array.fill(n)((rnd.nextInt(2000) - 500) / 8f)
    def numericRow(f: String, p: String): Option[TreeRow] = rnd.nextInt(5) match {
      case 0 => None
      case 1 => Some(TreeRow(f, p, Some(rnd.nextInt(400) / 4.0), None, None, units, Map()))
      case 2 => Some(TreeRow(f, p, None, None, Some(floats(1 + rnd.nextInt(4))), units, Map()))
      case 3 => Some(TreeRow(f, p, None, None, Some(Array.empty[Float]), units, Map()))
      case _ => Some(TreeRow(f, p, None, None, None, units, Map()))
    }
    def imageRow(f: String, p: String): Option[TreeRow] = rnd.nextInt(3) match {
      case 0 => None
      case 1 =>
        val (h, w) = (1 + rnd.nextInt(4), 1 + rnd.nextInt(4))
        Some(TreeRow(f, p, None, None, Some(floats(h * w)), None, Map("dims" -> s"$h,$w")))
      case _ => Some(TreeRow(f, p, None, None, Some(floats(3)), None, Map()))
    }
    val strayFile = "/data/20240199_9_9/not_listed.nxs"
    (files :+ strayFile).flatMap { f =>
      rnd.nextInt(6) match {
        case 0 => Nil // no tree rows
        case 1 => Seq(TreeRow(f, "", None, None, None, None, Map("parse_error" -> "truncated")))
        case _ =>
          numeric.flatMap(numericRow(f, _)) ++ images.flatMap(imageRow(f, _)) :+
            TreeRow(f, "/entry1/sample/name", None, Some("s"), None, None, Map())
      }
    }
  }

  test("repetitionsFromTree equals the per-rule join fold on seeded random trees") {
    val seen = Seq.newBuilder[(Seq[String], Seq[TreeRow])]
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val files = (1 to 4 + rnd.nextInt(6)).map { i =>
        s"/data/20240115_${1 + i % 3}_$i/im_craw.nxs"
      } :+ "/data/stray/im_craw.nxs"
      val rows = randomTree(rnd, files)
      seen += ((files, rows))
      val tree = rows.toDS().toDF()
      val keys = Ingest.repetitionKeys(listing(files))

      val got = Ingest.repetitionsFromTree(tree, keys)
      assert(got.schema.fields.toSeq.map(f =>
          (f.name, f.dataType.simpleString, f.nullable)) == repetitionSchema,
        s"seed $seed: ${got.schema.treeString}")
      val oracle = PerRuleReaders.fold(tree, keys, Ingest.repetitionRules)
      assert(oracle.columns.toSeq == got.columns.toSeq)
      val byFile = (df: DataFrame) => df.collect().sortBy(_.getString(0)).toSeq
      val (g, o) = (byFile(got), byFile(oracle))
      assert(g.size == files.size - 1 && o.size == g.size,
        s"seed $seed: one row per keyed file")
      g.zip(o).foreach { case (a, b) => assert(a == b, s"seed $seed") }
    }
    // the seeds reach every case the generator can draw
    val all = seen.result()
    val rows = all.flatMap(_._2)
    val dims = (r: TreeRow) => r.attrs.contains("dims")
    assert(all.exists { case (fs, rs) =>
      fs.filter(_.contains("/20240115_")).exists(f => !rs.exists(_.file == f))
    }, "a keyed file without tree rows")
    assert(rows.exists(_.path == ""), "a parse-error marker")
    assert(rows.exists(r => r.valueArr.exists(_.length > 1) && !r.path.endsWith("/data")),
      "an array-valued scalar")
    assert(rows.exists(_.valueArr.exists(_.isEmpty)), "an empty array")
    assert(rows.exists(r => r.path.endsWith("/data") && dims(r)), "an image with dims")
    assert(rows.exists(r => r.path.endsWith("/data") && !dims(r)), "an image without dims")
  }
}
