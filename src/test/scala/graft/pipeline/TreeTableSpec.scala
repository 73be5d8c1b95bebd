package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkSpec
import TreeTable._

/** Long-format tree reads with tolerate-missing defaults, translator
  * mapping, and incremental staleness planning. */
class TreeTableSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tree = Seq(
    TreeRow("f1", "/entry1/instrument/configuration", Some(3.0), None, None, None, Map()),
    TreeRow("f1", "/entry1/sample/name", None, Some("caffeine"), None, None, Map("note" -> "x")),
    TreeRow("f1", "/entry1/detector/distance", Some(2500.0), None, None, Some("mm"), Map()),
    TreeRow("f2", "/entry1/instrument/configuration", Some(5.0), None, None, None, Map())
  ).toDS().toDF()

  test("scalar/string reads default to 0.0 / '' on missing paths (S3/S4)") {
    val files = tree.select($"file").distinct()
    val withCfg = translateOnto(tree, files,
      Seq(MappingRule("/entry1/instrument/configuration", "cfg", "f64")))
    val withName = translateOnto(tree, withCfg,
      Seq(MappingRule("/entry1/sample/name", "sample", "str")))
    val byFile = withName.collect().map(r => r.getString(0) -> r).toMap
    assert(byFile("f1").getDouble(1) == 3.0 && byFile("f1").getString(2) == "caffeine")
    assert(byFile("f2").getDouble(1) == 5.0 && byFile("f2").getString(2) == "") // missing -> ''
  }

  test("K19: an array-valued dataset reads as its MEAN, per get_float_from_h5") {
    // the reference coerces `if val.size > 1: val = val.mean()`
    // (utilities.py:17-19) — e.g. a per-frame frame_time vector; the e2e
    // .h5-bytes version of this lives in Hdf5Spec ("/entry1/sample/angles")
    val t = Seq(
      TreeRow("f1", "/entry1/frame_time", None, None,
        Some(Array(0.1f, 0.2f, 0.3f, 0.4f)), Some("s"), Map()),
      TreeRow("f2", "/entry1/frame_time", Some(7.0), None, None, None, Map()),
      TreeRow("f3", "/entry1/frame_time", None, None,
        Some(Array.empty[Float]), None, Map()) // empty array -> default
    ).toDS().toDF()
    val files = t.select($"file").distinct()
    val ft = translateOnto(t, files, Seq(MappingRule("/entry1/frame_time", "ft", "f64")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ft("f1") - 0.25) < 1e-7) // mean(0.1,0.2,0.3,0.4)
    assert(ft("f2") == 7.0) // scalar passes through untouched
    assert(ft("f3") == 0.0) // empty array -> S3 missing default

    // the quantity reader shares the coercion (value = mean, units kept)
    val q = translateOnto(t, files, Seq(MappingRule("/entry1/frame_time", "ftq", "quantity")))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    assert(math.abs(q("f1").getDouble(0) - 0.25) < 1e-7)
    assert(q("f1").getString(1) == "s")
    assert(q("f3").getDouble(0).isNaN) // empty array -> quantity default
  }

  test("quantity read defaults to (NaN, dimensionless) (S5)") {
    val files = tree.select($"file").distinct()
    val q = translateOnto(tree, files,
      Seq(MappingRule("/entry1/detector/distance", "dist", "quantity")))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    assert(q("f1") == Row(2500.0, "mm"))
    assert(q("f2").getDouble(0).isNaN && q("f2").getString(1) == "dimensionless")
  }

  test("i32: a value outside the int range reads as missing (0), ANSI on or off") {
    val values = Seq(Double.NaN, 3.0e9, -3.0e9, Double.PositiveInfinity,
      Double.NegativeInfinity, 7.0)
    val t = values.zipWithIndex.map { case (v, i) =>
      TreeRow(s"f$i", "/entry1/instrument/configuration", Some(v), None, None, None, Map())
    }.toDS().toDF()
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set(key, ansi)
      val cfg = translateOnto(t, t.select($"file"),
          Seq(MappingRule("/entry1/instrument/configuration", "cfg", "i32")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(values.indices.map(i => cfg(s"f$i")) == Seq(0, 0, 0, 0, 0, 7),
        s"ansi=$ansi: $cfg")
    } finally spark.conf.set(key, old)
  }

  test("translator mapping keeps quantities in their stored units (K20)") {
    val wide = translateOnto(tree, tree.select($"file").distinct(), Seq(
      MappingRule("/entry1/instrument/configuration", "configuration", "f64"),
      MappingRule("/entry1/sample/name", "sample_name", "str"),
      MappingRule("/entry1/detector/distance", "det_distance", "quantity")))
    val r = wide.filter($"file" === "f1").head()
    assert(r.getDouble(r.fieldIndex("configuration")) == 3.0)
    assert(r.getString(r.fieldIndex("sample_name")) == "caffeine")
    // the stages convert (PipelineSpec's make_beam_mask units test)
    assert(r.getStruct(r.fieldIndex("det_distance")) == Row(2500.0, "mm"))
  }

  test("staleGroups picks missing and outdated groups only (F5)") {
    def ts(s: String) = Timestamp.valueOf(s)
    val inputs = Seq(
      ("20240115", 1, 1, ts("2024-01-15 10:00:00")),
      ("20240115", 1, 2, ts("2024-01-15 12:00:00")), // newest of batch 1
      ("20240116", 2, 1, ts("2024-01-16 09:00:00")),
      ("20240117", 3, 1, ts("2024-01-17 09:00:00")) // no snapshot row
    ).toDF("ymd", "batch", "repetition", "modificationTime")
    val snapshot = Seq(
      ("20240115", 1, ts("2024-01-15 11:00:00")), // older than newest input -> stale
      ("20240116", 2, ts("2024-01-16 10:00:00")) // fresh
    ).toDF("ymd", "batch", "stackedAt")
    val stale = Incremental.staleGroups(inputs, snapshot, Seq("ymd", "batch"))
      .select("ymd", "batch").as[(String, Int)].collect().toSet
    assert(stale == Set(("20240115", 1), ("20240117", 3)))
  }

  test("mergeSnapshot carries forward untouched groups and replaces rebuilt ones") {
    val prior = Seq(("a", 1, "old"), ("b", 2, "keep")).toDF("ymd", "batch", "payload")
    val rebuilt = Seq(("a", 1, "new")).toDF("ymd", "batch", "payload")
    val merged = Incremental.mergeSnapshot(prior, rebuilt, Seq("ymd", "batch"))
      .as[(String, Int, String)].collect().toSet
    assert(merged == Set(("a", 1, "new"), ("b", 2, "keep")))
  }
}
