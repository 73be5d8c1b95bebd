package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Long-format HDF5/NeXus tree table (SURVEY §1.3/§7.1): arbitrary
  * `path -> value` pairs per source file, for the dynamic part of the schema
  * that the curated repetition table does not model.
  *
  * Schema: one row per (file, path) with a typed value column per kind
  * (double / string / float-array) plus units and free-form attributes —
  * exactly the information a `TranslationElement` writes
  * (`/root/reference/src/processstep_determine_beam_center.py:66-114`).
  *
  * [[translateOnto]] is the one reader of this table: it reproduces the
  * reference's tolerate-missing semantics (its `src/utilities.py:11-63`),
  * so a missing path yields the documented default (0.0 / 0 / '' /
  * (NaN, dimensionless), or null for image columns) instead of failing.
  */
object TreeTable {

  case class TreeRow(
      file: String,
      path: String,
      valueF64: Option[Double],
      valueStr: Option[String],
      valueArr: Option[Array[Float]],
      units: Option[String],
      attrs: Map[String, String])

  /** K19 `get_float_from_h5` mean-if-array coercion (`utilities.py:17-19`):
    * an array-valued dataset reads as its mean, exactly like the reference
    * (e.g. a per-frame frame_time vector). */
  private[pipeline] def scalarOrMean: Column =
    coalesce(col("valueF64"),
      when(col("valueArr").isNotNull && size(col("valueArr")) > 0,
        aggregate(col("valueArr"), lit(0.0), (acc, x) => acc + x)
          / size(col("valueArr"))))

  /** K20: one declarative translator rule — the HDF5Translator YAML row
    * (source path, destination column, dtype). A quantity keeps the units
    * it is stored in; the stages that read it convert ([[inUnits]]). */
  case class MappingRule(
      srcPath: String,
      dstColumn: String,
      dtype: String) // "f64" | "i32" | "str" | "quantity" | "image" | "image_h" | "image_w"

  /** Fixed unit-conversion table (§1.2 pint equivalent): factor to convert
    * `from` into `to`. Unknown pairs -> NaN (reference warns + degrades). */
  private val conversions: Map[(String, String), Double] = Map(
    ("m", "m") -> 1.0, ("mm", "m") -> 1e-3, ("cm", "m") -> 1e-2, ("um", "m") -> 1e-6,
    ("angstrom", "angstrom") -> 1.0, ("nm", "angstrom") -> 10.0)

  /** `value` given in `units`, expressed in `target` through the fixed
    * conversion table. Unknown or null units -> NaN. */
  private[pipeline] def inUnits(value: Column, units: Column, target: String): Column =
    value * conversions.foldLeft(lit(Double.NaN)) {
      case (acc, ((from, to), f)) if to == target =>
        when(units === from, lit(f)).otherwise(acc)
      case (acc, _) => acc
    }

  /** K20, the translator as a config-driven column mapping (no
    * subprocess, no per-file mutation; SURVEY §3.1). Tree table -> wide
    * typed rows: enrich a frame keyed by `file` (the listing keys, in
    * ingest) with one column per rule.
    *
    * Evaluated as ONE conditional aggregation over a single pass of the
    * tree, not a join per rule: the tree is usually a COMPUTED parse of
    * raw instrument bytes, so N per-rule joins would re-scan and re-parse
    * every file N times at corpus scale. Per rule: K19 mean-if-array
    * coercion for numbers, typed defaults for missing paths and for files
    * absent from the tree (f64 0.0, i32 0, str '', quantity (NaN,
    * dimensionless)), units as stored. Image columns (`image`, and
    * its `image_h`/`image_w` from the parser's "H,W" `dims` attribute) stay
    * null when missing, which the F2/F6 step gates read as "skip this
    * repetition" (`utilities.py:112-134`). */
  def translateOnto(tree: DataFrame, base: DataFrame, rules: Seq[MappingRule]): DataFrame = {
    if (rules.isEmpty) return base
    def at(path: String, c: Column): Column = when(col("path") === path, c)
    def dim(i: Int): Column = split(col("attrs")("dims"), ",").getItem(i).cast("int")
    val aggs: Seq[Column] = rules.map { r =>
      val p = r.srcPath
      (r.dtype match {
        case "f64" => max(at(p, scalarOrMean))
        // not representable (NaN, +-Inf, beyond the int range) -> missing,
        // so the default 0, with or without ANSI mode
        case "i32" => max(at(p, scalarOrMean)).try_cast("int")
        case "str" => max(at(p, col("valueStr")))
        case "quantity" =>
          struct(
            max(at(p, scalarOrMean)).as("value"),
            max(at(p, col("units"))).as("units"))
        case "image" => first(at(p, col("valueArr")), ignoreNulls = true)
        case "image_h" => max(at(p, dim(0)))
        case "image_w" => max(at(p, dim(1)))
        case other => throw new IllegalArgumentException(s"unknown dtype $other")
      }).as(r.dstColumn)
    }
    val wide = tree.groupBy(col("file")).agg(aggs.head, aggs.tail: _*)
    val joined = base.join(wide, Seq("file"), "left")
    rules.foldLeft(joined) { (acc, rule) =>
      val c = col(rule.dstColumn)
      rule.dtype match {
        case "f64" => acc.withColumn(rule.dstColumn, coalesce(c, lit(0.0)))
        case "i32" => acc.withColumn(rule.dstColumn, coalesce(c, lit(0)))
        case "str" => acc.withColumn(rule.dstColumn, coalesce(c, lit("")))
        case "quantity" =>
          acc.withColumn(rule.dstColumn, struct(
            coalesce(c("value"), lit(Double.NaN)).as("value"),
            coalesce(c("units"), lit("dimensionless")).as("units")))
        case _ => acc // image columns: null means missing
      }
    }
  }
}
