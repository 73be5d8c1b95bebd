package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}

import TreeTable.{MappingRule, scalarOrMean}

/** The tree-table reads as one left join per rule — the oracle for
  * [[TreeTable.translateOnto]], which evaluates the same per-rule
  * semantics as one conditional aggregation. Each reader keeps one output
  * row per input file: the requested path's value, or the typed default
  * (0.0 / '' / (NaN, dimensionless)) when the path is missing; image
  * columns stay null. Assumes (file, path) is unique, as the HDF5 parser
  * guarantees. */
object PerRuleReaders {

  /** S3: scalar read (K19 mean-if-array), 0.0 default. */
  def readF64(tree: DataFrame, files: DataFrame, path: String, as: String): DataFrame =
    readTyped(tree, files, path, as, coalesce(scalarOrMean, lit(0.0)))

  /** S4: string read, '' default. */
  def readStr(tree: DataFrame, files: DataFrame, path: String, as: String): DataFrame =
    readTyped(tree, files, path, as, coalesce(col("valueStr"), lit("")))

  /** S5: quantity read, (NaN, dimensionless) default. */
  def readQuantity(tree: DataFrame, files: DataFrame, path: String, as: String): DataFrame =
    readTyped(tree, files, path, as,
      struct(
        coalesce(scalarOrMean, lit(Double.NaN)).as("value"),
        coalesce(col("units"), lit("dimensionless")).as("units")))

  /** S6: image read — (float array, height, width), dims from the parser's
    * `dims` attribute ("H,W"); all three null when the path is missing. */
  def readImage(tree: DataFrame, files: DataFrame, path: String,
      as: String, hCol: String, wCol: String): DataFrame = {
    val dims = split(col("attrs")("dims"), ",")
    val slice = tree.filter(col("path") === path)
      .select(col("file"), col("valueArr").as(as),
        dims.getItem(0).cast("int").as(hCol),
        dims.getItem(1).cast("int").as(wCol))
    files.join(slice, Seq("file"), "left")
  }

  private def readTyped(
      tree: DataFrame, files: DataFrame, path: String, as: String,
      valueExpr: Column): DataFrame = {
    val slice = tree.filter(col("path") === path)
      .select(col("file"), valueExpr.as(as))
    files.join(slice, Seq("file"), "left")
      .withColumn(as, coalesce(col(as),
        slice.schema(as).dataType match {
          case DoubleType => lit(0.0)
          case StringType => lit("")
          case _: StructType =>
            struct(lit(Double.NaN).as("value"), lit("dimensionless").as("units"))
          case _ => lit(null)
        }))
  }

  /** Every rule read by its own join, in rule order: the result
    * `TreeTable.translateOnto(tree, files, rules)` must equal (rules
    * without unit conversion). `i32` is the f64 read cast to int. */
  def fold(tree: DataFrame, files: DataFrame, rules: Seq[MappingRule]): DataFrame =
    rules.foldLeft(files) { (acc, r) =>
      val (p, as) = (r.srcPath, r.dstColumn)
      def imagePart(keep: String, img: String, h: String, w: String) =
        readImage(tree, acc, p, img, h, w).drop(Seq(img, h, w).filter(_ != keep): _*)
      r.dtype match {
        case "f64" => readF64(tree, acc, p, as)
        case "i32" => readF64(tree, acc, p, as).withColumn(as, col(as).cast("int"))
        case "str" => readStr(tree, acc, p, as)
        case "quantity" => readQuantity(tree, acc, p, as)
        case "image" => imagePart(as, as, "__h", "__w")
        case "image_h" => imagePart(as, "__img", as, "__w")
        case "image_w" => imagePart(as, "__img", "__h", as)
        case other => throw new IllegalArgumentException(s"unknown dtype $other")
      }
    }
}
