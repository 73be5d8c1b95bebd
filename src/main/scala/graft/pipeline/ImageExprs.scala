package graft.pipeline

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.Kernel

/** The per-pixel kernels of the SAXS stages as native Catalyst expressions.
  * There are six: [[beamAnalysis]], the one beam kernel (K2–K6, run once
  * per direct frame by `determine_beam_center`), the four sums
  * [[fluxSum]], [[circleFluxSum]], [[nanSum]] and [[maskedNanSum]], and
  * [[rescale]].
  *
  * Each kernel is a [[graft.functions.Kernel]] run by the engine's one
  * native-expression shape, [[graft.functions.KernelExpr]]: its generated
  * code evaluates the children, stops at the first null (a null input gives
  * a null output, as the row UDFs did), and calls the kernel's entry point
  * below with the `ArrayData` and primitive values as they are. No pixel is
  * boxed; array results go back as `UnsafeArrayData.fromPrimitiveArray`.
  *
  * Pixel reads: a null element counts as a missing pixel, like NaN, in
  * every kernel except [[rescale]], which keeps it null as `transform` did.
  *
  * The entry points are the generated code's call targets. They delegate
  * to [[ImageKernels]] or repeat its arithmetic operation for operation,
  * so both paths agree bit for bit (`ImageExprsSpec`).
  */
object ImageExprs {

  private val Image = ArrayType(FloatType)

  /** The beam-analysis struct, typed as the `Model.BeamAnalysis` encoder. */
  private val BeamAnalysisType: StructType = Encoders.product[Model.BeamAnalysis].schema

  private val Owner = getClass.getName.stripSuffix("$")
  private def img(v: Any) = v.asInstanceOf[ArrayData]
  private def int(v: Any) = v.asInstanceOf[Int]
  private def dbl(v: Any) = v.asInstanceOf[Double]

  case object BeamAnalysis extends Kernel(Owner, "beamAnalysis",
      Seq(Image, IntegerType, IntegerType), BeamAnalysisType) {
    def call(a: Array[Any]): Any = beamAnalysis(img(a(0)), int(a(1)), int(a(2)))
  }
  case object FluxSum
      extends Kernel(Owner, "fluxSum", Seq(Image, DoubleType, DoubleType), DoubleType) {
    def call(a: Array[Any]): Any = fluxSum(img(a(0)), dbl(a(1)), dbl(a(2)))
  }
  case object CircleFluxSum extends Kernel(Owner, "circleFluxSum", Seq(Image, DoubleType,
      DoubleType, IntegerType, IntegerType, DoubleType, DoubleType, DoubleType), DoubleType) {
    def call(a: Array[Any]): Any = circleFluxSum(img(a(0)), dbl(a(1)), dbl(a(2)),
      int(a(3)), int(a(4)), dbl(a(5)), dbl(a(6)), dbl(a(7)))
  }
  case object NanSum extends Kernel(Owner, "nanSum", Seq(Image), DoubleType) {
    def call(a: Array[Any]): Any = nanSum(img(a(0)))
  }
  case object MaskedNanSum
      extends Kernel(Owner, "maskedNanSum", Seq(Image, Image), DoubleType) {
    def call(a: Array[Any]): Any = maskedNanSum(img(a(0)), img(a(1)))
  }
  case object Rescale extends Kernel(Owner, "rescale", Seq(Image, DoubleType), Image) {
    override def resultType(args: Seq[Expression]): DataType = args.head.dataType
    def call(a: Array[Any]): Any = rescale(img(a(0)), dbl(a(1)))
  }

  // ------------------------------------------------------ column builders

  /** K2–K6 on one frame: prepare, label, K4's beam `center` and K6's
    * dynamic beam analysis, a struct shaped as `Model.BeamAnalysis`. */
  def beamAnalysis(img: Column, h: Column, w: Column): Column = BeamAnalysis(img, h, w)

  /** K7 + K8 `nanSum(fluxImage(img, t, dark))` without the flux image. */
  def fluxSum(img: Column, t: Column, dark: Column): Column = FluxSum(img, t, dark)

  /** K5 + K7 + K8 `maskedNanSum(fluxImage(img, t, dark), circularMask(h, w,
    * cy, cx, r))` without the flux image or the mask: each pixel's circle
    * test is made in the sum. */
  def circleFluxSum(img: Column, t: Column, dark: Column,
      h: Column, w: Column, cy: Column, cx: Column, r: Column): Column =
    CircleFluxSum(img, t, dark, h, w, cy, cx, r)

  /** K8 NaN-skipping sum. */
  def nanSum(img: Column): Column = NanSum(img)

  /** K8 `img * mask` summed, skipping NaN products. */
  def maskedNanSum(img: Column, mask: Column): Column = MaskedNanSum(img, mask)

  /** K15 `(float)(v * factor)` per pixel; null pixels stay null. */
  def rescale(img: Column, factor: Column): Column = Rescale(img, factor)

  // ----------------------------------------- entry points (generated code)

  @inline private def pixel(a: ArrayData, i: Int): Float =
    if (a.isNullAt(i)) Float.NaN else a.getFloat(i)

  /** Prepared copy of `a` (K2 `prepareImage`, read in place). */
  private def prepared(a: ArrayData): Array[Float] = {
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val v = pixel(a, i)
      if (v >= 0f && v <= 2e7f) out(i) = v
      i += 1
    }
    out
  }

  def beamAnalysis(a: ArrayData, h: Int, w: Int): InternalRow = {
    val b = ImageKernels.preparedBeamAnalysis(prepared(a), h, w)
    new GenericInternalRow(Array[Any](b.comY, b.comX, b.sigmaMinor, b.sigmaMajor,
      b.theta, b.kSigma, b.achievedCoverage, b.regionIntensity, b.totalIntensity,
      UnsafeArrayData.fromPrimitiveArray(b.mask),
      if (b.center == null) null else UnsafeArrayData.fromPrimitiveArray(b.center)))
  }

  def fluxSum(a: ArrayData, t: Double, dark: Double): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val f = (pixel(a, i) / t - dark).toFloat
      if (!f.isNaN) s += f
      i += 1
    }
    s
  }

  /** A flux pixel under the circle adds `f`, as `f * 1f` does in the
    * oracle; one outside adds nothing, where the oracle adds `f * 0f` (a
    * signed zero, or a NaN product it skips). */
  def circleFluxSum(a: ArrayData, t: Double, dark: Double,
      h: Int, w: Int, cy: Double, cx: Double, r: Double): Double = {
    require(a.numElements() == h * w,
      s"image (${a.numElements()} px) and circle ($h x $w px) dimensions differ")
    var s = 0.0
    var y = 0
    while (y < h) {
      val dy = y - cy
      var x = 0
      while (x < w) {
        val dx = x - cx
        val f = (pixel(a, y * w + x) / t - dark).toFloat
        if (!f.isNaN && math.sqrt(dy * dy + dx * dx) <= r) s += f
        x += 1
      }
      y += 1
    }
    s
  }

  def nanSum(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val v = pixel(a, i)
      if (!v.isNaN) s += v
      i += 1
    }
    s
  }

  def maskedNanSum(a: ArrayData, mask: ArrayData): Double = {
    require(a.numElements() == mask.numElements(),
      s"image (${a.numElements()} px) and mask (${mask.numElements()} px) dimensions differ")
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val p = pixel(a, i) * pixel(mask, i)
      if (!p.isNaN) s += p
      i += 1
    }
    s
  }

  def rescale(a: ArrayData, factor: Double): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 4)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i) else out.setFloat(i, (a.getFloat(i) * factor).toFloat)
      i += 1
    }
    out
  }
}
