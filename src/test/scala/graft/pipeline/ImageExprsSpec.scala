package graft.pipeline

import java.lang.Double.doubleToLongBits
import java.lang.Float.floatToIntBits

import scala.util.Random

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native image expressions against the Scala kernels they replace,
  * bit for bit, on random frames with NaN, negative and > 2e7 pixels — once
  * through whole-stage code generation and once fully interpreted. */
class ImageExprsSpec extends SparkSpec {
  import spark.implicits._
  import ImageExprsSpec.In

  private val H = 24
  private val W = 20

  /** A noisy frame with a Gaussian beam, sprinkled with NaN, negative and
    * above-range pixels. Without the beam, the valid noise stays below the
    * detection threshold, so no beam is found. */
  private def frame(rnd: Random, beam: Boolean): Array[Float] = {
    val cy = 6 + rnd.nextDouble() * 12; val cx = 5 + rnd.nextDouble() * 10
    Array.tabulate(H * W) { i =>
      val (y, x) = (i / W, i % W)
      val g = if (beam) 1000.0 * math.exp(-((y - cy) * (y - cy) + (x - cx) * (x - cx)) / 8.0)
        else 0.0
      rnd.nextInt(50) match {
        case 0 => Float.NaN
        case 1 => -rnd.nextFloat() * 100f
        case 2 => 2e7f + 1e6f * (1 + rnd.nextFloat())
        case _ => (g + rnd.nextDouble() * (if (beam) 3 else 0.9)).toFloat
      }
    }
  }

  /** Beam circles of radius < 8 centred up to 4 px off the frame, so some
    * lie partly outside it; every third frame has an infinite pixel in the
    * corner farthest from its circle, so outside it. */
  private lazy val inputs: Seq[In] = {
    val rnd = new Random(20240115)
    (0 until 24).map { id =>
      val mask = Array.tabulate(H * W)(_ => rnd.nextInt(5) match {
        case 0 => Float.NaN
        case 1 => 0.5f
        case k => (k % 2).toFloat
      })
      val img = frame(rnd, beam = id % 6 != 0)
      val (t, dark) = (0.1 + rnd.nextDouble() * 2, rnd.nextDouble() * 3)
      val (cy, cx) = (rnd.nextDouble() * (H + 8) - 4, rnd.nextDouble() * (W + 8) - 4)
      if (id % 3 == 1) {
        val far = (if (cy < H / 2.0) H - 1 else 0) * W + (if (cx < W / 2.0) W - 1 else 0)
        img(far) = Float.PositiveInfinity
      }
      In(id, img, H, W, t, dark, mask, cy, cx,
        rnd.nextDouble() * 8, if (id % 4 == 0) 10.0 else 0.5 + rnd.nextDouble() * 20)
    }
  }

  /** Parquet-backed, so the projection is planned and run (a local relation
    * would be folded on the driver). */
  private def parquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("imgexpr").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val frames = parquet(inputs.toDF())

  private def natives(df: DataFrame): DataFrame = df.select(col("id"),
    ImageExprs.fluxSum(col("img"), col("t"), col("dark")).as("flux"),
    ImageExprs.circleFluxSum(col("img"), col("t"), col("dark"),
      col("h"), col("w"), col("cy"), col("cx"), col("r")).as("cflux"),
    ImageExprs.nanSum(col("img")).as("sum"),
    ImageExprs.maskedNanSum(col("img"), col("mask")).as("msum"),
    ImageExprs.beamAnalysis(col("img"), col("h"), col("w")).as("ba"),
    ImageExprs.rescale(col("img"), col("n")).as("counts"),
    transform(col("img"), x => (x * col("n")).cast("float")).as("counts_hof"))

  /** Generated code only: a compile error fails the query instead of
    * silently falling back to the interpreted path. */
  private val Compiled = Seq(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConf[T](kv: Seq[(String, String)])(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Each mode: (name, conf, whether the projection must be whole-stage
    * compiled). */
  private val modes = Seq(("codegen", Compiled, true), ("interpreted", Interpreted, false))

  private def floats(r: Row, i: Int): Seq[Any] = r.getSeq[Any](i).toSeq

  /** Element-wise bit equality; NaN equals NaN, null equals null. */
  private def sameBits(a: Seq[Any], b: Seq[Any]): Boolean = {
    def bits(v: Any): Any = v match {
      case f: Float => floatToIntBits(f)
      case d: Double => doubleToLongBits(d)
      case other => other
    }
    a.map(bits) == b.map(bits)
  }

  private def same(a: Double, b: Double): Boolean = sameBits(Seq(a), Seq(b))

  for ((mode, conf, compiled) <- modes) {
    test(s"$mode: every kernel equals its Scala kernel bit for bit") {
      withConf(conf) {
        val q = natives(frames)
        val rows = q.collect().map(r => r.getInt(0) -> r).toMap
        assert(q.queryExecution.executedPlan.toString.contains("*(") == compiled,
          q.queryExecution.executedPlan.toString)
        var centred = 0
        inputs.foreach { in =>
          val r = rows(in.id)
          val flux = ImageKernels.fluxImage(in.img, in.t, in.dark)
          val circle = ImageKernels.circularMask(in.h, in.w, in.cy, in.cx, in.r)
          assert(same(r.getDouble(1), ImageKernels.nanSum(flux)), s"flux ${in.id}")
          assert(same(r.getDouble(2), ImageKernels.maskedNanSum(flux, circle)), s"cflux ${in.id}")
          assert(same(r.getDouble(3), ImageKernels.nanSum(in.img)), s"sum ${in.id}")
          assert(same(r.getDouble(4), ImageKernels.maskedNanSum(in.img, in.mask)), s"msum ${in.id}")

          val b = ImageKernels.dynamicBeamAnalysis(in.img, in.h, in.w)
          val ba = r.getStruct(5)
          Seq(b.comY, b.comX, b.sigmaMinor, b.sigmaMajor, b.theta, b.kSigma,
            b.achievedCoverage, b.regionIntensity, b.totalIntensity).zipWithIndex.foreach {
            case (v, i) => assert(same(ba.getDouble(i), v), s"analysis field $i ${in.id}")
          }
          assert(sameBits(floats(ba, 9), b.mask.toSeq), s"analysis mask ${in.id}")

          // K4's beam centre against the label + centroid oracle
          val prepared = ImageKernels.prepareImage(in.img)
          val (cy, cx) = ImageKernels.weightedCentroid(prepared,
            ImageKernels.labelMainFeature(prepared, in.h, in.w), in.h, in.w)
          if (cy.isNaN || cx.isNaN) assert(ba.isNullAt(10), s"centre ${in.id}")
          else {
            centred += 1
            val c = ba.getSeq[Double](10)
            assert(c.length == 2 && same(c(0), cy) && same(c(1), cx), s"centre ${in.id}")
          }

          assert(sameBits(floats(r, 6), floats(r, 7)), s"rescale vs transform ${in.id}")
          assert(sameBits(floats(r, 6), in.img.map(v => (v * in.n).toFloat).toSeq),
            s"rescale ${in.id}")
        }
        assert(centred > 0 && centred < inputs.length, "both centroid outcomes covered")
        // a NaN mask entry or an infinite pixel must not make the masked sums
        // NaN, or the comparisons above would only compare NaN with NaN
        Seq(2 -> "cflux", 4 -> "msum").foreach { case (i, name) =>
          val finite = rows.values.map(_.getDouble(i)).count(v => !v.isNaN && !v.isInfinite && v != 0)
          assert(finite >= inputs.length / 2,
            s"$name finite and non-zero on $finite of ${inputs.length} rows")
        }
      }
    }

    test(s"$mode: null array gives null; null pixels stay null through the rescale") {
      withConf(conf) {
        val df = parquet(spark.range(2).selectExpr(
          "cast(id AS int) AS id",
          "CASE WHEN id = 0 THEN array(cast(1.5 AS float), cast(null AS float), " +
            "cast(-2.25 AS float), cast('NaN' AS float)) END AS img",
          "4 AS h", "1 AS w", "2.0d AS t", "0.25d AS dark",
          "array(cast(1 AS float), cast(1 AS float), cast(1 AS float), cast(1 AS float)) AS mask",
          "CASE WHEN id = 0 THEN 0.0d END AS cy", "0.0d AS cx", "1.0d AS r", "3.0d AS n"))
        val rows = natives(df).orderBy("id").collect()
        (1 to 7).foreach(i => assert(rows(1).isNullAt(i), s"column $i on a null input"))
        val r = rows(0)
        assert(sameBits(floats(r, 6), Seq(4.5f, null, -6.75f, Float.NaN)))
        assert(sameBits(floats(r, 6), floats(r, 7)))
        // a null pixel is a missing pixel in the sums, like NaN
        assert(r.getDouble(3) == 1.5 - 2.25)
        assert(r.getDouble(1) == 0.5 - 1.375)
      }
    }

    test(s"$mode: an image/mask length mismatch fails loudly") {
      withConf(conf) {
        val short = frames.withColumn("mask", slice(col("mask"), 1, 7))
        Seq(
          ImageExprs.maskedNanSum(col("img"), col("mask")),
          ImageExprs.circleFluxSum(col("img"), col("t"), col("dark"),
            col("h"), col("w") + 1, col("cy"), col("cx"), col("r"))
        ).foreach { c =>
          val e = intercept[SparkException](short.select(c).collect())
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("dimensions differ")), e)
        }
      }
    }

    test(s"$mode: masked sums skip NaN products, as numpy's nansum(img * mask)") {
      withConf(conf) {
        // np.nansum(np.array([inf, 1, nan, 2]) * np.array([0, 1, 1, nan])) == 1.0
        val df = parquet(spark.range(1).selectExpr(
          "array(cast('Infinity' AS float), cast(1 AS float), cast('NaN' AS float), " +
            "cast(2 AS float)) AS img",
          "array(cast(0 AS float), cast(1 AS float), cast(1 AS float), cast('NaN' AS float)) AS mask"))
        val r = df.select(
          ImageExprs.maskedNanSum(col("img"), col("mask")),
          // the 2 x 2 frame under the unit circle around (1, 1): the infinite
          // pixel (0, 0) lies outside it, the NaN one inside
          ImageExprs.circleFluxSum(col("img"), lit(1.0), lit(0.0), lit(2), lit(2),
            lit(1.0), lit(1.0), lit(1.0))).head()
        assert(r.getDouble(0) == 1.0)
        assert(r.getDouble(1) == 3.0)
      }
    }
  }

  test("a kernel given a non-float image fails analysis") {
    val e = intercept[Exception] {
      spark.range(1).select(ImageExprs.nanSum(array(lit("a")))).collect()
    }
    assert(e.getMessage.contains("nanSum"), e.getMessage)
  }
}

object ImageExprsSpec {
  case class In(id: Int, img: Array[Float], h: Int, w: Int, t: Double,
      dark: Double, mask: Array[Float], cy: Double, cx: Double, r: Double, n: Double)
}
