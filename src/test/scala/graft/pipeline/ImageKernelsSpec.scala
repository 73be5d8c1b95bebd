package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Kernel unit tests against analytic expectations on synthetic Gaussians
  * (SURVEY §5 test strategy #1). */
class ImageKernelsSpec extends AnyFunSuite {
  import Fixtures._

  test("prepareImage zeroes invalid pixels, keeps valid range") {
    val img = Array(-1f, 0f, 5f, 2.1e7f, 1.9e7f, Float.NaN)
    val out = ImageKernels.prepareImage(img)
    assert(out.toSeq == Seq(0f, 0f, 5f, 0f, 1.9e7f, 0f))
  }

  test("labelMainFeature drops sub-20-px blobs (remove_small_objects)") {
    // a 5x5 block of 100s survives min_size=20; a 3x3 block and a single
    // hot pixel are isolated spikes the reference removes before labeling
    val h = 24; val w = 24
    val img = new Array[Float](h * w)
    for (y <- 2 to 6; x <- 2 to 6) img(y * w + x) = 100f
    for (y <- 14 to 16; x <- 14 to 16) img(y * w + x) = 100f
    img(20 * w + 20) = 100f
    val labels = ImageKernels.labelMainFeature(img, h, w)
    assert(labels.count(_ == 1) == 25)
    assert(labels(4 * w + 4) == 1)
    assert(labels(15 * w + 15) == 0, "3x3 spike must be removed")
    assert(labels(20 * w + 20) == 0, "single hot pixel must be removed")
  }

  test("labelMainFeature: no beam (all blobs sub-threshold) -> all-zero labels") {
    // the reference raises ValueError here; our contract is an all-zero
    // label mask that downstream kernels turn into a quarantine row
    val h = 16; val w = 16
    val img = new Array[Float](h * w)
    for (y <- 2 to 4; x <- 2 to 4) img(y * w + x) = 100f // 9 px < 20
    val labels = ImageKernels.labelMainFeature(img, h, w)
    assert(labels.forall(_ == 0))
  }

  test("labelMainFeature golden: dead pixels + spikes match numpy morphology") {
    // fixture + golden from scripts/morph_golden.py — an independent pure
    // numpy implementation (BFS labeling, crossing-number rasterization) of
    // the reference's chain utilities.py:144-162: remove_small_objects(20),
    // remove_small_holes(20), convex_hull_image, label(connectivity=1)
    val h = 24; val w = 24
    val img = new Array[Float](h * w)
    for (y <- 0 until h; x <- 0 until w)
      if ((y - 12.0) * (y - 12.0) + (x - 12.0) * (x - 12.0) <= 36.0)
        img(y * w + x) = 100f
    img(11 * w + 11) = 0f // dead pixels inside the beam
    img(12 * w + 13) = 0f
    img(10 * w + 12) = 0f
    img(2 * w + 20) = 5000f // 2x2 spike block
    img(2 * w + 21) = 5000f
    img(3 * w + 20) = 5000f
    img(3 * w + 21) = 5000f
    img(20 * w + 2) = 9000f // single hot pixel

    val goldenMask = Seq(
      "........................",
      "........................",
      "........................",
      "........................",
      "........................",
      "........................",
      "...........###..........",
      ".........#######........",
      "........#########.......",
      ".......###########......",
      ".......###########......",
      "......#############.....",
      "......#############.....",
      "......#############.....",
      ".......###########......",
      ".......###########......",
      "........#########.......",
      ".........#######........",
      "...........###..........",
      "........................",
      "........................",
      "........................",
      "........................",
      "........................")

    val labels = ImageKernels.labelMainFeature(img, h, w)
    for (y <- 0 until h; x <- 0 until w)
      assert((labels(y * w + x) == 1) == (goldenMask(y)(x) == '#'),
        s"label mismatch at ($y,$x)")
    assert(labels.count(_ == 1) == 121)
    // spikes dropped, dead pixels inside the hull are labeled (weight 0)
    val (cy, cx) = ImageKernels.weightedCentroid(img, labels, h, w)
    assert(math.abs(cy - 12.027272727272727) < 1e-9, s"cy=$cy")
    assert(math.abs(cx - 12.0) < 1e-9, s"cx=$cx")
    var intensity = 0.0
    for (i <- 0 until h * w) if (labels(i) == 1) intensity += img(i)
    assert(intensity == 11000.0, s"intensity=$intensity")
  }

  test("convex hull bridges separate surviving blobs into one region") {
    // reference semantics: the hull runs over the WHOLE cleaned mask, so
    // two surviving beams label as a single convex region (the reference's
    // num > 1 branch is unreachable after convex_hull_image)
    val h = 16; val w = 32
    val img = new Array[Float](h * w)
    for (y <- 5 to 10; x <- 2 to 7) img(y * w + x) = 100f // 36 px
    for (y <- 5 to 10; x <- 24 to 29) img(y * w + x) = 100f // 36 px
    val labels = ImageKernels.labelMainFeature(img, h, w)
    assert(labels(7 * w + 4) == 1 && labels(7 * w + 26) == 1)
    assert(labels(7 * w + 16) == 1, "pixel between the blobs is inside the hull")
    assert(labels.count(_ == 1) == 6 * 28)
  }

  test("weightedCentroid of a Gaussian beam is its center") {
    val img = gaussian()
    val labels = ImageKernels.labelMainFeature(img, H, W)
    val (cy, cx) = ImageKernels.weightedCentroid(img, labels, H, W)
    assert(math.abs(cy - CY) < 0.05, s"cy=$cy")
    assert(math.abs(cx - CX) < 0.05, s"cx=$cx")
  }

  test("circularMask area approximates pi r^2 and respects the center") {
    val r = 10.0
    val mask = ImageKernels.circularMask(64, 64, 32, 32, r)
    val area = mask.count(_ == 1f)
    assert(math.abs(area - math.Pi * r * r) / (math.Pi * r * r) < 0.05, s"area=$area")
    assert(mask(32 * 64 + 32) == 1f)
    assert(mask(0) == 0f)
  }

  test("dynamicBeamAnalysis recovers Gaussian geometry and coverage") {
    val img = gaussian()
    val ba = ImageKernels.dynamicBeamAnalysis(img, H, W)
    assert(math.abs(ba.comY - CY) < 0.05, s"comY=${ba.comY}")
    assert(math.abs(ba.comX - CX) < 0.05, s"comX=${ba.comX}")
    // both axes of an isotropic Gaussian: sigma within 10%
    assert(math.abs(ba.sigmaMajor - Sigma) / Sigma < 0.1, s"sigmaMajor=${ba.sigmaMajor}")
    assert(math.abs(ba.sigmaMinor - Sigma) / Sigma < 0.1, s"sigmaMinor=${ba.sigmaMinor}")
    // coverage is the kept fraction of the LABELED intensity (reference
    // regionprops semantics); the bisection returns the bracket midpoint,
    // so achieved lands near — not necessarily above — the 0.997 target,
    // and k is in units of the threshold-truncated sigma (slightly < 3)
    assert(ba.achievedCoverage > 0.98, s"coverage=${ba.achievedCoverage}")
    assert(ba.kSigma > 2.0 && ba.kSigma < 4.0, s"k=${ba.kSigma}")
    assert(ba.regionIntensity <= ba.totalIntensity)
    assert(ba.mask.count(_ == 1f) > 0)
  }

  test("dynamicBeamAnalysis on an anisotropic rotated Gaussian finds theta") {
    // sigma_x = 6, sigma_y = 2, no rotation: theta ~ 0, major axis = x
    val h = 64; val w = 64
    val img = new Array[Float](h * w)
    for (y <- 0 until h; x <- 0 until w) {
      val dy = (y - 32.0) / 2.0; val dx = (x - 32.0) / 6.0
      img(y * w + x) = (1000 * math.exp(-(dy * dy + dx * dx) / 2)).toFloat
    }
    val ba = ImageKernels.dynamicBeamAnalysis(img, h, w)
    assert(math.abs(ba.sigmaMajor - 6.0) / 6.0 < 0.1, s"major=${ba.sigmaMajor}")
    assert(math.abs(ba.sigmaMinor - 2.0) / 2.0 < 0.1, s"minor=${ba.sigmaMinor}")
    assert(math.abs(ba.theta) < 0.05, s"theta=${ba.theta}")
  }

  test("fluxImage and nan sums") {
    val img = Array(10f, 20f, Float.NaN)
    val flux = ImageKernels.fluxImage(img, 2.0, 1.0)
    assert(flux(0) == 4f && flux(1) == 9f)
    assert(ImageKernels.nanSum(flux) == 13.0)
    assert(ImageKernels.maskedNanSum(flux, Array(1f, 0f, 1f)) == 4.0)
    // NaN products are skipped, as in numpy's nansum(img * mask):
    // np.nansum(np.array([inf, 1, nan, 2]) * np.array([0, 1, 1, nan])) == 1.0
    assert(ImageKernels.maskedNanSum(Array(Float.PositiveInfinity, 1f, Float.NaN, 2f),
      Array(0f, 1f, 1f, Float.NaN)) == 1.0)
  }
}
