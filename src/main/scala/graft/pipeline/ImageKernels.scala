package graft.pipeline

import Model.BeamAnalysis

/** Per-record image kernels (SURVEY §2.4 K1–K10), re-implemented from the
  * reference's numpy/scikit-image semantics as deterministic pure-Scala
  * functions. The stages call them through the native Catalyst expressions
  * of [[ImageExprs]], which read the `array<float>` image columns in place;
  * each kernel is row-local, so the pipeline stays embarrassingly parallel
  * and never breaks the partitioning of the repetition table.
  *
  * Images are flattened row-major float arrays with explicit (h, w). The
  * kernels loop over primitive arrays only — no boxed elements or closures
  * per pixel, which on 1 Mpx frames would dominate the run time and GC.
  */
object ImageKernels {

  /** K2 `prepare_eiger_image`: zero-out invalid pixels (keep 0 <= v <= 2e7)
    * — `/root/reference/src/utilities.py:119-134`. The mean-collapse of
    * leading axes (K1) happens at ingest; 2-D input assumed here. */
  def prepareImage(img: Array[Float]): Array[Float] = {
    val out = new Array[Float](img.length)
    var i = 0
    while (i < img.length) {
      val v = img(i)
      if (v >= 0f && v <= 2e7f) out(i) = v
      i += 1
    }
    out
  }

  /** Per-pixel 4-connected component root (compressed union-find root index;
    * -1 on background). Shared by K3's labeling and both morphology passes. */
  private def componentRoots(fg: Array[Boolean], h: Int, w: Int): Array[Int] = {
    val n = h * w
    val parent = new Array[Int](n)
    var p = 0
    while (p < n) { parent(p) = p; p += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = y * w + x
        if (fg(idx)) {
          if (x > 0 && fg(idx - 1)) union(idx, idx - 1)
          if (y > 0 && fg(idx - w)) union(idx, idx - w)
        }
        x += 1
      }
      y += 1
    }
    val roots = new Array[Int](n)
    var i = 0
    while (i < n) { roots(i) = if (fg(i)) find(i) else -1; i += 1 }
    roots
  }

  /** Component size per pixel (0 on background), from `componentRoots`. */
  private def componentSizes(roots: Array[Int]): Array[Int] = {
    // roots are pixel indices, so a dense count array replaces a map
    val counts = new Array[Int](roots.length)
    var i = 0
    while (i < roots.length) {
      if (roots(i) >= 0) counts(roots(i)) += 1
      i += 1
    }
    val out = new Array[Int](roots.length)
    i = 0
    while (i < roots.length) {
      if (roots(i) >= 0) out(i) = counts(roots(i))
      i += 1
    }
    out
  }

  /** `morphology.remove_small_objects(mask, min_size)` with the skimage
    * default 1-connectivity: drop 4-connected foreground components whose
    * pixel count is strictly below `minSize`. */
  def removeSmallObjects(fg: Array[Boolean], h: Int, w: Int, minSize: Int): Array[Boolean] = {
    val sizes = componentSizes(componentRoots(fg, h, w))
    val out = new Array[Boolean](fg.length)
    var i = 0
    while (i < fg.length) { out(i) = fg(i) && sizes(i) >= minSize; i += 1 }
    out
  }

  /** `morphology.remove_small_holes(mask, area_threshold)` (skimage
    * 1-connectivity): fill 4-connected BACKGROUND components of area
    * <= `areaThreshold` — skimage implements it as
    * `~remove_small_objects(~mask, area_threshold + 1)`, which also fills
    * qualifying background pockets touching the border, so no border
    * special-case here either. */
  def removeSmallHoles(fg: Array[Boolean], h: Int, w: Int, areaThreshold: Int): Array[Boolean] = {
    val inv = new Array[Boolean](fg.length)
    var i = 0
    while (i < fg.length) { inv(i) = !fg(i); i += 1 }
    val sizes = componentSizes(componentRoots(inv, h, w))
    val out = new Array[Boolean](fg.length)
    i = 0
    while (i < fg.length) { out(i) = fg(i) || sizes(i) <= areaThreshold; i += 1 }
    out
  }

  /** `morphology.convex_hull_image(mask)`: smallest convex polygon covering
    * every foreground pixel, rasterized back to a mask. Matches skimage's
    * `offset_coordinates=True` semantics — each pixel contributes its four
    * half-pixel "diamond" offsets (y±0.5, x) / (y, x±0.5) to the hull point
    * set, and a pixel is foreground in the output when its CENTER is inside
    * or on the hull (skimage labels vertex/edge pixels as inside).
    *
    * Hull candidates are limited to per-row and per-column extreme pixels
    * (any hull vertex's source pixel is extreme in its row or column), so
    * the monotone-chain sort is O((h+w)·log) — independent of beam area, a
    * 1 Mpx Eiger frame contributes at most ~8·(h+w) candidate points. */
  def convexHullImage(fg: Array[Boolean], h: Int, w: Int): Array[Boolean] = {
    val n = h * w
    // row/column extreme pixels — superset of hull-vertex sources
    val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    def addOffsets(y: Int, x: Int): Unit = {
      pts += ((y - 0.5, x.toDouble)); pts += ((y + 0.5, x.toDouble))
      pts += ((y.toDouble, x - 0.5)); pts += ((y.toDouble, x + 0.5))
    }
    var any = false
    var y = 0
    while (y < h) {
      var lo = -1; var hi = -1
      var x = 0
      while (x < w) {
        if (fg(y * w + x)) { if (lo < 0) lo = x; hi = x }
        x += 1
      }
      if (lo >= 0) { any = true; addOffsets(y, lo); if (hi != lo) addOffsets(y, hi) }
      y += 1
    }
    var x = 0
    while (x < w) {
      var lo = -1; var hi = -1
      y = 0
      while (y < h) {
        if (fg(y * w + x)) { if (lo < 0) lo = y; hi = y }
        y += 1
      }
      if (lo >= 0) { addOffsets(lo, x); if (hi != lo) addOffsets(hi, x) }
      x += 1
    }
    if (!any) return new Array[Boolean](n)

    // Andrew monotone chain -> CCW hull in (y, x) coordinates
    val sorted = pts.distinct.sortBy(identity)
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val hull = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- sorted) {
      while (hull.length >= 2 && cross(hull(hull.length - 2), hull.last, p) <= 0) hull.remove(hull.length - 1)
      hull += p
    }
    val lowerLen = hull.length + 1
    for (p <- sorted.reverseIterator) {
      while (hull.length >= lowerLen && cross(hull(hull.length - 2), hull.last, p) <= 0) hull.remove(hull.length - 1)
      hull += p
    }
    hull.remove(hull.length - 1) // last point == first

    // rasterize: center inside-or-on every hull half-plane (skimage counts
    // boundary pixels as inside; 1e-10 mirrors its tolerance). The edge
    // test is `cross` over primitive vertex arrays: it runs per pixel.
    val m = hull.length
    val hy = new Array[Double](m + 1); val hx = new Array[Double](m + 1)
    var k = 0
    while (k <= m) { hy(k) = hull(k % m)._1; hx(k) = hull(k % m)._2; k += 1 }
    val tol = 1e-10
    val out = new Array[Boolean](n)
    val yMin = math.max(0, math.ceil(sorted.head._1 - tol).toInt)
    val yMax = math.min(h - 1, math.floor(sorted.last._1 + tol).toInt)
    y = yMin
    while (y <= yMax) {
      x = 0
      while (x < w) {
        var inside = true
        k = 0
        while (inside && k < m) {
          val c = (hy(k + 1) - hy(k)) * (x - hx(k)) - (hx(k + 1) - hx(k)) * (y - hy(k))
          if (c < -tol) inside = false
          k += 1
        }
        if (inside) out(y * w + x) = true
        x += 1
      }
      y += 1
    }
    out
  }

  /** K3 `label_main_feature`, full parity with
    * `/root/reference/src/utilities.py:137-175`: threshold at max(1, mean),
    * then the reference's morphology chain — `remove_small_objects(20)`
    * (isolated spikes), `remove_small_holes(20)` (dead pixels inside the
    * beam), `convex_hull_image` (the beam is expected convex) — then
    * 1-connectivity component labeling keeping the largest region
    * (np.bincount argmax). All-zero output = no beam found; the caller
    * quarantines (the reference raises). */
  def labelMainFeature(img: Array[Float], h: Int, w: Int): Array[Int] = {
    require(img.length == h * w, s"image length ${img.length} != $h x $w")
    val n = img.length
    var sum = 0.0
    var i = 0
    while (i < n) { sum += img(i); i += 1 }
    val thresh = math.max(1.0, sum / n)
    var fg = new Array[Boolean](n)
    i = 0
    while (i < n) { fg(i) = img(i) > thresh; i += 1 }

    fg = convexHullImage(
      removeSmallHoles(
        removeSmallObjects(fg, h, w, 20), h, w, 20), h, w)

    val roots = componentRoots(fg, h, w)
    val sizes = componentSizes(roots)
    val labels = new Array[Int](n)
    var best = -1; var bestSize = 0
    i = 0
    while (i < n) {
      // deterministic argmax: largest size, smallest root index on ties
      if (roots(i) >= 0 && (sizes(i) > bestSize || (sizes(i) == bestSize && roots(i) < best))) {
        best = roots(i); bestSize = sizes(i)
      }
      i += 1
    }
    if (best >= 0) {
      i = 0
      while (i < n) { if (roots(i) == best) labels(i) = 1; i += 1 }
    }
    labels
  }

  /** K4 weighted centroid over labeled pixels (regionprops.weighted_centroid)
    * — `/root/reference/src/processstep_determine_beam_center.py:62-63`.
    * Returns (y, x); (NaN, NaN) when the region carries no intensity. */
  def weightedCentroid(img: Array[Float], labels: Array[Int], h: Int, w: Int): (Double, Double) = {
    var sy = 0.0; var sx = 0.0; var sv = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = y * w + x
        if (labels(idx) == 1) {
          val v = img(idx).toDouble
          sy += v * y; sx += v * x; sv += v
        }
        x += 1
      }
      y += 1
    }
    if (sv == 0.0) (Double.NaN, Double.NaN) else (sy / sv, sx / sv)
  }

  /** K5 circular mask: 1 inside `radius` of (cy, cx)
    * — the reference's `processstep_make_beam_mask.py:27-35`. The
    * pipeline builds no mask image: [[ImageExprs.circleFluxSum]] tests the
    * same circle per pixel, and this is its oracle (`ImageExprsSpec`). */
  def circularMask(h: Int, w: Int, cy: Double, cx: Double, radius: Double): Array[Float] = {
    val out = new Array[Float](h * w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val dy = y - cy; val dx = x - cx
        if (math.sqrt(dy * dy + dx * dx) <= radius) out(y * w + x) = 1f
        x += 1
      }
      y += 1
    }
    out
  }

  /** K6 `dynamic_beam_analysis`, faithful to the reference
    * (`processstep_calc_beam_flux_and_transmissions.py:24-145`): prepare the
    * image, label the main feature, take intensity-weighted moments OVER THE
    * LABELED REGION only (regionprops semantics — whole-image moments would
    * let pegged pixels and diffuse background skew the covariance), build
    * the Mahalanobis ellipse with a `cov + 1e-12 I` regularized inverse,
    * bisect k over [0.5, 5.0] (8 steps, midpoint returned) so the kept
    * fraction of the LABELED intensity meets the target, and intersect the
    * final mask with the labels so the ellipse never bleeds outside the
    * beam region. `comY`/`comX` is the mask-region weighted centroid,
    * `center` K4's [[weightedCentroid]] of the labeled region (null when no
    * beam is found); `achievedCoverage` = kept / labeled intensity;
    * `totalIntensity` is the prepared whole-image sum. */
  def dynamicBeamAnalysis(img: Array[Float], h: Int, w: Int): BeamAnalysis =
    preparedBeamAnalysis(prepareImage(img), h, w)

  /** [[dynamicBeamAnalysis]] of a frame [[prepareImage]] has already
    * prepared, read as it is: preparing is idempotent, so both agree. */
  def preparedBeamAnalysis(
      prepared: Array[Float], h: Int, w: Int,
      targetCoverage: Double = 0.997,
      bisectionSteps: Int = 8): BeamAnalysis = {
    val n = h * w
    require(prepared.length == n, s"image length ${prepared.length} != $h x $w")
    val labels = labelMainFeature(prepared, h, w)
    var total = 0.0 // prepared whole-image sum (ITotal_overall)
    var labeled = 0.0 // intensity inside the labeled main feature
    var i = 0
    while (i < n) {
      total += prepared(i)
      if (labels(i) == 1) labeled += prepared(i)
      i += 1
    }
    if (labeled <= 0.0) // reference: regionprops m00 <= 0 -> no beam
      return BeamAnalysis(Double.NaN, Double.NaN, Double.NaN, Double.NaN,
        Double.NaN, Double.NaN, 0.0, 0.0, total, new Array[Float](n), null)

    // weighted centroid (K4's beam centre) + covariance over the LABELED region
    val (cy, cx) = weightedCentroid(prepared, labels, h, w)
    var cyy = 0.0; var cxx = 0.0; var cxy = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = y * w + x
        if (labels(idx) == 1) {
          val v = prepared(idx).toDouble
          val dy = y - cy; val dx = x - cx
          cyy += v * dy * dy; cxx += v * dx * dx; cxy += v * dy * dx
        }
        x += 1
      }
      y += 1
    }
    cyy /= labeled; cxx /= labeled; cxy /= labeled

    // eigen decomposition of [[cyy, cxy], [cxy, cxx]]
    val tr = cyy + cxx
    val det = cyy * cxx - cxy * cxy
    val disc = math.sqrt(math.max(0.0, tr * tr / 4.0 - det))
    val l1 = tr / 2.0 + disc // major variance
    val l2 = tr / 2.0 - disc // minor variance
    val sigmaMajor = math.sqrt(math.max(l1, 0.0))
    val sigmaMinor = math.sqrt(math.max(l2, 0.0))
    val theta = 0.5 * math.atan2(2.0 * cxy, cxx - cyy)

    // Mahalanobis inverse of (cov + 1e-12 I) — the reference's
    // regularization keeps degenerate (collinear) beams finite
    val eps = 1e-12
    val rDet = (cyy + eps) * (cxx + eps) - cxy * cxy
    val inv00 = (cxx + eps) / rDet // multiplies dy*dy
    val inv11 = (cyy + eps) / rDet // multiplies dx*dx
    val inv01 = -cxy / rDet

    def md2At(yy: Int, xx: Int): Double = {
      val dy = yy - cy; val dx = xx - cx
      inv00 * dy * dy + 2.0 * inv01 * dy * dx + inv11 * dx * dx
    }

    // kept fraction of the LABELED intensity inside (ellipse ∩ labels)
    def fracAt(k: Double): Double = {
      val k2 = k * k
      var inside = 0.0
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val idx = yy * w + xx
          if (labels(idx) == 1 && md2At(yy, xx) <= k2) inside += prepared(idx)
          xx += 1
        }
        yy += 1
      }
      inside / labeled
    }

    // reference bisection: bracket [0.5, 5.0], 8 steps, midpoint returned
    var lo = 0.5; var hi = 5.0
    var step = 0
    while (step < bisectionSteps) {
      val mid = (lo + hi) / 2.0
      if (fracAt(mid) < targetCoverage) lo = mid else hi = mid
      step += 1
    }
    val k = (lo + hi) / 2.0
    val k2 = k * k
    val mask = new Array[Float](n)
    var region = 0.0
    var msy = 0.0; var msx = 0.0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = y * w + x
        if (labels(idx) == 1 && md2At(y, x) <= k2) {
          mask(idx) = 1f
          val v = prepared(idx).toDouble
          region += v; msy += v * y; msx += v * x
        }
        x += 1
      }
      y += 1
    }
    // reference returns regionprops(beam_coverage_mask).weighted_centroid
    val (comY, comX) =
      if (region > 0) (msy / region, msx / region) else (cy, cx)
    BeamAnalysis(comY, comX, sigmaMinor, sigmaMajor, theta, k,
      region / labeled, region, total, mask, Array(cy, cx))
  }

  /** K7 flux image: img/duration - darkcurrent per pixel
    * — `.../processstep_calc_beam_flux_and_transmissions.py:208-209`. */
  def fluxImage(img: Array[Float], duration: Double, darkcurrent: Double): Array[Float] = {
    val out = new Array[Float](img.length)
    var i = 0
    while (i < img.length) { out(i) = (img(i) / duration - darkcurrent).toFloat; i += 1 }
    out
  }

  /** K8 masked NaN-skipping sum, numpy's `nansum(img * mask)` — `.py:211-214`:
    * a NaN product is skipped, so an infinite pixel under a 0 or a NaN mask
    * entry drops out instead of poisoning the sum. Dimension mismatch fails
    * loudly (numpy broadcasting would too) instead of truncating or
    * overrunning the mask. */
  def maskedNanSum(img: Array[Float], mask: Array[Float]): Double = {
    require(img.length == mask.length,
      s"image (${img.length} px) and mask (${mask.length} px) dimensions differ")
    var s = 0.0
    var i = 0
    while (i < img.length) {
      val p = img(i) * mask(i)
      if (!p.isNaN) s += p
      i += 1
    }
    s
  }

  /** K8 unmasked NaN-skipping sum. */
  def nanSum(img: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < img.length) { if (!img(i).isNaN) s += img(i); i += 1 }
    s
  }
}
