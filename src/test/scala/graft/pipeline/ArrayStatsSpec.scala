package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** ArrayStats aggregator vs direct two-pass formulas (ddof=1), including the
  * partition-merge path (SURVEY §7.3). */
class ArrayStatsSpec extends AnyFunSuite {

  private val agg = new ArrayStats.ArrayStatsAggregator()

  private def run(arrays: Seq[Array[Float]], splitAt: Int): ArrayStats.Result = {
    val (l, r) = arrays.splitAt(splitAt)
    val bufL = l.foldLeft(agg.zero)(agg.reduce)
    val bufR = r.foldLeft(agg.zero)(agg.reduce)
    agg.finish(agg.merge(bufL, bufR))
  }

  test("element-wise mean/std/sem match direct formulas") {
    val arrays = Seq(Array(1f, 2f), Array(3f, 4f), Array(5f, 9f))
    for (split <- 0 to 3) {
      val res = run(arrays, split)
      assert(res.n == 3)
      assert(math.abs(res.mean(0) - 3.0) < 1e-12)
      assert(math.abs(res.mean(1) - 5.0) < 1e-12)
      // std ddof=1: col0 = 2, col1 = sqrt(13)
      assert(math.abs(res.std(0) - 2.0) < 1e-12, s"split=$split std0=${res.std(0)}")
      assert(math.abs(res.std(1) - math.sqrt(13.0)) < 1e-12)
      assert(math.abs(res.sem(0) - 2.0 / math.sqrt(3.0)) < 1e-12)
    }
  }

  test("n=1 gives NaN std/sem (stddev_samp undefined), n=0 empty") {
    val r1 = agg.finish(agg.reduce(agg.zero, Array(1f, 2f)))
    assert(r1.n == 1 && r1.std.forall(_.isNaN) && r1.sem.forall(_.isNaN))
    val r0 = agg.finish(agg.zero)
    assert(r0.n == 0 && r0.mean.isEmpty)
  }

  test("ragged groups fail loudly: a shape mismatch throws in reduce and in merge") {
    val e1 = intercept[IllegalArgumentException] {
      agg.reduce(agg.reduce(agg.zero, Array.fill(16)(1f)), Array.fill(8)(1f))
    }
    assert(e1.getMessage.contains("share a shape"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      agg.merge(agg.reduce(agg.zero, Array.fill(16)(1f)),
        agg.reduce(agg.zero, Array.fill(8)(1f)))
    }
    assert(e2.getMessage.contains("shape mismatch"), e2.getMessage)
  }
}
