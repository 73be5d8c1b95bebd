package graft.pipeline

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise statistics across a group of equally-sized float arrays —
  * the stacker's per-pixel mean/std/sem over repetition images
  * (`/root/reference/src/post_translation_operation_hdf5_stacker.py:162-189`,
  * SURVEY §2.5 A3 on arrays, §7.3 "custom typed Aggregator").
  *
  * Welford-style single-pass accumulation per element: numerically stable,
  * mergeable across partitions (parallel variance merge), so stacking scales
  * to arbitrarily many repetitions per group with map-side partial
  * aggregation — no `collect_list` of full images on the reduce side.
  */
object ArrayStats {

  case class Buf(n: Long, mean: Array[Double], m2: Array[Double])

  case class Result(
      n: Long,
      mean: Array[Double],
      std: Array[Double], // ddof=1, like np.std(..., ddof=1)
      sem: Array[Double]) // std / sqrt(n)

  class ArrayStatsAggregator extends Aggregator[Array[Float], Buf, Result] {

    override def zero: Buf = Buf(0L, Array.emptyDoubleArray, Array.emptyDoubleArray)

    override def reduce(b: Buf, a: Array[Float]): Buf = {
      if (a == null) return b
      if (b.n == 0L) {
        val mean = new Array[Double](a.length)
        var i = 0
        while (i < a.length) { mean(i) = a(i); i += 1 }
        Buf(1L, mean, new Array[Double](a.length))
      } else {
        require(a.length == b.mean.length,
          s"stacked arrays must share a shape: ${a.length} vs ${b.mean.length}")
        val n1 = b.n + 1
        var i = 0
        while (i < a.length) {
          val d = a(i) - b.mean(i)
          b.mean(i) += d / n1
          b.m2(i) += d * (a(i) - b.mean(i))
          i += 1
        }
        Buf(n1, b.mean, b.m2)
      }
    }

    override def merge(x: Buf, y: Buf): Buf = {
      if (x.n == 0L) return y
      if (y.n == 0L) return x
      require(x.mean.length == y.mean.length, "shape mismatch in merge")
      val n = x.n + y.n
      val mean = new Array[Double](x.mean.length)
      val m2 = new Array[Double](x.mean.length)
      var i = 0
      while (i < mean.length) {
        val d = y.mean(i) - x.mean(i)
        mean(i) = x.mean(i) + d * y.n / n
        m2(i) = x.m2(i) + y.m2(i) + d * d * x.n * y.n / n
        i += 1
      }
      Buf(n, mean, m2)
    }

    override def finish(b: Buf): Result = {
      val len = b.mean.length
      val std = new Array[Double](len)
      val sem = new Array[Double](len)
      if (b.n >= 2) {
        var i = 0
        while (i < len) {
          std(i) = math.sqrt(b.m2(i) / (b.n - 1))
          sem(i) = std(i) / math.sqrt(b.n.toDouble)
          i += 1
        }
      } else {
        java.util.Arrays.fill(std, Double.NaN)
        java.util.Arrays.fill(sem, Double.NaN)
      }
      Result(b.n, b.mean, std, sem)
    }

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Result] = Encoders.product[Result]
  }
}
