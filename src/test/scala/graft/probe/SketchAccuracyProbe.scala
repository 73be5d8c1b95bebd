package graft.probe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** Estimator-quality ladder for the sketch family (x01/x03/x04/x05/x07/
  * x08) across corpus decades — the evidence the oracle gate cannot give.
  *
  * The driver's DuckDB oracle proves every sketch pipeline is
  * DETERMINISTIC and cross-engine EXACT (the md5 hash family makes the
  * sketch state portable), but says nothing about whether the fixed
  * geometries are good ESTIMATORS as the data grows: HLL m=256,
  * CMS 4×1024, KMV k=64, bitmap m=4096 and AMS R=16 are all
  * corpus-independent sizes, so their error behavior across decades is a
  * property of the GEOMETRY, measured here against the exact reference
  * columns the queries already carry (x03's exact_count, x04/x07's
  * n_exact, x05's jaccard_exact, x08's exact_f2) plus a side
  * countDistinct for x01.
  *
  * Expected-from-theory lines printed with each measurement:
  *  - x01 HLL (Flajolet'07):      σ ≈ 1.04/√256            = 6.5%
  *  - x03 CMS (Cormode'05):       overcount ≤ e·N/1024 at 1−e^−4
  *  - x04 KMV (Beyer'07):         σ ≈ 1/√(k−2)             = 12.7%
  *  - x05 bottom-k Jaccard:       σ ≈ √(J(1−J)/k)
  *  - x07 LC (Whang'90):          load-factor-dependent; SATURATES by
  *                                design once vocab ≳ m·ln m — the probe
  *                                shows where the fixed bitmap stops
  *                                being usable (the documented contract:
  *                                occupied = m → NULL, never ±inf)
  *  - x08 AMS (Alon'96):          σ = √(2/16)              = 35%
  *
  * Scale dirs come from scripts/make_scale_probe.py (copy i rewrites
  * every word as a per-copy hash prefix, so the token VOCABULARY grows
  * ~linearly with copies — exactly the axis that stresses a fixed
  * geometry; lineitem keys amplify by orderkey offset only, so x01's
  * part/supp cardinality is deliberately flat across the ladder and its
  * row is the same at every scale — printed once at the base dir).
  *
  * Run: sbt "Test/runMain graft.probe.SketchAccuracyProbe dir1 [dir2 ...] [--only=x03,x04,x07]"
  *   --only restricts to a sketch subset (a docs-only ×1000 dir has no
  *   amplified lineitem, and x08's R×tokens explode at 270M tokens is
  *   the one genuinely expensive leg).
  */
object SketchAccuracyProbe {

  def main(rawArgs: Array[String]): Unit = {
    val (flags, args) = rawArgs.partition(_.startsWith("--"))
    val only: Set[String] = flags.find(_.startsWith("--only"))
      .map(_.stripPrefix("--only").stripPrefix("=").trim)
      .filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("x01", "x03", "x04", "x05", "x07", "x08"))
    // --set=spark.sql.shuffle.partitions=64 — session confs (the
    // '='-joined form only: a space-separated value would land in the
    // dirs list, ADVICE r20)
    val confs = flags.filter(_.startsWith("--set")).map { f =>
      val kv = f.stripPrefix("--set").stripPrefix("=").split("=", 2)
      require(kv.length == 2, s"--set needs key=value: got '$f'")
      (kv(0).trim, kv(1).trim)
    }
    require(args.nonEmpty,
      "usage: SketchAccuracyProbe dir1 [dir2 ...] [--only=x03,x04] [--set=k=v ...]")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) =>
      println(s"[sketch-accuracy] conf $k=$v"); spark.conf.set(k, v)
    }

    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)

    def pct(est: Double, exact: Double): String =
      f"${(est / exact - 1) * 100}%+.1f%%"

    args.zipWithIndex.foreach { case (dir, i) =>
      println(s"\n[sketch-accuracy] dir=$dir")

      if (i == 0 && only("x01")) {
        // x01 HLL vs exact countDistinct (flat across the ladder by
        // amplification design — base dir only)
        val exact = Tables.load(spark, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("ex_parts"),
            countDistinct(col("l_suppkey")).as("ex_supps"))
        q("x01", dir).join(exact, Seq("l_returnflag"))
          .orderBy("l_returnflag").collect().foreach { r =>
            val (ap, as2) = (r.getAs[Double]("approx_parts"),
              r.getAs[Double]("approx_supps"))
            val (ep, es) = (r.getAs[Long]("ex_parts"), r.getAs[Long]("ex_supps"))
            println(f"  x01 hll  flag=${r.getString(0)} parts est=$ap%.0f " +
              f"exact=$ep err=${pct(ap, ep.toDouble)} | supps est=$as2%.0f " +
              f"exact=$es err=${pct(as2, es.toDouble)} (theory σ=6.5%%)")
          }
      }

      // x03 CMS top-20 heavy hitters: overcount vs the e·N/w bound
      if (only("x03")) {
      val x03 = q("x03", dir).collect()
      val nTokens = Tables.loadSpread(spark, dir, "documents")
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("t"))
        .count()
      val bound = math.E * nTokens / 1024.0
      val (maxOver, meanOver) = (x03.map(_.getAs[Long]("overcount")).max,
        x03.map(_.getAs[Long]("overcount")).sum.toDouble / x03.length)
      println(f"  x03 cms  N=$nTokens%d top20 overcount mean=$meanOver%.1f " +
        f"max=$maxOver%d | bound e·N/1024=$bound%.0f " +
        f"(max/bound=${maxOver / bound}%.2f, <1 expected at 98%%)")
      }

      // x04 KMV distinct
      if (only("x04")) q("x04", dir).collect().foreach { r =>
        val est = r.getAs[Long]("est_distinct")
        val ex = r.getAs[Long]("n_exact")
        val k = 64 // x04's fixed bottom-k
        println(f"  x04 kmv  k=$k%d est=$est%d exact=$ex%d " +
          f"err=${pct(est.toDouble, ex.toDouble)} " +
          f"(theory σ=${100.0 / math.sqrt(k - 2.0)}%.1f%%)")
      }

      // x05 bottom-k set ops: union + Jaccard (k shared with x04)
      if (only("x05")) q("x05", dir).collect().foreach { r =>
        val eu = r.getAs[Long]("est_union")
        val xu = r.getAs[Long]("n_union_exact")
        val (je, jx) = (r.getAs[Double]("jaccard_est"),
          r.getAs[Double]("jaccard_exact"))
        val k5 = 64 // x04's bottom-k, shared by x05
        val sigma = math.sqrt(jx * (1 - jx) / k5)
        println(f"  x05 kmv∪ union est=$eu%d exact=$xu%d " +
          f"err=${pct(eu.toDouble, xu.toDouble)} | jaccard est=$je%.4f " +
          f"exact=$jx%.4f (theory σ=$sigma%.4f)")
      }

      // x07 linear counting: the saturation story
      if (only("x07")) q("x07", dir).collect().foreach { r =>
        val occ = r.getAs[Long]("occupied")
        val ex = r.getAs[Long]("n_exact")
        val est = Option(r.get(r.fieldIndex("est_distinct")))
          .map(_.asInstanceOf[Double])
        val m = 4096 // x07's fixed bitmap size
        val load = occ.toDouble / m
        est match {
          case Some(e) =>
            println(f"  x07 lc   m=$m%d est=$e%.0f exact=$ex%d " +
              f"err=${pct(e, ex.toDouble)} load=$load%.3f " +
              f"(degrades as load→1: usable ≲ m·ln m ≈ ${(m * math.log(m) / 1000).round}%dk)")
          case None =>
            println(f"  x07 lc   SATURATED (occupied=$m%d/$m%d) exact=$ex%d " +
              "— the documented fixed-bitmap ceiling (NULL, never ±inf)")
        }
      }

      // x08 AMS F2 (rel_err is an output column)
      if (only("x08")) q("x08", dir).collect().foreach { r =>
        val rr = r.getAs[Int]("r_rows")
        println(f"  x08 ams  R=$rr%d est_f2=${r.getAs[Long]("est_f2")}%d " +
          f"exact_f2=${r.getAs[Long]("exact_f2")}%d " +
          f"rel_err=${r.getAs[Double]("rel_err")}%+.4f " +
          f"(theory σ=${math.sqrt(2.0 / rr)}%.3f)")
      }
    }
    spark.stop()
  }
}
