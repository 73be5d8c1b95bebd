package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

/** `add_mask_file` (broadcast validity intervals) against the backward as-of
  * join it replaces, on randomized small tables: future-dated masks, date
  * ties, null configurations, null or unparseable mask dates, repetitions
  * with no eligible mask, and exact duplicate mask rows. */
class AddMaskFileSpec extends SparkSpec {
  import spark.implicits._

  /** The as-of formulation of the step: one window per configuration over
    * the union of repetitions and masks. */
  private def oracle(df: DataFrame, maskLib: DataFrame): DataFrame = {
    val masks = maskLib.select(
      col("configuration"),
      to_date(col("maskYmd"), "yyyyMMdd").as("mask_date"),
      col("mask"), col("maskH"), col("maskW"), col("path").as("mask_path"))
    AsOfJoin.backward(
      df.withColumn("__meas_date", to_date(col("ymd"), "yyyyMMdd")),
      masks,
      keys = Seq("configuration"),
      leftTime = "__meas_date", rightTime = "mask_date",
      joinType = "left",
      tieBreak = Seq("mask_path")
    ).drop("__meas_date")
  }

  private val Days = Seq("20231201", "20240101", "20240115", "20240201", "20240301")

  /** Repetitions: unique `id`, `configuration` in the middle of the schema
    * (the step moves it to the front), some null configurations, and one
    * configuration (9) that no mask serves. */
  private def repetitions(rnd: Random): DataFrame = {
    val rows = (0 until 40).map { id =>
      val config: Option[Int] = rnd.nextInt(8) match {
        case 0 => None
        case 1 => Some(9)
        case k => Some(k % 3)
      }
      (id, Days(rnd.nextInt(Days.length)), config, rnd.nextDouble())
    }
    rows.toDF("id", "ymd", "configuration", "payload")
  }

  /** Masks on a subset of the same dates (so some are future-dated for a
    * repetition, some are ties with it), several paths per date, null
    * configurations and dates, and exact duplicates. */
  private def masks(rnd: Random, badDates: Seq[String]): DataFrame = {
    val rows = (0 until 14).map { _ =>
      val config: Option[Int] = if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(3))
      val ymd =
        if (rnd.nextInt(7) == 0) badDates(rnd.nextInt(badDates.length))
        else Days(1 + rnd.nextInt(Days.length - 1))
      // the payload is a function of the path: masks that agree on (date,
      // configuration, path) are exact duplicates, so any pick is the same
      val path = s"Masks/${ymd}_${config.getOrElse("x")}_${rnd.nextInt(3)}.nxs"
      (ymd, config, Array(path.hashCode.toFloat, path.length.toFloat), 1, 2, path)
    }
    (rows ++ rows.take(3)).toDF("maskYmd", "configuration", "mask", "maskH", "maskW", "path")
  }

  private def compare(seed: Int, badDates: Seq[String]): (Int, Int) = {
    val rnd = new Random(seed)
    val df = repetitions(rnd)
    val lib = masks(rnd, badDates)
    val ctx = Stages.Context(logbook = df.limit(0), masks = lib)
    val got = Stages.addMaskFile(df, ctx)
    val want = oracle(df, lib)
    assert(got.columns.toSeq == want.columns.toSeq, s"seed $seed: column order")
    assert(got.columns.head == "configuration")
    def sorted(d: DataFrame): Seq[Row] = d.orderBy("id").collect().toSeq
    val (g, w) = (sorted(got), sorted(want))
    assert(g.length == df.count(), s"seed $seed: row count")
    assert(g == w, s"seed $seed:\n${g.mkString("\n")}\nvs\n${w.mkString("\n")}")
    (g.count(_.isNullAt(got.columns.indexOf("mask_path"))), g.length)
  }

  test("randomized: equals the as-of join, row count and column order kept") {
    val (unmatched, total) = (1 to 6).map(compare(_, badDates = Seq(null)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(unmatched > 0 && unmatched < total, "both matched and unmatched rows covered")
  }

  test("unparseable mask dates are dropped like null ones (non-ANSI parsing)") {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try (11 to 14).foreach(compare(_, badDates = Seq(null, "", "garbage")))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("hand-picked: tie on date picks the greatest path, future masks never match") {
    val df = Seq(("a", "20240115", Option(1)), ("b", "20240115", Option.empty[Int]),
      ("c", "20231231", Option(1))).toDF("id", "ymd", "configuration")
    val lib = Seq(
      ("20240115", Option(1), Array(1f), 1, 1, "Masks/b.nxs"),
      ("20240115", Option(1), Array(2f), 1, 1, "Masks/a.nxs"),
      ("20240116", Option(1), Array(3f), 1, 1, "Masks/future.nxs"),
      ("20240101", Option.empty[Int], Array(4f), 1, 1, "Masks/null_config.nxs"))
      .toDF("maskYmd", "configuration", "mask", "maskH", "maskW", "path")
    val picks = Stages.addMaskFile(df, Stages.Context(df, lib))
      .select("id", "mask_path").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(picks == Map("a" -> "Masks/b.nxs", "b" -> "Masks/null_config.nxs", "c" -> null))
  }
}
