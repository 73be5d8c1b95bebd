package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Hdf5Source

/** The last integration seam in one pass: committed `.nxs` FIXTURE BYTES ->
  * binaryFile scan -> [[Hdf5Source.treeTable]] -> [[Ingest]] translation
  * (K20/S3-S6) -> the verbatim 15-step registry -> stacker + flux/thickness
  * CSV, compared against committed goldens. This is the exact path the
  * reference runs in production
  * (`directory_processor_multibatch_nostack.sh:18-33` over a measurement
  * tree, `README.md:14-43` for the layout); every boundary here is also
  * unit-tested elsewhere, this proves the handoffs compose. */
class FullDagGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val H = 32
  private val W = 32

  private def resourceDir(rel: String): String =
    Paths.get(getClass.getResource(rel).toURI).toString

  private def goldenPath(name: String) =
    Paths.get("src/test/resources/golden").resolve(name)

  private lazy val ctx: Stages.Context = {
    // logbook + masks are separate sources (S8/S9, xlsx/mask-library) —
    // the .h5 seam under test feeds the repetition frame only. Same
    // analytic anchors as Fixtures: batch 1 thickness from absorption,
    // batch 2 from the logbook; batch 2 is batch 1's background.
    import Model._
    val logbook = Seq(
      LogbookEntry("20240115", 1, "prop1", "user1", "s1", "sample one",
        "SiO2", 2.2, -1.0, "20240115", 2, "", 0, 100.0),
      LogbookEntry("20240115", 2, "prop1", "user1", "s2", "background",
        "H2O", 1.0, 0.001, "20240115", 2, "None", 0, 100.0)
    ).toDS().toDF()
    val m = Array.fill(H * W)(1f)
    val masks = Seq(
      MaskEntry("20240101", 1, m, H, W, "Masks/20240101_1.nxs")
    ).toDS().toDF()
    Stages.Context(logbook, masks)
  }

  private lazy val processed: DataFrame = {
    val dir = resourceDir("/h5/pipe")
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.nxs")
      .option("recursiveFileLookup", "true")
      .load(dir)
    val tree = Hdf5Source.treeTable(spark, dir, glob = "*.nxs")
    val keys = Ingest.repetitionKeys(files.select(col("path"), col("modificationTime")))
    val reps = Ingest.repetitionsFromTree(tree, keys)
    Stages.run(reps, ctx, Stages.referenceSteps.dropRight(1))
  }

  private def csvLines(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => ""
      case d: Double => BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toString
      case v => v.toString
    }.mkString(",")).sorted.toSeq

  private def checkGolden(name: String, actual: Seq[String]): Unit = {
    val p = goldenPath(name)
    assert(Files.exists(p),
      s"golden $p missing; actual output:\n${actual.mkString("\n")}")
    val expected = new String(Files.readAllBytes(p), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSeq.sorted
    assert(actual == expected,
      s"$name mismatch\nACTUAL:\n${actual.mkString("\n")}\n" +
        s"EXPECTED:\n${expected.mkString("\n")}")
  }

  test("from-bytes full DAG: 15 steps -> flux/thickness CSV equals golden") {
    val table = Stages.fluxThicknessTable(processed, ctx)
    // analytic anchors before the byte-level golden: batch 1's
    // bg-corrected transmission_sample is 0.56/0.8 = 0.7 and its thickness
    // derives from absorption (-ln(0.7)/mu, mu=100); batch 2 is its own
    // background (short-circuit, stays 0.8) and its logbook thickness wins
    val anchors = processed
      .select(col("batch"), round(col("transmission_sample"), 8),
        round(col("thickness"), 10))
      .distinct().as[(Int, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(math.abs(anchors(1)._1 - 0.7) < 1e-9, s"batch1 ${anchors(1)}")
    assert(math.abs(anchors(1)._2 - (-math.log(0.7) / 100.0)) < 1e-9,
      s"batch1 thickness ${anchors(1)}")
    assert(math.abs(anchors(2)._1 - 0.8) < 1e-9, s"batch2 ${anchors(2)}")
    assert(anchors(2)._2 == 0.001, s"batch2 thickness ${anchors(2)}")
    checkGolden("full_dag_flux_table.csv", csvLines(table))
  }

  test("ingest is one pass: the tree is scanned once, not once per rule") {
    // a per-rule fold (`PerRuleReaders.fold`) would re-scan (and re-parse)
    // every instrument file once per mapping — ~10x the parse work at
    // corpus scale. The conditional aggregation must leave exactly two
    // source scans in the plan: the tree parse and the key/mtime listing
    // (which prunes the content column).
    val dir = resourceDir("/h5/pipe")
    def reps(): DataFrame = {
      val files = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.nxs")
        .option("recursiveFileLookup", "true")
        .load(dir)
      Ingest.repetitionsFromTree(
        Hdf5Source.treeTable(spark, dir, glob = "*.nxs"),
        Ingest.repetitionKeys(files.select(col("path"), col("modificationTime"))))
    }
    val plan = reps().queryExecution.optimizedPlan.toString
    val scans = "binaryFile".r.findAllMatchIn(plan).size
    assert(scans <= 2, s"$scans binaryFile scans in ingest plan:\n$plan")

    // the physical shape (static plan, AQE off): one hash exchange for
    // groupBy(file) plus the broadcast of the aggregated side, a partial
    // and a final aggregate, one join back to the keys
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val physical = reps().queryExecution.executedPlan
      val exchanges = physical.collect { case e: Exchange => e }.size
      val aggregates = physical.collect { case a: BaseAggregateExec => a }.size
      val joins = physical.collect { case j: BaseJoinExec => j }.size
      assert((exchanges, aggregates, joins) == ((2, 2, 1)),
        s"(exchanges, aggregates, joins) in ingest plan:\n$physical")
    } finally spark.conf.set(key, old)
  }

  test("from-bytes full DAG: stacker output equals golden") {
    val stacked = Stages.stacker(processed, ctx)
      .select(col("ymd"), col("batch"), col("configuration"),
        col("n_repetitions"),
        concat_ws("|", col("repetitions")).as("reps"),
        round(col("mean_transmission"), 8).as("mean_tr"),
        round(col("std_transmission"), 8).as("std_tr"),
        round(col("mean_thickness"), 8).as("mean_th"),
        round(col("mean_direct_flux"), 4).as("mean_flux"),
        // image-stat digest: per-pixel Welford means/sems folded to sums
        round(aggregate(col("stacked_image_stats.mean"), lit(0.0d),
          (a, x) => a + x), 3).as("mean_img_sum"),
        round(aggregate(col("stacked_image_stats.sem"), lit(0.0d),
          (a, x) => a + x), 3).as("sem_img_sum"))
    checkGolden("full_dag_stacked.csv", csvLines(stacked))
  }
}
