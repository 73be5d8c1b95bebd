package graft.pipeline

import java.util.concurrent.atomic.AtomicReference

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Attribute, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SharedFrames, SparkSpec}
import graft.functions.KernelExpr

/** End-to-end: Gaussian fixtures through the full stage chain + stacker,
  * asserting the derived physics against analytic expectations
  * (SURVEY §5 test strategy #3). */
class PipelineSpec extends SparkSpec {

  private lazy val ctx = Fixtures.context(spark)
  private lazy val processed =
    Stages.run(Fixtures.repetitions(spark), ctx).cache()

  test("full chain runs and keeps one row per repetition") {
    assert(processed.count() == 12) // 2 batches x 2 configs x 3 reps
  }

  test("beam center recovered from the direct beam") {
    val Row(cy: Double, cx: Double) = processed
      .select(col("beam_center")(0), col("beam_center")(1)).head()
    assert(math.abs(cy - Fixtures.CY) < 0.05)
    assert(math.abs(cx - Fixtures.CX) < 0.05)
  }

  test("as-of mask join never selects a future-dated mask") {
    val picks = processed.select("configuration", "mask_path").distinct()
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(picks(1) == "Masks/20240101_1.nxs") // not the 20240201 future mask
    assert(picks(2) == "Masks/20231201_2.nxs")
  }

  test("transmission = sample/direct flux ratio; TCF = 1 for scaled beams") {
    val rows = processed.select("batch", "transmission",
      "transmission_correction_factor").distinct().collect()
    rows.foreach { r =>
      val expected = if (r.getInt(0) == 1) 0.56 else 0.8
      assert(math.abs(r.getDouble(1) - expected) < 1e-4,
        s"batch ${r.getInt(0)}: T=${r.getDouble(1)}")
      // sample = c * direct exactly -> image and total transmission agree
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-4)
    }
  }

  test("bg-corrected thickness: derived for batch 1, logbook wins for batch 2") {
    val byBatch = processed.select("batch", "thickness").distinct()
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // batch 1: T_sample = 0.56/0.8 = 0.7, a = 0.3, mu = 100
    val expected = -math.log(1.0 - 0.3) / 100.0
    assert(math.abs(byBatch(1) - expected) < 1e-6, s"got ${byBatch(1)}")
    // batch 2: bg == self (short-circuit), logbook thickness 0.001 >= 0 wins
    assert(byBatch(2) == 0.001)
  }

  test("energy from wavelength (K11): 1.54 A -> ~8.05 keV") {
    val e = processed.select("energy_kev").head().getDouble(0)
    assert(math.abs(e - 8.0509) < 1e-3, s"E=$e")
    // the wavelength's units are honoured: 0.154 nm is the same 1.54 A, and
    // an unknown or missing unit gives no energy rather than a wrong one
    import spark.implicits._
    val one = Fixtures.repetitions(spark).filter(col("batch") === 1 && col("repetition") === 1)
      .limit(1).drop("incidentWavelength")
    val waves = Seq((0, 0.154, "nm"), (1, 1.54, "furlong"), (2, 1.54, null))
      .toDF("case", "value", "units")
      .select(col("case"), struct(col("value"), col("units")).as("incidentWavelength"))
    val got = Stages.metadataUpdate(one.crossJoin(waves), ctx)
      .select("case", "energy_kev").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(math.abs(got(0).asInstanceOf[Double] - 8.0509) < 1e-3, s"nm: $got")
    assert(got(1) == null && got(2) == null, s"unknown/null units: $got")
  }

  test("scattering halo: masked vs whole-image transmission split, TCF > 1 applied") {
    // the original fixtures use sample = c * direct EXACTLY, where masked
    // and whole-image ratios coincide (TCF = 1) — this fixture adds a flat
    // scattered halo outside the beam so the two ratios genuinely differ:
    // reference semantics put the MASKED ratio in `transmission` and the
    // whole-image one in `transmission_image`, with TCF = image/masked > 1
    import spark.implicits._
    val direct = Fixtures.gaussian()
    val halo = direct.map(v => 0.5f * v + 0.1f)
    val row = Seq(Model.Repetition(
      ymd = "20240115", batch = 1, repetition = 1, configuration = 1,
      directBeam = direct, directH = Fixtures.H, directW = Fixtures.W,
      directFrameTime = 1.0,
      sampleBeam = halo, sampleH = Fixtures.H, sampleW = Fixtures.W,
      sampleFrameTime = 1.0,
      darkcurrent = 0.0, averagedNumberOfFrames = 1.0,
      incidentWavelength = Model.Quantity(1.54, "angstrom"),
      detX = Model.Quantity(2.5, "m"), sampleX = Model.Quantity(500.0, "mm"),
      modificationTime = java.sql.Timestamp.valueOf("2024-01-15 12:00:00"))).toDS().toDF()
    val out = Stages.run(row, ctx, Seq("metadata_update", "add_mask_file",
      "determine_beam_center", "make_beam_mask",
      "calc_beam_flux_and_transmissions",
      "transmission_correction_factor_propagator",
      "apply_transmission_correction_factor"))
      .select("transmission_beam", "transmission", "transmission_image",
        "transmission_correction_factor", "scattering_probability_estimate")
      .head()
    val (tBeam, t, tImg, tcf, scat) = (out.getDouble(0), out.getDouble(1),
      out.getDouble(2), out.getDouble(3), out.getDouble(4))
    assert(tBeam < tImg, "masked transmission must sit below the whole-image one")
    assert(tcf > 1.01, s"halo must produce TCF > 1, got $tcf")
    assert(math.abs(t - tImg) < 1e-6, "applied correction must equal image transmission")
    // halo outside the 0.997-coverage tight ellipse ~ 0.1*(N - pi*(3.3s)^2)
    // over the sample total ~ 1.5% of intensity
    assert(scat > 0.01, s"halo must register as scattering probability, got $scat")
  }

  test("make_beam_mask: beam_center_distance_m scales m/mm/cm/um, NaN for unknown or null units") {
    import spark.implicits._
    val direct = Fixtures.gaussian()
    // (detX, sampleX) -> expected detX - sampleX in meters
    val cases = Seq(
      (Model.Quantity(2.5, "m"), Model.Quantity(0.25, "m"), 2.5 - 0.25),
      (Model.Quantity(2500.0, "mm"), Model.Quantity(500.0, "mm"), 2500.0 * 1e-3 - 500.0 * 1e-3),
      (Model.Quantity(2.5, "m"), Model.Quantity(30.0, "cm"), 2.5 - 30.0 * 1e-2),
      (Model.Quantity(2.5, "m"), Model.Quantity(1.0e5, "um"), 2.5 - 1.0e5 * 1e-6),
      (Model.Quantity(2.5, "m"), Model.Quantity(1.0, "furlong"), Double.NaN),
      (Model.Quantity(2.5, null), Model.Quantity(0.5, "m"), Double.NaN))
    val rows = cases.zipWithIndex.map { case ((det, sample, _), i) =>
      Model.Repetition(
        ymd = "20240115", batch = 1, repetition = i, configuration = 1,
        directBeam = direct, directH = Fixtures.H, directW = Fixtures.W,
        directFrameTime = 1.0,
        sampleBeam = direct, sampleH = Fixtures.H, sampleW = Fixtures.W,
        sampleFrameTime = 1.0,
        darkcurrent = 0.0, averagedNumberOfFrames = 1.0,
        incidentWavelength = Model.Quantity(1.54, "angstrom"),
        detX = det, sampleX = sample,
        modificationTime = java.sql.Timestamp.valueOf("2024-01-15 12:00:00"))
    }.toDS().toDF()
    val got = Stages.run(rows, ctx, Seq("determine_beam_center", "make_beam_mask"))
      .select("repetition", "beam_center_distance_m").as[(Int, Double)].collect().toMap
    cases.zipWithIndex.foreach { case ((det, sample, expected), i) =>
      val d = got(i)
      assert(if (expected.isNaN) d.isNaN else d == expected, s"$det - $sample: got $d")
    }
  }

  test("negative absorption (T > 1 noise) derives a small NEGATIVE thickness, not -1") {
    import spark.implicits._
    val direct = Fixtures.gaussian()
    val over = direct.map(v => v * 1.02f) // transmission 1.02: vacuum-like noise
    val row = Seq(Model.Repetition(
      ymd = "20240115", batch = 2, repetition = 1, configuration = 1, // bg == self
      directBeam = direct, directH = Fixtures.H, directW = Fixtures.W,
      directFrameTime = 1.0,
      sampleBeam = over, sampleH = Fixtures.H, sampleW = Fixtures.W,
      sampleFrameTime = 1.0,
      darkcurrent = 0.0, averagedNumberOfFrames = 1.0,
      incidentWavelength = Model.Quantity(1.54, "angstrom"),
      detX = Model.Quantity(2.5, "m"), sampleX = Model.Quantity(500.0, "mm"),
      modificationTime = java.sql.Timestamp.valueOf("2024-01-15 12:00:00"))).toDS().toDF()
    val th = Stages.run(row, ctx)
      .select("absorption_derived_thickness").head().getDouble(0)
    // calculate_thickness: a = -0.02 -> log(0.98)/mu ~ -2.02e-4 m ("negative
    // thickness so the multi-repetition average is not biased"), NOT -1
    assert(th < 0 && th > -0.001, s"expected ~-2e-4, got $th")
    assert(math.abs(th - math.log(1 - 0.02) / 100.0) < 1e-5, s"got $th")
  }

  test("logbook composition parses to typed components") {
    val comp = processed.filter(col("batch") === 1)
      .select(explode(col("composition_components")).as("c"))
      .select("c.element", "c.count")
      .distinct().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(comp == Map("Si" -> 1.0, "O" -> 2.0))
  }

  test("stacker: n=3 per group, identical reps give zero per-pixel std") {
    val stacked = Stages.registry("stacker")(processed, ctx)
    assert(stacked.count() == 4) // 2 batches x 2 configs
    val r = stacked.select("n_repetitions", "repetitions",
      "stacked_image_stats.n", "mean_transmission", "std_transmission").head()
    assert(r.getLong(0) == 3)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getLong(2) == 3)
    val stats = stacked.select("stacked_image_stats.std").head().getSeq[Double](0)
    assert(stats.forall(_ < 1e-6)) // identical repetitions
  }

  test("flux table stage emits one summary row per repetition") {
    val table = Stages.registry("transmission_thickness_flux_table")(processed, ctx)
    assert(table.count() == 12)
    assert(table.columns.contains("thickness"))
  }

  test("thickness stage evaluates its upstream exactly once (persisted diamond)") {
    // bgStats branches off the stage input; without the in-stage persist the
    // whole upstream (UDF image kernels included) would run twice per action.
    val acc = spark.sparkContext.longAccumulator("upstream-evals")
    val countingUdf = udf { (t: Double) => acc.add(1); t }.asNondeterministic()
    val dir = java.nio.file.Files.createTempDirectory("thick").toString
    spark.range(100).selectExpr(
        "concat('c', id % 4) AS collection_identifier",
        "cast(id % 2 AS int) AS configuration",
        "concat('c', (id + 1) % 4) AS background_identifier",
        "0.5 + (id % 10) * 0.01 AS transmission",
        "100.0 AS overallMu",
        "cast(null AS double) AS samplethickness")
      .write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir)
      .withColumn("transmission", countingUdf(col("transmission")))
    val out = Stages.thicknessFromAbsorption(input, ctx)
    out.collect()
    assert(acc.value == 100, s"upstream evaluated ${acc.value} / 100 times")
    spark.sharedState.cacheManager.clearCache()
  }

  test("verbatim reference --steps list replays through the registry") {
    // the 15 processstep_-prefixed names from
    // directory_processor_multibatch_nostack.sh:18-33, accepted as-is
    val out = Stages.run(Fixtures.repetitions(spark), ctx, Stages.referenceSteps)
    assert(out.count() == 12)
    assert(out.columns.contains("thickness"))
    // unknown names fail with a did-you-mean, not a bare key lookup
    val e = intercept[NoSuchElementException] {
      Stages.stage("processstep_nonexistent")
    }
    assert(e.getMessage.contains("known:"))
  }

  test("pipeline caches drain through ctx.caches.release()") {
    // clear leftovers from sibling tests that share the suite session
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val ctx2 = ctx.copy(caches = new SharedFrames.Scope)
    val out = Stages.run(Fixtures.repetitions(spark), ctx2)
    out.count() // consuming action fills the tracked thickness-stage cache
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the thickness stage to persist its input")
    ctx2.caches.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must unpersist every stage-tracked frame")
  }

  test("add_background_files: walk_up-relative stacked path, '' sentinel") {
    import spark.implicits._
    // Path.relative_to(repetition_dir, walk_up=True) semantics: shared
    // year/date prefixes normalize away (processstep_add_background_files
    // .py:72-73); cross-year needs three '..' (rep dir, date dir, year dir).
    val df = Seq(
      ("20240115", "20240115_1", 1, "20240110_2", "None"), // same year
      ("20240115", "20240115_1", 1, "20240115_3", null),   // same date
      ("20240115", "20240115_1", 1, "20230110_2", null),   // cross-year
      ("20240115", "20240115_1", 2, null, null))
      .toDF("ymd", "collection_identifier", "configuration",
        "background_identifier", "dispersant_background_identifier")
    val out = Stages.addBackgroundFiles(df, ctx)
      .select("background_file", "dispersed_background_file").collect()
    val linked = out.map(r => (r.getString(0), r.getString(1))).toSet
    assert(linked.contains(
      ("../../20240110/MOUSE_20240110_2_1_stacked.nxs", "")))
    assert(linked.contains(("../MOUSE_20240115_3_1_stacked.nxs", "")))
    assert(linked.contains(
      ("../../../2023/20230110/MOUSE_20230110_2_1_stacked.nxs", "")))
    assert(linked.contains(("", "")))
  }

  test("translator steps return their input frame itself") {
    // translation is Ingest's (TreeTable.translateOnto), before the steps
    for (name <- Seq("translator_step_1", "processstep_translator_step_2"))
      assert(Stages.stage(name)(processed, ctx) eq processed, name)
  }

  test("quarantine split (F7/S15): rows failing canStack are separated") {
    val broken = processed.withColumn("mask",
      when(col("batch") === 1, col("mask")))
    val good = broken.filter(Stages.canStack)
    val bad = broken.filter(!Stages.canStack)
    assert(good.count() == 6 && bad.count() == 6)
  }

  test("a detX unit outside the unit table sends its repetition to the quarantine; the rest stack") {
    // the NaN distance (Spark orders NaN above every number, so NaN > 0)
    // must not reach the flux circle: a zero direct_flux would fail the
    // whole pass with DIVIDE_BY_ZERO under ANSI
    val odd = col("batch") === 1 && col("configuration") === 1 && col("repetition") === 2
    val reps = Fixtures.repetitions(spark).withColumn("detX",
      when(odd, struct(col("detX.value").as("value"), lit("furlong").as("units")))
        .otherwise(col("detX")))
    val out = Stages.run(reps, ctx).cache()
    try {
      val bad = out.filter(!Stages.canStack)
        .select("batch", "configuration", "repetition", "transmission").collect()
      assert(bad.toSeq == Seq(Row(1, 1, 2, null)), bad.mkString(", "))
      val stacked = Stages.registry("stacker")(out, ctx)
        .select("batch", "configuration", "repetitions").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Int](2)).toMap
      assert(stacked == Map((1, 1) -> Seq(1, 3), (1, 2) -> Seq(1, 2, 3),
        (2, 1) -> Seq(1, 2, 3), (2, 2) -> Seq(1, 2, 3)), stacked)
    } finally out.unpersist()
  }

  test("S10: MOUSE_settings.yaml-shaped file parses into the typed carrier") {
    // the reference settings-file shape: comments, quoted paths, flat keys
    val yaml =
      """# Define required paths for the data pipeline
        |# Base directory for processing
        |vsi_root: "/mnt/beamline/mouseTest/"
        |
        |# for testing, point at the demo data tree
        |saxs_dir: "/mnt/beamline/mouseTest/Measurements/SAXS002"
        |
        |post_translation_dir: "/opt/pipeline/src"
        |translator_template_dir: /opt/pipeline/templates  # bare scalar
        |logbook_file: '/mnt/beamline/logbooks/Logbook_Dataprocessing.xlsx'
        |""".stripMargin
    val c = Settings.fromYaml(yaml)
    assert(c.vsiRoot == "/mnt/beamline/mouseTest/")
    assert(c.translatorTemplateDir == "/opt/pipeline/templates")
    assert(c.logbookFile == "/mnt/beamline/logbooks/Logbook_Dataprocessing.xlsx")
    // defaults derive exactly like DefaultsCarrier.__attrs_post_init__
    assert(c.dataDir == "/mnt/beamline/mouseTest/Measurements/SAXS002/data")
    assert(c.masksDir == "/mnt/beamline/mouseTest/Measurements/SAXS002/data/Masks")
    assert(c.projectsDir == "/mnt/beamline/mouseTest/Proposals/SAXS002")
    assert(c.stackerConfigFile ==
      "/mnt/beamline/mouseTest/Measurements/SAXS002/data/" +
        "StackerConfigurations/stacker_config.yaml")
    assert(c.loggingLevel == "INFO")

    // CRLF files (Windows-edited settings) parse identically
    val crlf = Settings.fromYaml(yaml.replace("\n", "\r\n"))
    assert(crlf == c)

    // required-key contract and nested-yaml loud failure
    val e1 = intercept[IllegalArgumentException] {
      Settings.fromYaml("vsi_root: /a\n")
    }
    assert(e1.getMessage.contains("post_translation_dir"))
    intercept[IllegalArgumentException] {
      Settings.parse("outer:\n  inner: 1\n")
    }

    // a bare '#' INSIDE a scalar is data, not a comment (yaml.safe_load
    // only starts trailing comments at whitespace + '#')
    val hash = Settings.parse(
      "masks_dir: /data/run#12\nnotes: a#b c  # real comment\n")
    assert(hash("masks_dir") == "/data/run#12")
    assert(hash("notes") == "a#b c")

    // a value that is ENTIRELY a comment is a null value in YAML — the
    // 'no scalar value' failure must fire, not the literal string "# note"
    intercept[IllegalArgumentException] {
      Settings.parse("vsi_root: # note\n")
    }
  }

  test("S10: the reference's real MOUSE_settings.yaml parses into Carrier") {
    // the one settings file actually shipped with the reference
    // (MOUSE_settings.yaml) — read in place, skipped if not present
    val p = java.nio.file.Paths.get("/root/reference/MOUSE_settings.yaml")
    assume(java.nio.file.Files.exists(p), "reference checkout not present")
    val c = Settings.fromYaml(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    assert(c.vsiRoot.endsWith("/newMouseTest/"))
    assert(c.saxsDir.endsWith("/Measurements/SAXS002"))
    assert(c.postTranslationDir.endsWith("/src"))
    assert(c.translatorTemplateDir.endsWith("/data/TranslatorConfigurations"))
    assert(c.logbookFile.endsWith("Logbook_MOUSE_Dataprocessing.xlsx"))
    // derived keys fall back exactly like DefaultsCarrier defaults
    assert(c.dataDir == c.saxsDir + "/data")
    assert(c.loggingLevel == "INFO")
  }

  /** Every expression the optimized plan evaluates, including the plans of
    * the frames it reads from the cache (the thickness step persists its
    * input, so the upstream stages sit behind an `InMemoryRelation`), each
    * cached plan once however many relations read it. */
  private def planExpressions(plan: LogicalPlan): Seq[Expression] = {
    def physical(p: SparkPlan): Seq[Expression] = p.collect {
      case a: AdaptiveSparkPlanExec => physical(a.inputPlan)
      case n => n.expressions
    }.flatten
    val caches = plan.collect { case m: InMemoryRelation => m.cacheBuilder }.distinct
    (plan.collect {
      case _: InMemoryRelation => Nil
      case n => n.expressions
    }.flatten ++ caches.flatMap(c => physical(c.cachedPlan))).flatMap(_.collect { case e => e })
  }

  test("plan guard: no mask image outlives the flux step; the thickness cache holds 3 images") {
    val ctx2 = ctx.copy(caches = new SharedFrames.Scope)
    try {
      val plan = Stages.run(Fixtures.repetitions(spark), ctx2, Stages.referenceSteps)
        .queryExecution.optimizedPlan
      // the thickness step's cache, read by both sides of its join
      val cached = plan.collect { case m: InMemoryRelation => m }
      assert(cached.nonEmpty && cached.map(_.cacheBuilder).distinct.size == 1, plan.toString)
      // every float-array column or struct field of the cached frame
      def images(t: DataType, path: String): Seq[String] = t match {
        case ArrayType(FloatType, _) => Seq(path)
        case st: StructType => st.fields.toSeq.flatMap(f => images(f.dataType, s"$path.${f.name}"))
        case _ => Nil
      }
      val held = cached.head.output.flatMap(a => images(a.dataType, a.name))
      assert(held.sorted == Seq("directBeam", "mask", "sampleBeam"), held)
      val analysis = cached.head.output.find(_.name == "direct_analysis")
        .getOrElse(fail("no direct_analysis")).dataType.asInstanceOf[StructType]
      assert(analysis.fieldNames.contains("sigmaMinor") && !analysis.fieldNames.contains("mask"))
      // dropping the field does not evaluate the beam analysis again
      val kernels = planExpressions(plan).collect { case k: KernelExpr => k.kernel.method }
      assert(kernels.count(_ == "beamAnalysis") == 1, kernels)
      assert(!kernels.contains("circularMask"), kernels)
    } finally ctx2.caches.release()
  }

  test("plan guard: image kernels are native expressions, masks join by broadcast") {
    val ctx2 = ctx.copy(caches = new SharedFrames.Scope)
    try {
      val out = Stages.run(Fixtures.repetitions(spark), ctx2, Stages.referenceSteps)
      val exprs = planExpressions(out.queryExecution.optimizedPlan)
      assert(exprs.exists(_.isInstanceOf[KernelExpr]))
      assert(!exprs.exists(_.isInstanceOf[ArrayTransform]), "no interpreted transform")
      val udfs = exprs.collect { case u: ScalaUDF => u.udfName }
      assert(udfs.nonEmpty && udfs.forall(_.contains(Stages.CompositionUdfName)),
        s"the composition parser is the only row UDF: $udfs")
    } finally ctx2.caches.release()

    // add_mask_file: the only shuffle is on the mask side of the broadcast
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = Stages.addMaskFile(Fixtures.repetitions(spark), ctx).queryExecution.executedPlan
      def shufflesOverInput(p: SparkPlan): Int = p match {
        case _: BroadcastExchangeExec => 0
        case s: ShuffleExchangeExec => 1 + shufflesOverInput(s.child)
        case o => o.children.map(shufflesOverInput).sum
      }
      assert(shufflesOverInput(plan) == 0, plan.toString)
      assert(plan.collectFirst { case b: BroadcastExchangeExec => b }.nonEmpty, plan.toString)
    } finally spark.conf.set(key, old)
  }

  /** Every node of an executed physical plan, through final adaptive
    * plans, query stages, command results and cached relations, unless
    * `stop` holds for the node. */
  private def finalNodes(p: SparkPlan, stop: SparkPlan => Boolean = _ => false): Seq[SparkPlan] =
    p +: (p match {
      case _ if stop(p) => Nil
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan, stop)
      case q: QueryStageExec => finalNodes(q.plan, stop)
      case c: CommandResultExec => finalNodes(c.commandPhysicalPlan, stop)
      case m: InMemoryTableScanExec => finalNodes(m.relation.cacheBuilder.cachedPlan, stop)
      case o => o.children.flatMap(finalNodes(_, stop))
    })

  private def outputs(p: SparkPlan, name: String): Boolean = p.output.exists(_.name == name)

  test("plan guard: the repetition rows cross one exchange, the stacker and the snapshot none") {
    // the fixture pass as perfbench composes it, with AQE on (the suite
    // session's default); the plan read is the snapshot write's final one
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val written = new AtomicReference[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand")) written.set(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val ctx2 = ctx.copy(caches = new SharedFrames.Scope)
    val dir = java.nio.file.Files.createTempDirectory("snapshot").toString
    spark.listenerManager.register(listener)
    try {
      // the reference list without its last step, the CSV table
      val processed = Stages.run(Fixtures.repetitions(spark), ctx2,
        Stages.referenceSteps.dropRight(1))
      Sinks.writeSnapshot(Stages.stacker(processed, ctx2), dir)
      eventually(timeout(30.seconds)) { assert(written.get != null) }
    } finally {
      spark.listenerManager.unregister(listener)
      ctx2.caches.release()
    }
    val plan = written.get.executedPlan
    val all = finalNodes(plan)
    def show = all.collect { case a: AdaptiveSparkPlanExec => a.executedPlan.toString }
      .mkString(plan.toString + "\n", "\n", "")

    // the thickness join broadcasts the background aggregate
    val bgJoins = all.collect {
      case j: BroadcastHashJoinExec
          if finalNodes(if (j.buildSide == BuildRight) j.right else j.left)
            .exists(n => n.isInstanceOf[BaseAggregateExec] && outputs(n, "bg_transmission")) => j
    }
    assert(bgJoins.size == 1, show)

    // the stacker aggregates the thickness cache in its own partitions
    val stackAgg = all.collectFirst {
      case a: BaseAggregateExec if outputs(a, "stacked_image_stats") => a
    }.getOrElse(fail(s"no stacker aggregate:\n$show"))
    val belowStacker = finalNodes(stackAgg, {
      case _: InMemoryTableScanExec | _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
      case _ => false
    })
    assert(belowStacker.exists(_.isInstanceOf[InMemoryTableScanExec]), show)
    assert(!belowStacker.exists(_.isInstanceOf[ShuffleExchangeLike]), show)

    // one shuffle carries the frames: the propagation window's on (ymd, batch)
    val wide = all.collect {
      case s: ShuffleExchangeLike if outputs(s.child, "sampleBeam") => s
    }.distinct
    assert(wide.size == 1, show)
    wide.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.collect { case a: Attribute => a.name } == Seq("ymd", "batch"), show)
      case other => fail(s"window shuffle partitioned by $other")
    }
  }
}
