package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SharedFrames

/** The reference pipeline's process steps as a registry of composable
  * DataFrame transforms (SURVEY §2.10: step plugin contract ->
  * `Map[String, Stage]` + `Dataset.transform`).
  *
  * Execution model translation (SURVEY §3.1): the reference's ordered
  * step-name list becomes a fold over this registry; Catalyst pipelines all
  * stages into fused codegen stages — the per-image kernels included, as
  * the native expressions of [[ImageExprs]] — and cross-row steps (joins,
  * windows, stacking) are the only shuffles. Each step's `can_run`
  * precondition is encoded as null-gating or a filter inside the stage.
  *
  * Scale posture: logbook and mask dims are broadcast (J1/J2), and so is
  * the per-collection background aggregate of the thickness step; the
  * propagation step is a window (A7 — no re-grouping shuffle), and on the
  * reference step list its shuffle on (ymd, batch) is the only exchange
  * the repetition rows cross: thickness keeps that layout, so stacking — a
  * groupBy with a mergeable per-pixel aggregator (no collect_list of
  * images) — and the snapshot write run in the window's partitions;
  * everything else is row-local.
  */
object Stages {

  /** Pipeline context: dimension tables + instrument constants
    * (`MOUSE_settings.yaml` equivalents). `caches` holds the frames stages
    * persist — stages are lazy transforms, so they can never unpersist
    * themselves without losing the cache before it is read; the driver
    * calls `caches.release()` after materializing the pipeline output. */
  case class Context(
      logbook: DataFrame,
      masks: DataFrame,
      refBeamDiameterPx: Double = 10.0,
      refDistanceM: Double = 1.0,
      hcKevAngstrom: Double = 12.398419843320026,
      caches: SharedFrames.Scope = new SharedFrames.Scope)

  type Stage = (DataFrame, Context) => DataFrame

  /** The logbook composition parser — the pipeline's only row UDF. */
  private[pipeline] val CompositionUdfName = "composition_parse"
  private val compositionUdf =
    udf { (formula: String) => Composition.parse(formula).map(_.toArray).orNull }
      .withName(CompositionUdfName)

  // ------------------------------------------------------------------ steps

  /** J1 + K11 + K17: logbook broadcast join, energy, identifiers
    * (`processstep_metadata_update.py`). 'None'/'' dispersant sentinel ->
    * null key (J4). The wavelength goes through the translator's unit
    * table into angstrom; unknown or null units give a null energy (the
    * NaN test is needed: Spark orders NaN above every number, so NaN > 0). */
  val metadataUpdate: Stage = (df, ctx) => {
    val lb = ctx.logbook.withColumnRenamed("ymd", "lb_ymd")
    val angstrom = TreeTable.inUnits(col("incidentWavelength.value"),
      col("incidentWavelength.units"), "angstrom")
    df.join(broadcast(lb),
        df("ymd") === lb("lb_ymd") && df("batch") === lb("batchnum"), "left")
      .drop("lb_ymd", "batchnum")
      .withColumn("energy_kev",
        when(angstrom > 0 && !isnan(angstrom), lit(ctx.hcKevAngstrom) / angstrom))
      .withColumn("collection_identifier",
        concat(col("ymd"), lit("_"), col("batch")))
      .withColumn("background_identifier",
        when(col("bgymd").isNotNull && col("bgymd") =!= "",
          concat(col("bgymd"), lit("_"), col("bgnumber"))))
      .withColumn("dispersant_background_identifier",
        when(col("dbgymd").isNotNull && col("dbgymd") =!= "" && col("dbgymd") =!= "None",
          concat(col("dbgymd"), lit("_"), col("dbgnumber"))))
      // typed sample components from the logbook's composition formula
      // (logbook2mouse sample modeling; null when blank/unparseable)
      .transform(d =>
        if (d.columns.contains("composition"))
          d.withColumn("composition_components", compositionUdf(col("composition")))
        else d)
  }

  /** J2 + J5: backward as-of mask selection per configuration, carrying the
    * mask payload (`processstep_add_mask_file.py:34-81,99-129`).
    *
    * The mask library becomes validity intervals `[mask_date, next
    * mask_date)` per configuration, broadcast and range-joined, so the
    * repetition frame keeps its partitioning — a window over the union
    * would put every repetition of a configuration in one task. Result
    * equals `AsOfJoin.backward` keyed on configuration with `mask_path` as
    * tie-break: a dated-before-or-on mask matches, the greatest `mask_path`
    * wins a date tie, configurations match null-safe, undated masks are
    * dropped, each row gets at most one mask (null payload if none), and
    * the columns come out as `configuration`, the other input columns, then
    * the mask payload.
    *
    * Ties need no extra pass: ordered by (date, path), every mask but the
    * last of its date gets the empty interval `[date, date)`. */
  val addMaskFile: Stage = (df, ctx) => {
    val masks = ctx.masks.select(
        col("configuration").as("__mask_config"),
        to_date(col("maskYmd"), "yyyyMMdd").as("mask_date"),
        col("mask"), col("maskH"), col("maskW"), col("path").as("mask_path"))
      .filter(col("mask_date").isNotNull)
    val byDateAndPath = Window.partitionBy(col("__mask_config"))
      .orderBy(col("mask_date"), col("mask_path"))
    val intervals = masks
      .withColumn("__valid_to", lead(col("mask_date"), 1).over(byDateAndPath))
    val measDate = to_date(col("ymd"), "yyyyMMdd")
    val payload = Seq("mask_date", "mask", "maskH", "maskW", "mask_path")
    df.join(broadcast(intervals),
        col("configuration") <=> col("__mask_config") &&
          measDate >= col("mask_date") &&
          (col("__valid_to").isNull || measDate < col("__valid_to")),
        "left")
      .select((col("configuration") +:
        df.columns.toSeq.filter(_ != "configuration").map(col)) ++
        payload.map(col): _*)
  }

  /** K2–K4: beam center of the direct-beam profile
    * (`processstep_determine_beam_center.py`). F2 gate: needs directBeam. */
  val determineBeamCenter: Stage = (df, _) =>
    df.withColumn("beam_center",
      when(col("directBeam").isNotNull,
        ImageExprs.beamCentroid(col("directBeam"), col("directH"), col("directW"))))

  /** K5: the circular beam mask's geometry, radius scaled by distance
    * (`processstep_make_beam_mask.py:19-35,85-90`); the distance goes
    * through the translator's unit table (§1.2), unknown units -> NaN. The
    * step emits scalars only: the flux step tests the circle around
    * `beam_center` per pixel, so no mask image is built. */
  val makeBeamMask: Stage = (df, ctx) => {
    def meters(q: String) = TreeTable.inUnits(col(s"$q.value"), col(s"$q.units"), "m")
    val distance = meters("detX") - meters("sampleX")
    df.withColumn("beam_center_distance_m", distance)
      .withColumn("beam_mask_radius",
        lit(ctx.refBeamDiameterPx / 2.0) * col("beam_center_distance_m") / lit(ctx.refDistanceM))
  }

  /** K6–K10: flux images, dynamic beam analysis, transmissions, scattering
    * probability (`processstep_calc_beam_flux_and_transmissions.py:207-225`).
    *
    * Reference semantics, exactly: `DirectFlux`/`SampleFlux` are the sums
    * UNDER the circular distance-scaled beam mask (K5, `BeamMaskPath`: radius
    * `beam_mask_radius` around `beam_center`, on the direct frame's grid);
    * `*_flux_over_image` are the WHOLE-image sums; `Transmission` is the
    * masked ratio, `ImageTransmission` the whole-image ratio, and their
    * quotient is the correction factor (>= 1 for scattering samples). The
    * scattering-probability estimate compares the raw sample image's total
    * intensity with its intensity under the direct beam's TIGHT 0.997-
    * coverage dynamic-analysis mask. All image kernels are null-gated (F2):
    * a repetition missing an image flows to the canStack quarantine
    * instead of failing the task. So does one whose beam distance is NaN
    * (a unit outside the table): Spark orders NaN above every number, so
    * `> 0` alone would pass it, and its empty circle would make
    * `direct_flux` 0 and the transmission a division by zero.
    *
    * The four flux sums read the raw frames and form each flux pixel
    * `(float)(v / t - dark)` on the fly (K7 + K8 fused), so no flux image
    * is materialized; the per-pixel rounding is the same, so are the sums.
    * The two beam sums test the circle per pixel (K5 fused), so no mask
    * image is built either. The tight mask leaves `direct_analysis` once the
    * scattering probability has read it: no mask image outlives the step. */
  val calcFluxAndTransmissions: Stage = (df, _) => {
    val dark = col("darkcurrent")
    def fluxOverImage(img: String, time: String): Column =
      when(col(img).isNotNull && col(time).isNotNull,
        ImageExprs.fluxSum(col(img), col(time), dark))
    def beamFlux(img: String, time: String): Column =
      when(col(img).isNotNull && col(time).isNotNull &&
          col("beam_center").isNotNull && col("beam_center_distance_m") > 0 &&
          !isnan(col("beam_center_distance_m")),
        ImageExprs.circleFluxSum(col(img), col(time), dark, col("directH"), col("directW"),
          col("beam_center")(0), col("beam_center")(1), col("beam_mask_radius")))
    df
      // tight-mask analysis runs on the RAW direct image, as the reference's
      // dynamic_beam_analysis(DirectBeamData) does
      .withColumn("direct_analysis",
        when(col("directBeam").isNotNull,
          ImageExprs.beamAnalysis(col("directBeam"), col("directH"), col("directW"))))
      // whole-image flux sums (reference *FluxOverImage)
      .withColumn("direct_flux_over_image", fluxOverImage("directBeam", "directFrameTime"))
      .withColumn("sample_flux_over_image", fluxOverImage("sampleBeam", "sampleFrameTime"))
      // beam-masked flux sums (reference DirectFlux/SampleFlux) inside the
      // circle of makeBeamMask's radius — NOT the tight ellipse
      .withColumn("direct_flux", beamFlux("directBeam", "directFrameTime"))
      .withColumn("sample_flux", beamFlux("sampleBeam", "sampleFrameTime"))
      // K9: transmissions + correction factor
      .withColumn("transmission_image",
        col("sample_flux_over_image") / col("direct_flux_over_image"))
      .withColumn("transmission", col("sample_flux") / col("direct_flux"))
      .withColumn("transmission_correction_factor",
        col("transmission_image") / col("transmission"))
      // K10: scattering probability — raw sample intensity outside the
      // tight direct-beam region, as a fraction of the total
      .withColumn("__sample_total",
        when(col("sampleBeam").isNotNull, ImageExprs.nanSum(col("sampleBeam"))))
      .withColumn("__sample_tight",
        when(col("sampleBeam").isNotNull && col("direct_analysis").isNotNull,
          ImageExprs.maskedNanSum(col("sampleBeam"), col("direct_analysis.mask"))))
      .withColumn("scattering_probability_estimate",
        (col("__sample_total") - col("__sample_tight")) / col("__sample_total"))
      .withColumn("direct_analysis", col("direct_analysis").dropFields("mask"))
      .withColumn("sigma_minor", col("direct_analysis.sigmaMinor"))
      .withColumn("sigma_major", col("direct_analysis.sigmaMajor"))
      .withColumn("beam_theta", col("direct_analysis.theta"))
      .drop("__sample_total", "__sample_tight")
  }

  /** J3 + K12–K14: background link on (background_identifier, configuration)
    * against the per-collection aggregate, bg-corrected absorption,
    * thickness with guards and the logbook-wins selection
    * (`processstep_thickness_from_absorption.py:36-52,90-108,167-202`). */
  val thicknessFromAbsorption: Stage = (df, ctx) => {
    // bgStats branches off `df` itself — persist the frame so the upstream
    // plan (including the image kernels) evaluates ONCE: the aggregate
    // stage fills the cache, the probe side of the join reads it back.
    // Held in ctx.caches: the driver calls ctx.caches.release() after its
    // action, so long-lived sessions don't accumulate cache entries.
    // bgStats is broadcast: it has one narrow row per (collection,
    // configuration), the logbook's cardinality, which metadata_update
    // already broadcasts (J1), so the hint adds no size limit the pass does
    // not already have. The wide persisted rows stay on the probe side in
    // the partitions they arrived in: after the propagation window those
    // are (ymd, batch), so the stacker and the snapshot write need no
    // further exchange. Left to AQE, both join sides would be shuffled,
    // because both map stages are submitted before it sees bgStats' size.
    val input = ctx.caches.persist(df)
    val bgStats = input.groupBy(
        col("collection_identifier").as("bg_id"),
        col("configuration").as("bg_config"))
      .agg(avg(col("transmission")).as("bg_transmission"))
    val joined = input.join(broadcast(bgStats),
      col("background_identifier") === col("bg_id") &&
        col("configuration") === col("bg_config"), "left")
      .drop("bg_id", "bg_config")
    val sameBatch = col("background_identifier") === col("collection_identifier")
    val tSample = when(sameBatch || col("bg_transmission").isNull, col("transmission"))
      .otherwise(col("transmission") / col("bg_transmission"))
    val a = lit(1.0) - tSample
    // calculate_thickness (processstep_thickness_from_absorption.py:36-53):
    // -1 only for a == 0 or |a| > 1; NEGATIVE a in (-1, 0) — noise on very
    // high transmissions — deliberately yields a small NEGATIVE thickness
    // "so that the average for multiple repetitions is not biased". The
    // reference's step aborts without writing when mu <= 0 -> null here.
    val absA = abs(a)
    val derived = when(col("overallMu").isNull || col("overallMu") <= 0, lit(null))
      .when(absA === 0 || absA > 1, lit(-1.0))
      .otherwise(-signum(a) * log(lit(1.0) - absA) / col("overallMu"))
    joined
      .withColumn("transmission_sample", tSample)
      .withColumn("absorption_by_sample", a)
      .withColumn("absorption_derived_thickness", derived)
      .withColumn("thickness",
        when(col("samplethickness").isNotNull && col("samplethickness") >= 0,
          col("samplethickness")).otherwise(derived))
  }

  /** A7/A8/F4: per-batch max propagation of correction factor and scattering
    * probability (`processstep_transmission_correction_factor_propagator.py`).
    * Window, not groupBy — values land on every row without a re-join. */
  val propagateCorrectionFactors: Stage = (df, _) => {
    val w = Window.partitionBy(col("ymd"), col("batch"))
    df.withColumn("largest_transmission_correction_factor",
        max(when(col("transmission_correction_factor") =!= 0.0,
          col("transmission_correction_factor"))).over(w))
      .withColumn("largest_scattering_probability_estimate",
        max(col("scattering_probability_estimate")).over(w))
      .withColumn("is_lowest_repetition",
        col("repetition") === min(col("repetition")).over(w))
  }

  /** K16: apply the propagated factor only when > 1, keeping the original as
    * transmission_beam (`processstep_apply_transmission_correction_factor.py:46-76`). */
  val applyCorrectionFactor: Stage = (df, _) =>
    df.withColumn("transmission_beam", col("transmission"))
      .withColumn("transmission",
        when(col("largest_transmission_correction_factor") > 1,
          col("transmission") * col("largest_transmission_correction_factor"))
          .otherwise(col("transmission")))

  /** K15 + F6 + S12: rescale averaged frames back to counts, guarded on
    * n_frames != 0 (`processstep_average_to_counts.py:47-73`). Each pixel
    * becomes `(float)(v * n)` in one native loop; null pixels stay null. */
  val averageToCounts: Stage = (df, _) => {
    def rescale(c: Column): Column =
      when(col("averagedNumberOfFrames").isNull || col("averagedNumberOfFrames") === 0, c)
        .otherwise(ImageExprs.rescale(c, col("averagedNumberOfFrames")))
    df.withColumn("sampleBeam", rescale(col("sampleBeam")))
      .withColumn("directBeam", rescale(col("directBeam")))
  }

  /** F7 + S15: stackability validation; rows failing the required-dataset
    * checklist split off to a quarantine frame
    * (`post_translation_operation_hdf5_stacker.py:26-78,100-110`). */
  def canStack: Column =
    col("sampleBeam").isNotNull && col("transmission").isNotNull &&
      col("beam_center").isNotNull && col("mask").isNotNull

  /** A1–A4: the stacker. Groups on (ymd, batch, configuration): after the
    * propagation window the input is already clustered on (ymd, batch), so
    * the partial and final aggregates run in one stage with no exchange;
    * without a window upstream the groupBy adds its own shuffle. Per-pixel
    * stats via the mergeable ArrayStats aggregator; scalar stats
    * via built-ins (stddev_samp = ddof 1); non-stacked fields copied from the
    * lowest repetition (first-as-template)
    * (`post_translation_operation_hdf5_stacker.py:120-246`). */
  val stacker: Stage = (df, _) => {
    val stackUdaf = udaf(new ArrayStats.ArrayStatsAggregator())
    df.filter(canStack)
      .groupBy(col("ymd"), col("batch"), col("configuration"))
      .agg(
        count(lit(1)).as("n_repetitions"),
        sort_array(collect_list(col("repetition"))).as("repetitions"),
        stackUdaf(col("sampleBeam")).as("stacked_image_stats"),
        avg(col("transmission")).as("mean_transmission"),
        stddev_samp(col("transmission")).as("std_transmission"),
        (stddev_samp(col("transmission")) / sqrt(count(lit(1)))).as("sem_transmission"),
        avg(col("thickness")).as("mean_thickness"),
        stddev_samp(col("thickness")).as("std_thickness"),
        avg(col("direct_flux")).as("mean_direct_flux"),
        min_by(col("beam_center"), col("repetition")).as("template_beam_center"),
        min_by(col("mask_path"), col("repetition")).as("template_mask_path"))
  }

  /** K20 / S3–S6: the two translator passes
    * (`processstep_translator_step_1.py:24-45`,
    * `processstep_translator_step_2.py` — HDF5Translator with the
    * instrument YAML configs). Translation happens before the steps run:
    * [[Ingest.repetitionsFromTree]] folds the mapping rules over the tree
    * table ([[TreeTable.translateOnto]]) into the repetition frame the steps
    * take, so both steps return their input frame itself, kept for
    * step-list parity like [[cleanupFiles]]. */
  val translatorStep: Stage = (df, _) => df

  /** Background-file linkage (`processstep_add_background_files.py:66-78`):
    * resolve each background identifier to the stacked file's path relative
    * to the repetition directory `data_dir/<yyyy>/<ymd>/<ymd>_<batch>_<rep>`,
    * normalized the way `Path.relative_to(input_file.parent, walk_up=True)`
    * normalizes — shared year/date prefixes drop out:
    *   same date  -> `../MOUSE_<id>_<config>_stacked.nxs`
    *   same year  -> `../../<bgymd>/MOUSE_..._stacked.nxs`
    *   otherwise  -> `../../../<bgyyyy>/<bgymd>/MOUSE_..._stacked.nxs`
    * The 'None'/missing sentinel becomes '' exactly as the reference writes. */
  val addBackgroundFiles: Stage = (df, _) => {
    def stackedPath(id: Column): Column = {
      val bgYear = substring(id, 1, 4)
      val bgDate = substring(id, 1, 8)
      val fname = concat(lit("MOUSE_"), id, lit("_"), col("configuration"),
        lit("_stacked.nxs"))
      when(id.isNotNull && id =!= "" && id =!= "None",
        when(bgDate === col("ymd"), concat(lit("../"), fname))
          .when(bgYear === substring(col("ymd"), 1, 4),
            concat(lit("../../"), bgDate, lit("/"), fname))
          .otherwise(concat(lit("../../../"), bgYear, lit("/"), bgDate, lit("/"), fname)))
        .otherwise(lit(""))
    }
    df.withColumn("background_file", stackedPath(col("background_identifier")))
      .withColumn("dispersed_background_file",
        stackedPath(col("dispersant_background_identifier")))
  }

  /** Beam-shape info (`processstep_calc_beam_shape_info.py:31-56`): sigma
    * minor/major and theta of the direct-beam profile. The flux step already
    * emits these as a by-product of its beam analysis; run standalone, the
    * stage computes them from the direct beam without the flux machinery. */
  val calcBeamShapeInfo: Stage = (df, _) =>
    if (df.columns.contains("sigma_minor")) df
    else df
      .withColumn("__shape",
        when(col("directBeam").isNotNull,
          ImageExprs.beamAnalysis(col("directBeam"), col("directH"), col("directW"))))
      .withColumn("sigma_minor", col("__shape.sigmaMinor"))
      .withColumn("sigma_major", col("__shape.sigmaMajor"))
      .withColumn("beam_theta", col("__shape.theta"))
      .drop("__shape")

  /** S16 (`processstep_cleanup_files.py:20-40`): the reference deletes its
    * step-1 intermediate `.nxs`; this engine never materializes one (the
    * whole chain is one lazy plan), so the step is an explicit no-op kept
    * for step-list parity. */
  val cleanupFiles: Stage = (df, _) => df

  /** S13: the per-repetition summary row for the CSV append sink
    * (`processstep_transmission_thickness_flux_table.py:57-89`). */
  val fluxThicknessTable: Stage = (df, _) =>
    df.select(
      col("ymd"), col("batch"), col("repetition"), col("configuration"),
      col("collection_identifier"), col("sampleid"),
      col("direct_flux"), col("sample_flux"),
      col("transmission"), col("transmission_beam"),
      col("largest_transmission_correction_factor"),
      col("scattering_probability_estimate"),
      col("thickness"), col("energy_kev"))

  /** Step registry mirroring the reference's `--steps` names
    * (`directory_processor_multibatch_nostack.sh:18-33`). */
  val registry: Map[String, Stage] = Map(
    "translator_step_1" -> translatorStep,
    "translator_step_2" -> translatorStep,
    "add_background_files" -> addBackgroundFiles,
    "calc_beam_shape_info" -> calcBeamShapeInfo,
    "cleanup_files" -> cleanupFiles,
    "metadata_update" -> metadataUpdate,
    "add_mask_file" -> addMaskFile,
    "determine_beam_center" -> determineBeamCenter,
    "make_beam_mask" -> makeBeamMask,
    "calc_beam_flux_and_transmissions" -> calcFluxAndTransmissions,
    "thickness_from_absorption" -> thicknessFromAbsorption,
    "transmission_correction_factor_propagator" -> propagateCorrectionFactors,
    "apply_transmission_correction_factor" -> applyCorrectionFactor,
    "average_to_counts" -> averageToCounts,
    "stacker" -> stacker,
    "transmission_thickness_flux_table" -> fluxThicknessTable)

  /** Canonical full-processing order (minus sinks) — the reference's
    * relative order (`directory_processor_multibatch_nostack.sh:18-33`):
    * counts rescaling BEFORE flux math (dark subtraction is not invariant
    * under per-frame averaging), thickness AFTER the correction factor has
    * been applied to the transmission. */
  val defaultSteps: Seq[String] = Seq(
    "average_to_counts", "metadata_update", "add_mask_file",
    "determine_beam_center", "make_beam_mask",
    "calc_beam_flux_and_transmissions",
    "transmission_correction_factor_propagator",
    "apply_transmission_correction_factor", "thickness_from_absorption")

  /** The reference's verbatim 15-step production list
    * (`directory_processor_multibatch_nostack.sh:18-33`), accepted as-is. */
  val referenceSteps: Seq[String] = Seq(
    "processstep_translator_step_1",
    "processstep_translator_step_2",
    "processstep_average_to_counts",
    "processstep_cleanup_files",
    "processstep_add_mask_file",
    "processstep_metadata_update",
    "processstep_determine_beam_center",
    "processstep_make_beam_mask",
    "processstep_calc_beam_flux_and_transmissions",
    "processstep_calc_beam_shape_info",
    "processstep_add_background_files",
    "processstep_transmission_correction_factor_propagator",
    "processstep_apply_transmission_correction_factor",
    "processstep_thickness_from_absorption",
    "processstep_transmission_thickness_flux_table")

  /** Look up a step by either the short name or the reference's
    * `processstep_`-prefixed form, with a did-you-mean error. */
  def stage(name: String): Stage = {
    val key = name.stripPrefix("processstep_")
    registry.getOrElse(key, throw new NoSuchElementException(
      s"unknown step '$name'; known: ${registry.keys.toSeq.sorted.mkString(", ")}"))
  }

  /** Fold the ordered step list over the repetition frame — the reference's
    * `process_batch` loop as one lazy Catalyst plan (SURVEY §3.1). */
  def run(df: DataFrame, ctx: Context, steps: Seq[String] = defaultSteps): DataFrame =
    steps.foldLeft(df)((d, name) => stage(name)(d, ctx))
}
