package graft.pipeline

/** Typed data model for the SAXS repetition pipeline (SURVEY §1).
  *
  * One row = one repetition (the reference's unit of processing — a
  * `YMD_batch_repetition` directory, `/root/reference/src/YMD_class.py:33-44`).
  * Images travel as flattened row-major `Array[Float]` with explicit
  * height/width, which keeps them columnar in Parquet and avoids nested
  * array-of-array overhead (SURVEY §1.2).
  */
object Model {

  /** Physical quantity with units — the pint mapping (SURVEY §1.2):
    * `/root/reference/src/utilities.py:48-63`. */
  case class Quantity(value: Double, units: String)

  /** Core repetition record: keys + raw instrument reads. Derived fields are
    * added as columns by stages (schema-on-write per stage, mirroring
    * TranslationElement upserts S11). */
  case class Repetition(
      ymd: String,
      batch: Int,
      repetition: Int,
      configuration: Int,
      // direct-beam and beam-through-sample profile images (K2 input)
      directBeam: Array[Float],
      directH: Int,
      directW: Int,
      directFrameTime: Double,
      sampleBeam: Array[Float],
      sampleH: Int,
      sampleW: Int,
      sampleFrameTime: Double,
      darkcurrent: Double,
      averagedNumberOfFrames: Double,
      incidentWavelength: Quantity, // Angstrom
      detX: Quantity, // detector distance
      sampleX: Quantity, // sample offset
      modificationTime: java.sql.Timestamp)

  /** Logbook dimension row (broadcast join J1):
    * `/root/reference/src/processstep_metadata_update.py:109-316`. */
  case class LogbookEntry(
      ymd: String,
      batchnum: Int,
      proposal: String,
      user: String,
      sampleid: String,
      sampleName: String,
      composition: String,
      density: Double,
      samplethickness: Double, // meters; < 0 means "derive from absorption"
      bgymd: String, // background pointer ("" = none)
      bgnumber: Int,
      dbgymd: String, // dispersant background pointer ("" = 'None' sentinel)
      dbgnumber: Int,
      overallMu: Double, // absorption coefficient 1/m for K12
      matrixfraction: Double = 1.0) // matrix volume fraction (dilute -> 1.0)

  /** Mask-library dimension row (as-of join J2), parsed from
    * `Masks/{ymd}_{configuration}.nxs` stems
    * (`/root/reference/src/processstep_add_mask_file.py:44-61`). */
  case class MaskEntry(
      maskYmd: String,
      configuration: Int,
      mask: Array[Float],
      maskH: Int,
      maskW: Int,
      path: String)

  /** Output of the one beam kernel, K2–K6 on the direct frame: K6's dynamic
    * beam analysis (`processstep_calc_beam_flux_and_transmissions.py:24-145`)
    * and K4's beam `center` `[y, x]`, the intensity-weighted centroid of the
    * labelled main feature (`processstep_determine_beam_center.py`). `center`
    * is null when no beam is found: the reference raises there
    * (`utilities.py:165-166`), and a null `beam_center` routes the row to
    * the canStack quarantine, where NaN coordinates would pass its
    * `isNotNull` gate and poison the stacked statistics. */
  case class BeamAnalysis(
      comY: Double,
      comX: Double,
      sigmaMinor: Double,
      sigmaMajor: Double,
      theta: Double,
      kSigma: Double,
      achievedCoverage: Double,
      regionIntensity: Double,
      totalIntensity: Double,
      mask: Array[Float],
      center: Array[Double])
}
