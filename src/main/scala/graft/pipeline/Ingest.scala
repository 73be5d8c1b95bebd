package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.RepetitionScan
import TreeTable.MappingRule

/** From-bytes ingest: the long-format tree table of a measurement
  * directory scan ([[graft.sources.Hdf5Source.treeTable]]) assembled into
  * the typed repetition frame the 15-step pipeline consumes — the read
  * side the reference performs file-by-file through h5py
  * (`/root/reference/src/utilities.py:11-63,112-134`), expressed as one
  * relational translation (K20) so it distributes by file count.
  */
object Ingest {

  /** The reference's processed-file read paths, one `MappingRule` each:
    * configuration (`utilities.py:99-109`), frame times / darkcurrent /
    * frame count (`processstep_calc_beam_flux_and_transmissions.py:
    * 169-176`, `processstep_average_to_counts.py:47`), wavelength
    * (`processstep_metadata_update.py:57-58`), the detector/sample
    * transformations (`processstep_make_beam_mask.py:66-68`), and the
    * direct/sample beam frames with their dims. Units ride along as
    * stored; the consuming stages convert (§1.2). */
  val repetitionRules: Seq[MappingRule] = Seq(
    MappingRule("/entry1/instrument/configuration", "configuration", "i32"),
    MappingRule("/entry1/processing/direct_beam_profile/frame_time",
      "directFrameTime", "f64"),
    MappingRule("/entry1/processing/sample_beam_profile/frame_time",
      "sampleFrameTime", "f64"),
    MappingRule("/entry1/instrument/detector00/darkcurrent",
      "darkcurrent", "f64"),
    MappingRule("/entry1/instrument/detector00/averaged_number_of_frames",
      "averagedNumberOfFrames", "f64"),
    MappingRule("/entry1/sample/beam/incident_wavelength",
      "incidentWavelength", "quantity"),
    MappingRule("/entry1/instrument/detector00/transformations/det_x",
      "detX", "quantity"),
    MappingRule("/entry1/sample/transformations/sample_x",
      "sampleX", "quantity")) ++
    beamFrame("direct") ++ beamFrame("sample")

  /** `<which>Beam` / `<which>H` / `<which>W` from one beam-profile frame. */
  private def beamFrame(which: String): Seq[MappingRule] = {
    val path = s"/entry1/processing/${which}_beam_profile/data"
    Seq(MappingRule(path, s"${which}Beam", "image"),
      MappingRule(path, s"${which}H", "image_h"),
      MappingRule(path, s"${which}W", "image_w"))
  }

  /** (ymd, batch, repetition) keys from the repetition DIRECTORY name —
    * `YMD_class.extract_metadata_from_path` (`src/YMD_class.py:33-44`)
    * relationally, through the scan's projection
    * [[RepetitionScan.withRepetitionKeys]]: only files directly inside a
    * `YYYYMMDD_batch_repetition` directory are repetition files. Files
    * outside that naming are dropped (the scan may see strays; the
    * reference's walker never selects them). */
  def repetitionKeys(files: DataFrame): DataFrame =
    files.transform(RepetitionScan.withRepetitionKeys)
      .filter(!col("relPath").contains("/"))
      .select(col("path").as("file"), col("modificationTime"),
        col("ymd"), col("batch"), col("repetition"))

  /** Tree table -> typed repetition frame ([[Model.Repetition]] shape):
    * [[TreeTable.translateOnto]] of [[repetitionRules]] onto the keys: the
    * translator passes of the reference (K19 coercion, typed defaults, null
    * images gating the steps) in one pass of the tree. */
  def repetitionsFromTree(tree: DataFrame, keys: DataFrame): DataFrame =
    TreeTable.translateOnto(tree, keys, repetitionRules)
}
