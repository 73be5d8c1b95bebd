package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingestion boundary (SURVEY §2.1 S1/S2/S7/S8): scan a measurement
  * filesystem tree into the file-group tables everything downstream consumes.
  *
  * `spark.read.format("binaryFile")` lists and reads the tree distributed;
  * `(ymd, batch, repetition)` keys come from the directory-name convention
  * (`/root/reference/src/YMD_class.py:33-44`), the readiness predicate is the
  * 4-condition file-count gate (`src/checkers.py:19-46`).
  *
  * The HDF5 byte-parse step lives behind this boundary: `repetitionFiles`
  * returns (key columns, relPath, bytes, mtime); [[Hdf5Source.treeTable]]
  * (the pure-JVM [[Hdf5]] reader) converts `.nxs/.h5` bytes into the
  * long-format tree table, and `Ingest.repetitionsFromTree` (one
  * `TreeTable.translateOnto` over the ingest rules) produces the typed
  * repetition columns from it. All downstream stages consume the
  * already-typed Model.Repetition schema.
  */
object RepetitionScan {

  /** `{ymd}_{batch}_{repetition}` directory-name grammar (`YMD_class.py:
    * 33-44`) — the only one: the batch scan, `Ingest.repetitionKeys` and the
    * streaming watcher all go through [[withRepetitionKeys]], so batch,
    * ingest and stream can never disagree on path parsing. It matches the
    * nearest enclosing directory that is a whole path component — `/` on
    * both sides, so neither `x20240115_1_2/` nor `20240115_1_2_old/` is a
    * repetition directory — and the path below it. Groups: 1 directory
    * name, 2 ymd, 3 batch, 4 repetition, 5 relPath. */
  private val repPathPattern = "^.*/((\\d{8})_(\\d+)_(\\d+))/(.*)$"

  /** Path -> repetition projection of a file listing: adds `repDir` (the
    * directory name), `ymd`, `batch`, `repetition` and `relPath` (the path
    * below the directory, nested or not) from its `path` column, and drops
    * files outside every repetition directory. */
  def withRepetitionKeys(files: DataFrame): DataFrame = {
    def group(i: Int) = regexp_extract(col("path"), repPathPattern, i)
    // filter before the casts: under ANSI mode '' does not cast to int
    files
      .withColumn("repDir", group(1))
      .filter(col("repDir") =!= "")
      .withColumn("ymd", group(2))
      .withColumn("batch", group(3).cast("int"))
      .withColumn("repetition", group(4).cast("int"))
      .withColumn("relPath", group(5))
  }

  /** The 4 required-file patterns (`checkers.py:15-16,19-46`) — one
    * definition for the batch gate (rlike) and the streaming gate (Regex). */
  object RequiredFiles {
    val eigerSub = "^(beam_profile|beam_profile_through_sample)/eiger_\\d+_master\\.h5$"
    val crawSub = "^(beam_profile|beam_profile_through_sample)/im_craw\\.nxs$"
    val eigerTop = "^eiger_\\d+_master\\.h5$"
    val crawTop = "^im_craw\\.nxs$"
  }

  /** One row per file under repetition directories, keyed by
    * (ymd, batch, repetition). Metadata-only scans prune the content column
    * at the parquet/binaryFile source. */
  def repetitionFiles(spark: SparkSession, dataRoot: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dataRoot)
      .transform(withRepetitionKeys)
      .drop("repDir")

  /** S2/F1: the 4-condition readiness gate as a relational filter — returns
    * one row per ready repetition directory. */
  def readyRepetitions(files: DataFrame): DataFrame =
    files.groupBy(col("ymd"), col("batch"), col("repetition"))
      .agg(
        count(when(col("relPath").rlike(RequiredFiles.eigerSub), 1)).as("n_eiger_sub"),
        count(when(col("relPath").rlike(RequiredFiles.crawSub), 1)).as("n_craw_sub"),
        count(when(col("relPath").rlike(RequiredFiles.eigerTop), 1)).as("n_eiger_top"),
        count(when(col("relPath").rlike(RequiredFiles.crawTop), 1)).as("n_craw_top"),
        max(col("modificationTime")).as("newest_mtime"))
      .filter(col("n_eiger_sub") >= 2 && col("n_craw_sub") >= 2 &&
        col("n_eiger_top") >= 1 && col("n_craw_top") >= 1)

  /** F3: drop repetitions already present in a processed snapshot
    * (left_anti, the `already_processed` check of `src/checkers.py:5-13`). */
  def notYetProcessed(ready: DataFrame, processed: DataFrame): DataFrame =
    ready.join(processed.select("ymd", "batch", "repetition"),
      Seq("ymd", "batch", "repetition"), "left_anti")

  /** S8: parse a mask library listing `Masks/{ymd}_{configuration}.nxs`
    * into the as-of join dimension (`processstep_add_mask_file.py:44-61`). */
  def maskLibrary(files: DataFrame): DataFrame =
    files
      .withColumn("stem", regexp_extract(col("path"), "([^/]+)\\.nxs$", 1))
      .filter(col("stem").rlike("^\\d{8}_\\d+$"))
      .select(
        regexp_extract(col("stem"), "^(\\d{8})_", 1).as("maskYmd"),
        regexp_extract(col("stem"), "_(\\d+)$", 1).cast("int").as("configuration"),
        col("path"))
}
