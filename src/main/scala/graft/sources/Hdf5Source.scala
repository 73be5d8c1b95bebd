package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}
import graft.pipeline.TreeTable.TreeRow

/** S3–S6 end to end: distributed `.nxs`/`.h5` parsing into the long-format
  * tree table ([[graft.pipeline.TreeTable]]).
  *
  * `binaryFile` lists and reads the measurement tree with one task per file;
  * [[Hdf5.toTreeRows]] runs inside the executors, so a 100 TB corpus of
  * instrument files parallelizes by file count with no driver involvement.
  * The output feeds `TreeTable.translateOnto` through
  * `Ingest.repetitionsFromTree` (the translator steps are pass-throughs) —
  * the reference's `utilities.py` read semantics (missing path -> typed
  * default) happen relationally downstream, so a file missing a dataset
  * never fails the scan.
  *
  * Size bound: `binaryFile` materializes each file as one in-memory byte
  * array, capped by `spark.sql.sources.binaryFile.maxLength` (<= ~2 GB).
  * Fine for per-repetition master/processed files (MBs); multi-GB frame
  * STACKS must be reached through their (small) master file's external
  * links, not scanned wholesale through this source.
  */
object Hdf5Source {

  // binaryFile's fixed schema — streaming sources must state it explicitly
  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** The one shared parse chain: (path, content) -> TreeRows. Batch and
    * stream MUST run the identical transform or the stream/batch DAG-reuse
    * contract silently forks.
    *
    * External links resolve against SIBLING files of the referencing file
    * (the Eiger layout: `master.h5` + `data_00000N.h5` in one directory),
    * opened lazily on the EXECUTOR through the Hadoop filesystem — no
    * shuffle of raw bytes, no driver involvement, and a task only reads the
    * data files its own master actually links. The Hadoop conf rides a
    * broadcast so object-store credentials and settings reach every task. */
  private def parseFiles(files: DataFrame, lenient: Boolean): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val hconf = SerializableHadoopConf.broadcast(spark)
    files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        if (!lenient)
          Hdf5.toTreeRows(file, bytes, siblingResolver(file, hconf.value.value))
        else
          // survive-the-scan mode: one corrupt file out of millions must
          // not abort the job. The file stays VISIBLE as a single
          // error-marker row (quarantine-able downstream), never a
          // silent hole and never a task failure.
          try Hdf5.toTreeRows(file, bytes, siblingResolver(file, hconf.value.value))
          catch {
            case scala.util.control.NonFatal(e) =>
              Seq(TreeRow(file, "", None, None, None, None,
                Map("parse_error" ->
                  s"${e.getClass.getSimpleName}: ${e.getMessage}")))
          }
      }
      .toDF()
  }

  /** External-link resolver rooted at `refPath`'s directory: a target file
    * name (relative names resolve against the referencing file's parent,
    * like h5py/libhdf5) is fetched whole through the Hadoop filesystem.
    * Fetched bytes are memoized per referencing file so a master linking
    * the same data file many times reads it once.
    *
    * Degrade policy — a scan over millions of masters must survive one bad
    * sibling, so BOTH failure modes resolve to None and the parser's marker
    * node (path + target file riding in `attrs`, inspectable downstream,
    * never a silent hole): (a) the target file is missing (matches h5py's
    * per-link KeyError surface, relationally a typed default); (b) the
    * target exceeds `maxBytes` — the single-buffer JVM array bound. The
    * oversized case additionally logs a warning with the size, because the
    * data EXISTS and reading it needs the chunk-range path (reach the
    * stack through its master's layout rather than one whole-file buffer).
    * `maxBytes` is injectable for tests; production default is the array
    * limit. */
  def siblingResolver(refPath: String, conf: Configuration,
      maxBytes: Long = Int.MaxValue - 16): String => Option[Array[Byte]] = {
    val cache = mutable.Map.empty[String, Option[Array[Byte]]]
    target =>
      cache.getOrElseUpdate(target, {
        try {
          val t = new Path(target)
          val full =
            if (t.isAbsolute) t else new Path(new Path(refPath).getParent, target)
          val fs = full.getFileSystem(conf)
          if (!fs.exists(full)) None
          else {
            val len = fs.getFileStatus(full).getLen
            if (len > maxBytes) {
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"external link target $full is $len bytes (> $maxBytes); " +
                  "degrading to a marker node — read oversized stacks via " +
                  "a chunk-range scan of the master's layout")
              None
            } else {
              val in = fs.open(full)
              try {
                val buf = new Array[Byte](len.toInt)
                in.readFully(0L, buf)
                Some(buf)
              } finally in.close()
            }
          }
        } catch {
          case _: java.io.FileNotFoundException => None
        }
      })
  }

  /** Parse every matching file under `path` into TreeRows. `lenient`
    * converts per-file parse failures into one error-marker row
    * (`path=""`, `attrs("parse_error")`) instead of failing the scan —
    * the right default for a first pass over an uncurated corpus; strict
    * (default) keeps loud failure for curated instrument trees. */
  def treeTable(spark: SparkSession, path: String, glob: String = "*.h5",
      lenient: Boolean = false): DataFrame =
    parseFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path), lenient)

  /** Streaming variant (§2.9): new `.h5`/`.nxs` files appearing under
    * `path` arrive as micro-batches of TreeRows — the same per-file parse as
    * [[treeTable]], so the batch pipeline stages run unchanged downstream
    * (stream/batch DAG reuse). Pair with the [[graft.streaming.Watcher]]
    * completeness gate for the reference's poll-until-stable semantics. */
  def treeStream(spark: SparkSession, path: String, glob: String = "*.h5",
      lenient: Boolean = false): DataFrame =
    parseFiles(spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .schema(binaryFileSchema)
      .load(path), lenient)

  /** Parse one in-memory file (testing / driver-side spot reads). */
  def parse(file: String, bytes: Array[Byte]): Seq[TreeRow] =
    Hdf5.toTreeRows(file, bytes)
}
