package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.{Hdf5Source, RepetitionScan}

/** Streaming translation of the reference's filesystem watcher
  * (`/root/reference/src/watcher.py`, SURVEY §2.9 / §3.3):
  *
  * - watchdog `on_created` events        -> a stream of [[FileEvent]]s
  *   (production: `readStream.format("binaryFile")` over the data root;
  *   tests: MemoryStream)
  * - poll-until-stable loop (10 s / 660 s) -> stateful completeness gate:
  *   a repetition directory is emitted once its 4 required files are present
  *   (`src/checkers.py:19-46`), or flagged as timed out after the
  *   stabilization window (`src/watcher.py:38-61`)
  * - idempotence / already-processed skip -> checkpointing + downstream
  *   left_anti join (F3)
  *
  * The gate is the one genuinely stateful op of the reference (SURVEY §7.4
  * item 6); everything downstream reuses the batch stage registry via
  * `foreachBatch`.
  */
object Watcher {

  /** One created file, keyed by its repetition directory. */
  case class FileEvent(repDir: String, relPath: String, ts: Timestamp)

  /** Gate verdict: complete set of required files, or gave up. */
  case class RepetitionReady(
      repDir: String,
      nFiles: Int,
      complete: Boolean, // false = timed out incomplete
      firstSeen: Timestamp,
      decidedAt: Timestamp)

  // State must be a PUBLIC case class with Array (not Set) members: the
  // product encoder's generated code cannot access private accessors and
  // cannot codegen Scala Sets. `firstWallMs` anchors the hard timeout
  // window (processing-time clock — event ts may be historic); `done`
  // tombstones a completed dir so trailing files (eiger data files ALWAYS
  // arrive after the master) cannot re-open it.
  case class GateState(
      files: Array[String], firstSeenMs: Long, firstWallMs: Long, done: Boolean)

  /** The 4 required-file conditions of `checkers.py:15-16,19-46`, pattern
    * strings shared with the batch gate ([[RepetitionScan.RequiredFiles]]).
    * DELIBERATE deviation from the reference: counts are `>=`, not the
    * reference's exact `==` — a streaming gate needs a MONOTONE predicate
    * (files only ever arrive), or a directory could flip back to
    * incomplete after emission; surplus-file policing belongs to the batch
    * validation pass, not the arrival gate. */
  private val eigerTop = RepetitionScan.RequiredFiles.eigerTop.r
  private val eigerSub = RepetitionScan.RequiredFiles.eigerSub.r
  private val crawTop = RepetitionScan.RequiredFiles.crawTop.r
  private val crawSub = RepetitionScan.RequiredFiles.crawSub.r

  def isComplete(files: Set[String]): Boolean = {
    def c(r: scala.util.matching.Regex) = files.count(f => r.findFirstIn(f).isDefined)
    c(eigerSub) >= 2 && c(crawSub) >= 2 && c(eigerTop) >= 1 && c(crawTop) >= 1
  }

  /** Stateful completeness gate. Emits each repetition directory exactly
    * once: as soon as its file set is complete, or (incomplete) when the
    * stabilization window measured from FIRST sight of the directory
    * elapses (`watcher.py:38-61` — a hard window, not re-armed per file).
    * After emission the directory is tombstoned so trailing files cannot
    * produce a second record; tombstones expire after one more window.
    */
  def completenessGate(
      events: Dataset[FileEvent],
      stabilizationTimeoutMs: Long = 660000L): Dataset[RepetitionReady] = {
    import events.sparkSession.implicits._

    events.groupByKey(_.repDir)
      .flatMapGroupsWithState[GateState, RepetitionReady](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (repDir, newEvents, state: GroupState[GateState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (s.done) Iterator.empty // tombstone cleanup: already emitted
            else Iterator(RepetitionReady(repDir, s.files.length, complete = false,
              new Timestamp(s.firstSeenMs),
              new Timestamp(System.currentTimeMillis()))) // gave up (`watcher.py:58-61`)
          } else {
            val evs = newEvents.toSeq
            val now = System.currentTimeMillis()
            val prev = state.getOption.getOrElse(
              GateState(Array.empty, evs.map(_.ts.getTime).min, now, done = false))
            if (prev.done) {
              // trailing files for an emitted dir: ignore, refresh tombstone
              state.update(prev)
              state.setTimeoutDuration(stabilizationTimeoutMs)
              Iterator.empty
            } else {
              val fileSet = prev.files.toSet ++ evs.map(_.relPath)
              if (isComplete(fileSet)) {
                state.update(GateState(fileSet.toArray, prev.firstSeenMs,
                  prev.firstWallMs, done = true))
                state.setTimeoutDuration(stabilizationTimeoutMs) // tombstone TTL
                Iterator(RepetitionReady(repDir, fileSet.size, complete = true,
                  new Timestamp(prev.firstSeenMs), new Timestamp(now)))
              } else {
                state.update(GateState(fileSet.toArray, prev.firstSeenMs,
                  prev.firstWallMs, done = false))
                // remaining slice of the HARD window from first sight
                state.setTimeoutDuration(
                  math.max(1L, prev.firstWallMs + stabilizationTimeoutMs - now))
                Iterator.empty
              }
            }
          }
      }
  }

  /** Production wiring: watch a data root for new files and derive
    * FileEvents from paths `.../{ymd}_{batch}_{rep}/<relPath>`
    * (`YMD_class.py:33-44` path parsing, the batch scan's projection
    * [[RepetitionScan.withRepetitionKeys]]): the directory is a whole path
    * component, so `20240115_1_2_old` never matches, and non-repetition
    * paths are dropped instead of pooling under "". */
  def fileEvents(spark: SparkSession, dataRoot: String): Dataset[FileEvent] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.readStream.format("binaryFile")
      .schema(Hdf5Source.binaryFileSchema)
      .option("recursiveFileLookup", "true") // rep dirs nest 2-3 levels deep
      .load(dataRoot)
      .select(col("path"), col("modificationTime"))
      .transform(RepetitionScan.withRepetitionKeys)
      .select(col("repDir"), col("relPath"), col("modificationTime").as("ts"))
      .as[FileEvent]
  }
}
