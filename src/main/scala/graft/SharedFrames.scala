package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of frames the engine keeps across Spark actions.
  *
  * A [[Scope]] holds frames and frees them in `release()`. It takes each
  * frame's release handle from the frame itself: the persisted Dataset for
  * a persist, and for a checkpoint the `LogicalRDD` leaf that
  * `Dataset.localCheckpoint`/`checkpoint` plans. Nothing diffs the
  * SparkContext's persistent-RDD registry, so a job persisting
  * concurrently on the same context is never captured or released.
  *
  * [[shared]] builds an entry once per (session, dir, tag) in that entry's
  * own scope: every frame materialized inside the build belongs to the
  * entry, and [[release]] of its tag frees all of them. A read of a
  * released checkpoint fails with a `SparkException` (lost checkpoint
  * block, or missing checkpoint file) instead of recomputing.
  */
object SharedFrames {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Frames held until `release()`. Thread-safe; empty after release. */
  final class Scope {
    private val handles = mutable.ArrayBuffer.empty[() => Unit]
    private def hold(h: () => Unit): Unit = synchronized { handles += h }
    private def take(): List[() => Unit] =
      synchronized { val hs = handles.toList; handles.clear(); hs }

    /** `df` persisted MEMORY_AND_DISK (lazily, like `Dataset.persist`). */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      hold(() => p.unpersist(blocking = false))
      p
    }

    /** `df` with its lineage truncated; `eager` materializes it now.
      *
      * Unset `spark.graft.checkpoint.dir` (the local[*] default):
      * `localCheckpoint` keeps the blocks on executors, no filesystem
      * round-trip. Set: `df.checkpoint` to that reliable store, so an
      * executor loss replays from files instead of the upstream plan. The
      * reliable path persists `df` first — a lazy reliable checkpoint
      * otherwise computes the plan twice (the triggering job, then
      * `doCheckpoint` writing the files) — and its release deletes the
      * rdd-N directory this checkpoint wrote. That directory is read off
      * the leaf captured here, never a lineage walk: an unmaterialized
      * checkpoint still has its upstream lineage, which may reach another
      * live entry's files. */
    def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
      val s = df.sparkSession
      s.conf.getOption("spark.graft.checkpoint.dir") match {
        case Some(dir) =>
          val sc = s.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
          else checkpointDirMismatch(sc.getCheckpointDir, dir, sc.hadoopConfiguration)
            .foreach(log.warn(_))
          val ck = persist(df).checkpoint(eager)
          val rdd = leafRdd(ck)
          // Spark's own `cleanCheckpoints` cannot be enabled after the
          // context starts, and its GC-driven timing is nondeterministic
          hold(() => rdd.getCheckpointFile.map(new Path(_)).foreach { p =>
            try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
            catch { case NonFatal(ex) => log.warn(s"could not delete $p: ${ex.getMessage}") }
          })
          ck
        case None =>
          val ck = df.localCheckpoint(eager)
          val rdd = leafRdd(ck)
          hold(() => rdd.unpersist(blocking = false))
          ck
      }
    }

    /** Take over `other`'s frames; `other` is left empty. */
    def adopt(other: Scope): Unit = { val hs = other.take(); synchronized { handles ++= hs } }

    def release(): Unit = take().foreach(_.apply())
  }

  /** The checkpointed RDD: `Dataset.checkpoint`/`localCheckpoint` plan it
    * as the frame's only node. Anything else would leave the frame with no
    * release handle, so it fails here instead of leaking. */
  private def leafRdd(ck: DataFrame): RDD[_] = ck.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd
    case other => throw new IllegalStateException(
      s"checkpoint planned a ${other.nodeName} leaf, not LogicalRDD: nothing to release")
  }

  /** Warn message when `spark.graft.checkpoint.dir` cannot take effect —
    * `None` when the live SparkContext checkpoint dir already sits under
    * the configured root. setCheckpointDir appends a per-context UUID
    * segment under the configured root, so the conf is compared against
    * the PARENT of the live dir (both fully qualified). A mismatch means
    * the context already had a checkpoint dir (set directly, or by an
    * earlier conf value): Spark offers no re-point, so the message says
    * where files will actually land instead of the conf being silently
    * ignored. */
  private[graft] def checkpointDirMismatch(
      existing: Option[String], ckDir: String, hadoopConf: Configuration): Option[String] =
    existing.flatMap { live =>
      val confPath = new Path(ckDir)
      val qualified = confPath.getFileSystem(hadoopConf).makeQualified(confPath)
      val liveRoot = new Path(live).getParent
      if (liveRoot == null || liveRoot.toString != qualified.toString)
        Some(s"spark.graft.checkpoint.dir=$ckDir ignored: the " +
          s"SparkContext checkpoint dir is already $live " +
          "(it cannot be re-pointed); checkpoint files will land " +
          "under the existing directory")
      else None
    }

  private final case class Entry(df: DataFrame, scope: Scope)
  private val entries = mutable.Map.empty[(SparkSession, String, String), Entry]
  private val sessionScopes = mutable.Map.empty[SparkSession, Scope]

  /** The entry (session, dir, tag), built on first use: `build`'s result
    * is checkpointed lazily (plan construction stays job-free; the first
    * consuming action pays the build), and every frame `build` puts in its
    * scope is released with the entry. A build that throws releases its
    * scope. Builds run under this object's lock, so a build may itself
    * read other entries. */
  def shared(s: SparkSession, dir: String, tag: String)(build: Scope => DataFrame): DataFrame =
    synchronized {
      entries.get((s, dir, tag)) match {
        case Some(e) => e.df
        case None =>
          val scope = new Scope
          val df =
            try scope.checkpoint(build(scope), eager = false)
            catch { case e: Throwable => scope.release(); throw e }
          entries((s, dir, tag)) = Entry(df, scope)
          df
      }
    }

  /** Frames that live until `release(s)` frees the whole session — for
    * results handed to callers with no release of their own (the
    * distributed connected-components labels). */
  def sessionScope(s: SparkSession): Scope =
    synchronized(sessionScopes.getOrElseUpdate(s, new Scope))

  /** Releases session `s`'s entry `tag` (exact match), or with no tag every
    * entry of `s` and its [[sessionScope]]. Bench releases one tag per
    * query reset so that resetting d15 cannot evict d02's frames
    * mid-suite. */
  def release(s: SparkSession, tag: String = ""): Unit = {
    val scopes = synchronized {
      val keys = entries.keys.filter(k => (k._1 eq s) && (tag.isEmpty || k._3 == tag)).toList
      keys.map(entries.remove(_).get.scope) ++
        (if (tag.isEmpty) sessionScopes.remove(s) else None)
    }
    scopes.foreach(_.release())
  }
}
