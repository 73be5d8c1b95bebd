package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.pipeline.{Ingest, Model, Sinks, Stages}
import graft.sources.Hdf5Source

/** One SAXS measurement-tree workload, driven the way a user composes the
  * public API: list the tree and derive repetition keys, decode the tree,
  * translate it into repetitions, run the reference step list (without the
  * table step), stack into a snapshot and append the flux/thickness CSV,
  * then release the pipeline's caches. Nothing is cached by the benchmark.
  *
  * Closed loop, one client: each action starts after the previous one
  * ends. Untraced passes repeat until `--seconds` have elapsed (at least
  * `--min-passes`); with `--trace 1` the run adds traced passes, in which
  * every layer's input is materialized before that layer's span so a span
  * measures the layer's own work.
  *
  * Arguments (all `--key value`): tree, setup-tree, logbook, out, result, cpus,
  * seconds, setups, trace, min-passes, min-traced, h, w, run.
  * Results go to `--result` as one JSON object; spans to `<out>/spans.jsonl`.
  */
object SaxsBench {

  private val Steps = Stages.referenceSteps.dropRight(1)
  private val TableStep = Stages.referenceSteps.last

  private def stepName(s: String): String = s.stripPrefix("processstep_")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val (h, w) = (opt("h").toInt, opt("w").toInt)
    val logbookRows = Source.fromFile(opt("logbook")).getLines()
      .filter(_.nonEmpty).map(_.split("\t")).toSeq
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val refStart = System.nanoTime()
    val cpuBefore = (graft.Bench.cpuRefSec(), graft.Bench.cpuRefMtSec())
    val refS = (System.nanoTime() - refStart) / 1e9

    // --- set-up, several times: session start, listing warm-up of the
    // measured tree, and a short untimed warm-up that decodes the small
    // set-up tree. The first set-up runs from JVM start (less the
    // environment probe).
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var counters: Counters = null
    for (i <- 0 until opt("setups").toInt) {
      val t0 =
        if (i == 0) jvmStartMs / 1e3 + refS else System.currentTimeMillis() / 1e3
      if (spark != null) spark.stop()
      spark = session(cpus, out)
      if (traced) {
        counters = new Counters
        spark.sparkContext.addSparkListener(counters)
      }
      listing(spark, opt("tree")).count()
      Hdf5Source.treeTable(spark, opt("setup-tree"), glob = "*.nxs").count()
      setups += System.currentTimeMillis() / 1e3 - t0
    }
    // one untimed pass over the measured tree in the final session, so code
    // generation and JIT are warm before timing: on a smaller tree the
    // per-row and per-pixel code kept speeding up across the timed passes
    val tWarm = System.nanoTime()
    untracedPass(spark, opt("tree"), s"$out/warm", context(spark, logbookRows, h, w))
    val warmS = (System.nanoTime() - tWarm) / 1e9

    // --- timed untraced passes (closed loop)
    val passes = mutable.ArrayBuffer.empty[String]
    val tStart = System.nanoTime()
    val minPasses = opt("min-passes").toInt
    def elapsed = (System.nanoTime() - tStart) / 1e9
    val untracedBudget = if (traced) seconds / 2 else seconds
    while (passes.size < minPasses || elapsed < untracedBudget) {
      val i = passes.size
      val dir = s"$out/pass_$i"
      if (traced) spark.sparkContext.setLocalProperty(Counters.Key, s"pass-$i")
      val ctx = context(spark, logbookRows, h, w)
      val fs0 = FsBytes.read()
      val t0 = System.nanoTime()
      val cacheBytes = untracedPass(spark, opt("tree"), dir, ctx)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLocalProperty(Counters.Key, null)
      passes += Json.obj(Seq("dir" -> Json.str(dir), "wall_s" -> Json.num(wall),
        "cache_bytes" -> Json.num(cacheBytes),
        "fs_read_bytes" -> Json.num((FsBytes.read() - fs0).toDouble)))
    }

    // --- traced passes
    val tracedPasses = mutable.ArrayBuffer.empty[String]
    if (traced) {
      val tracer = new Tracer(spark.sparkContext, counters, opt("run"))
      val tTraced = System.nanoTime()
      while (tracedPasses.size < opt("min-traced").toInt ||
          (System.nanoTime() - tTraced) / 1e9 < seconds - untracedBudget) {
        val dir = s"$out/traced_${tracedPasses.size}"
        val ctx = context(spark, logbookRows, h, w)
        val t0 = System.nanoTime()
        tracedPass(spark, tracer, opt("tree"), dir, ctx)
        tracedPasses += Json.obj(Seq("dir" -> Json.str(dir),
          "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9)))
      }
      tracer.write(s"$out/spans.jsonl")
    }
    val passCounters =
      if (!traced) Nil
      else passes.indices.map { i =>
        Json.obj(counters.of(s"pass-$i").toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) })
      }

    val cpuAfter = (graft.Bench.cpuRefSec(), graft.Bench.cpuRefMtSec())
    spark.stop()

    val result = Json.obj(Seq(
      "setup_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "warmup_pass_s" -> Json.num(warmS),
      "passes" -> passes.mkString("[", ",", "]"),
      "traced_passes" -> tracedPasses.mkString("[", ",", "]"),
      "pass_counters" -> passCounters.mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "cpu_ref_s" -> s"[${Json.num(cpuBefore._1)},${Json.num(cpuAfter._1)}]",
      "cpu_ref_mt_s" -> s"[${Json.num(cpuBefore._2)},${Json.num(cpuAfter._2)}]"))
    Files.write(Paths.get(opt("result")), result.getBytes("UTF-8"))
  }

  private def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def listing(spark: SparkSession, tree: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.nxs")
      .option("recursiveFileLookup", "true")
      .load(tree)
      .select(col("path"), col("modificationTime"))

  /** Logbook rows come from the tree generator (tab-separated: ymd, batch,
    * thickness, bgymd, bgnumber); one all-ones mask of the frame shape for
    * configuration 1, dated before every measurement. */
  private def context(spark: SparkSession, rows: Seq[Array[String]],
      h: Int, w: Int): Stages.Context = {
    import spark.implicits._
    val logbook = rows.map { r =>
      Model.LogbookEntry(r(0), r(1).toInt, "bench", "bench", s"s${r(1)}",
        s"batch ${r(1)}", "SiO2", 2.2, r(2).toDouble, r(3), r(4).toInt,
        "", 0, 100.0)
    }.toDS().toDF()
    val masks = Seq(Model.MaskEntry("20230101", 1, Array.fill(h * w)(1f), h, w,
      "Masks/20230101_1.nxs")).toDS().toDF()
    Stages.Context(logbook, masks)
  }

  /** One pass as a user writes it. Returns the bytes the pipeline's
    * persisted frames hold just before `ctx.caches.release()`. */
  private def untracedPass(spark: SparkSession, tree: String, dir: String,
      ctx: Stages.Context): Double = {
    val keys = Ingest.repetitionKeys(listing(spark, tree))
    val treeDf = Hdf5Source.treeTable(spark, tree, glob = "*.nxs")
    val reps = Ingest.repetitionsFromTree(treeDf, keys)
    val processed = Stages.run(reps, ctx, Steps)
    Sinks.writeSnapshot(Stages.stacker(processed, ctx), s"$dir/snapshot")
    Sinks.appendCsv(Stages.fluxThicknessTable(processed, ctx), s"$dir/table")
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum
    ctx.caches.release()
    cached
  }

  /** Compute `df` once and hold its rows (memory, spilling to disk),
    * truncating the lineage, so the next layer's plan starts from the
    * held rows rather than re-planning and cache-matching the whole chain. */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = true))

  /** The same pass with a span around each layer call. Each span ends with
    * its output materialized, which is the next span's input; a frame is
    * released once the spans that read it are done. Row counts are taken
    * after the span, from the held rows. */
  private def tracedPass(spark: SparkSession, tr: Tracer, tree: String,
      dir: String, ctx: Stages.Context): Unit = tr.span("pass") {
    val keys = tr.span("Ingest.keys") {
      materialize(Ingest.repetitionKeys(listing(spark, tree)))
    }
    val treeDf = tr.span("Hdf5Source.list") {
      Hdf5Source.treeTable(spark, tree, glob = "*.nxs")
    }
    val files = treeDf.inputFiles.length.toDouble
    val decoded = tr.span("Hdf5Source.decode")(materialize(treeDf))
    tr.annotate("Hdf5Source.decode", Map(
      "files" -> files,
      "tree_rows" -> decoded.count().toDouble,
      "parse_errors" -> decoded.filter(col("path") === "").count().toDouble))
    val reps = tr.span("Ingest") {
      materialize(Ingest.repetitionsFromTree(decoded, keys))
    }
    tr.annotate("Ingest", Map("reps" -> reps.count().toDouble))
    Seq(keys, decoded).foreach(release)
    tr.span("Stages.plan")(Stages.run(reps, ctx, Steps))
    val processed = Steps.foldLeft(reps) { (cur, s) =>
      tr.span(s"Stages.${stepName(s)}") {
        val next = Stages.stage(s)(cur, ctx)
        // pass-through steps return their input frame itself
        if (next eq cur) cur else { val m = materialize(next); release(cur); m }
      }
    }
    val stacked = tr.span("ArrayStats.stack")(materialize(Stages.stacker(processed, ctx)))
    tr.annotate("ArrayStats.stack", Map("groups" -> stacked.count().toDouble))
    tr.span("Sinks.snapshot")(Sinks.writeSnapshot(stacked, s"$dir/snapshot"))
    val table = tr.span(s"Stages.${stepName(TableStep)}") {
      materialize(Stages.fluxThicknessTable(processed, ctx))
    }
    tr.span("Sinks.csv")(Sinks.appendCsv(table, s"$dir/table"))
    Seq(stacked, table, processed).foreach(release)
    ctx.caches.release()
  }

  /** Process `VmHWM` (peak resident set) in MiB. */
  private def vmHwmMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
