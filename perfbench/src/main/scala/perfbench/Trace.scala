package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-bucket Spark task counters. A bucket is the value of the
  * `perfbench.bucket` local property on the thread that submitted the job:
  * a span id in a traced pass, a pass label in an untraced one. Tasks are
  * attributed through their stage's job, so late listener delivery cannot
  * move a count into the wrong bucket. */
final class Counters extends SparkListener {
  import Counters._

  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Array[Double]]()
  @volatile private var markerJob = -1
  @volatile private var markerEnded = false

  private def add(bucket: String, i: Int, v: Double): Unit = {
    val a = totals.computeIfAbsent(bucket, _ => new Array[Double](Fields.size))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val b = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse("")
    if (b == DrainBucket) markerJob = e.jobId
    else {
      e.stageIds.foreach(stageBucket.put(_, b))
      add(b, 0, 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) markerEnded = true

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = stageBucket.get(e.stageId)
    if (b == null) return
    add(b, 1, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(b, 2, m.executorCpuTime / 1e9)
      add(b, 3, m.executorRunTime / 1e3)
      add(b, 4, m.jvmGCTime / 1e3)
      add(b, 5, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(b, 6, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(b, 7, m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Wait until every event posted so far has been delivered: run a marker
    * job and wait for its end event, which the bus delivers after all
    * earlier events. */
  def drain(sc: SparkContext): Unit = {
    val before = sc.getLocalProperty(Key)
    markerEnded = false
    sc.setLocalProperty(Key, DrainBucket)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Key, before)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def of(bucket: String): Map[String, Double] = {
    val a = Option(totals.get(bucket)).getOrElse(new Array[Double](Fields.size))
    Fields.zip(a).toMap
  }
}

object Counters {
  val Key = "perfbench.bucket"
  private val DrainBucket = "__drain__"
  val Fields: Seq[String] = Seq("jobs", "tasks", "task_cpu_s", "executor_run_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "output_bytes")
}

object FsBytes {
  /** Bytes read so far through the Hadoop local filesystem, across all
    * threads. The tree's files are the only Hadoop reads in a pass (shuffle
    * and cached blocks bypass it), so a delta is the tree bytes decoded. */
  def read(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)
}

/** One recorded span: a call into a layer, timed by the benchmark. */
final case class Span(run: String, id: Int, parent: Int, name: String,
    startS: Double, endS: Double, attrs: Map[String, Double])

/** Span recorder for a traced run. Spans are kept in memory and written as
  * JSONL by [[write]] when the run ends. The open span's id is the
  * listener bucket, so Spark counters land on the innermost open span. */
final class Tracer(sc: SparkContext, counters: Counters, run: String) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Int](0)
  private var next = 1

  private def now: Double = (System.nanoTime() - t0) / 1e9

  def span[A](name: String)(body: => A): A = {
    val id = next
    next += 1
    val parent = open.top
    open.push(id)
    sc.setLocalProperty(Counters.Key, s"span-$id")
    val fs0 = FsBytes.read()
    val start = now
    try body
    finally {
      val end = now
      val fsRead = (FsBytes.read() - fs0).toDouble
      open.pop()
      sc.setLocalProperty(Counters.Key, if (open.top == 0) null else s"span-${open.top}")
      done += Span(run, id, parent, name, start, end, Map("fs_read_bytes" -> fsRead))
    }
  }

  /** Attach counts measured after the span closed (row counts and the
    * like, kept out of the timed interval). */
  def annotate(name: String, attrs: Map[String, Double]): Unit = {
    val i = done.lastIndexWhere(_.name == name)
    done(i) = done(i).copy(attrs = done(i).attrs ++ attrs)
  }

  def write(path: String): Unit = {
    counters.drain(sc)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      val c = counters.of(s"span-${s.id}").map { case (k, v) => s""""$k":${Json.num(v)}""" }
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      out.println(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_s":${Json.num(s.startS)},""" +
        s""""end_s":${Json.num(s.endS)},"counters":{${c.mkString(",")}},""" +
        s""""attrs":{${a.mkString(",")}}}""")
    }
    finally out.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
