package graft.probe

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dumps `explain("formatted")` for the named queries into an output dir —
  * the plans/r21 before/after evidence. A `k=v,k=v` conf string (applied
  * before query construction) lets the same binary reproduce a pre-change
  * plan when the change is conf-gated (e.g. spark.graft.cc.localMax=0 is
  * exactly the pre-r21 ConnectedComponents plan).
  *
  * A suffix ending in `!` additionally EXECUTES each query (noop sink)
  * before dumping, so the file holds the FINAL adaptive plan
  * (ReusedExchange nodes, AQE join rewrites) rather than the initial one.
  *
  * Dumps are written through [[normalize]], so two dumps of the same plan
  * compare equal with a plain `diff`.
  *
  * Run: sbt "Test/runMain graft.probe.PlanSnap OUTDIR SUFFIX q1,q2,... [k=v,...]"
  */
object PlanSnap {

  private val ExprId = """#(\d+)""".r
  private val CodegenId = """(\[codegen id : |\*\()(\d+)""".r
  private val PlanId = """\[plan_id=\d+\]""".r
  private val StageHeader = """^\(\d+\) \w*QueryStage\b.*""".r
  private val StageArgs = """^Arguments: \d+$""".r

  /** The run-varying ids of a formatted plan, made stable:
    *   - expression ids `#N` and codegen stage ids (`[codegen id : N]`,
    *     `*(N)`) are renumbered in first-seen order, so every reference to
    *     one id still names the same new id;
    *   - `[plan_id=N]` becomes `[plan_id=_]`;
    *   - a QueryStage's stage number (its `Arguments: N` line) becomes
    *     `Arguments: _` — AQE numbers stages in materialization order.
    * Operator ids `(N)` are kept: they follow the plan's shape. */
  def normalize(plan: String): String = {
    def renumber(r: Regex, s: String, seen: mutable.Map[String, Int],
                 render: (Regex.Match, Int) => String): String =
      r.replaceAllIn(s, m => Regex.quoteReplacement(
        render(m, seen.getOrElseUpdate(m.group(m.groupCount), seen.size))))
    val exprs = mutable.Map.empty[String, Int]
    val stages = mutable.Map.empty[String, Int]
    var inQueryStage = false
    plan.linesWithSeparators.map { raw =>
      val line = raw.stripLineEnd
      if (line.startsWith("(")) inQueryStage = StageHeader.matches(line)
      val out =
        if (inQueryStage && StageArgs.matches(line)) "Arguments: _"
        else {
          val e = renumber(ExprId, line, exprs, (_, i) => s"#$i")
          val c = renumber(CodegenId, e, stages, (m, i) => s"${m.group(1)}${i + 1}")
          PlanId.replaceAllIn(c, "[plan_id=_]")
        }
      out + raw.substring(line.length)
    }.mkString
  }

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val execute = args(1).endsWith("!")
    val suffix = args(1).stripSuffix("!")
    val names = args(2).split(',').toSeq
    val confs = args.lift(3).toSeq.flatMap(_.split(',')).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      // toRdd.count() drives THIS DataFrame's own QueryExecution (a noop
      // write would plan a separate write command and leave df's adaptive
      // plan un-finalized), so the dump below shows isFinalPlan=true with
      // ReusedExchange / AQE join rewrites resolved.
      if (execute) df.queryExecution.toRdd.count()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), normalize(formatted))
      println(s"[plansnap] wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
