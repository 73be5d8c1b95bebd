package graft.probe

import org.apache.spark.sql.SparkSession

import graft.{Bench, SharedFrames, SparkEntry}

/** The one A/B timer. Splits each query's wall clock into DRIVER-SIDE
  * PLANNING (DataFrame construction + analysis + optimization + physical
  * planning, forced via `executedPlan` before any action) and EXECUTION
  * (the noop write, which re-plans adaptively and runs the jobs).
  * Per-query cost at sf0.1 is sub-second for most of the suite, so a fat
  * constant planning term would mean the bench is measuring Catalyst, not
  * the engine — and planning is the one cost that does NOT shrink when
  * the optimizer's runtime work is amortized at 100 TB (it is
  * single-threaded driver work, guide §7.3).
  *
  * The optional 4th argument is a `;`-separated list of ARMS, each a
  * `k=v,k=v` session-conf set (an empty arm is the defaults): e.g.
  * `';spark.graft.cc.localMax=0'` compares the default connected-
  * components plan against the distributed one. Arms run INTERLEAVED within each rep and the arm order
  * rotates every rep, so a drift in machine speed lands on every arm
  * alike (the r20 lesson: a fixed A-then-B order read contention as a
  * code effect). Before each arm the keys any arm sets are restored to
  * their session values (unset when they had none), so no arm inherits
  * another's confs.
  *
  * Reports the MIN over reps of each phase per arm (min rejects
  * contention; the phases are measured in the same rep so they sum to a
  * real run), after one line stating the core count and `cpu_ref`
  * (Bench's single-thread reference workload) so the numbers can be read
  * against the machine's speed at the time.
  *
  * Run: sbt "Test/runMain graft.probe.PlanCostProbe DIR [regex] [reps] [arms]"
  */
object PlanCostProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.lift(1).map(_.r)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val arms: IndexedSeq[Seq[(String, String)]] =
      args.lift(3).getOrElse("").split(";", -1).toIndexedSeq.map { arm =>
        arm.split(',').toSeq.filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=", 2); (k, v)
        }
      }
    // PLANCOST_CPUS mirrors the bench's $SPARK_GRAFT_CPUS knob (r22: used
    // to localize the 8c-beats-32c de-scaling of the s-family)
    val cpus = sys.env.getOrElse("PLANCOST_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"[plancost] cpus: $cpus nproc: " +
      f"${Runtime.getRuntime.availableProcessors} cpu_ref: ${Bench.cpuRefSec()}%.3f s")
    arms.zipWithIndex.foreach { case (a, i) =>
      val desc = a.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(s"[plancost] arm $i: ${if (a.isEmpty) "(defaults)" else desc}")
    }

    val armKeys = arms.flatten.map(_._1).distinct
    val session = armKeys.map(k => k -> spark.conf.getOption(k)).toMap
    def useArm(i: Int): Unit = {
      session.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      arms(i).foreach { case (k, v) => spark.conf.set(k, v) }
    }

    def onceSplit(name: String): (Double, Double) = {
      Bench.resetBefore(spark, name)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan // force analysis/optimization/planning
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    // warmup: JVM + codegen + parquet footer caches (Bench's pair)
    onceSplit("q01"); onceSplit("s01")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))
    println(f"[plancost] ${"query"}%-5s ${"arm"}%3s ${"plan_s"}%8s ${"exec_s"}%8s plan_pct")
    val planSum = Array.fill(arms.size)(0.0)
    val execSum = Array.fill(arms.size)(0.0)
    names.foreach { n =>
      val runs = Array.fill(arms.size)(Seq.newBuilder[(Double, Double)])
      (0 until reps).foreach { rep =>
        arms.indices.foreach { j =>
          val i = (j + rep) % arms.size
          useArm(i)
          runs(i) += onceSplit(n)
        }
      }
      arms.indices.foreach { i =>
        val rs = runs(i).result()
        val plan = rs.map(_._1).min
        val exec = rs.map(_._2).min
        planSum(i) += plan; execSum(i) += exec
        println(f"[plancost] $n%-5s $i%3d $plan%8.3f $exec%8.3f ${100 * plan / (plan + exec)}%5.1f%%")
      }
    }
    arms.indices.foreach { i =>
      println(f"[plancost] TOTAL arm $i plan=${planSum(i)}%.2f s exec=${execSum(i)}%.2f s " +
        f"(plan ${100 * planSum(i) / (planSum(i) + execSum(i))}%.1f%% of suite)")
    }
    SharedFrames.release(spark)
    spark.stop()
  }
}
