package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PushdownBarrierF.pushdownBarrier

/** The pushdown barrier's contracts: (1) value identity with its child —
  * interpreted AND codegen paths; (2) a barrier'd filter stays put — a
  * `Filter(pushdown_barrier(cond))` stays ABOVE a repartition while the
  * bare `Filter(cond)` is pushed below it; (3) a barrier'd projected value
  * is computed once — the shingle array behind `DedupQueries.shingleSets`
  * appears once in the optimized plan, and more than once without the
  * barrier; (4) codegen residency — the barrier filter plans inside a
  * WholeStageCodegen stage, never as a standalone row-at-a-time operator
  * (the CollectMetrics failure mode it replaced). */
class PushdownBarrierFSpec extends SparkSpec {
  import spark.implicits._

  test("value identity with the wrapped predicate (codegen path)") {
    val df = (0 until 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
    val plainRows = df.filter(col("k") === 3 && col("id") > 10)
      .collect().map(_.toString).sorted.toSeq
    val barred = df.filter(pushdownBarrier(col("k") === 3 && col("id") > 10))
    assert(barred.collect().map(_.toString).sorted.toSeq == plainRows)
    // null semantics follow the child: a null predicate drops the row,
    // wrapped or not
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (2L, 5L))
      .toDF("id", "v")
    assert(nulls.filter(pushdownBarrier(col("v") > 0)).count() ==
      nulls.filter(col("v") > 0).count())
  }

  test("value identity on the interpreted path (eval without codegen)") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val df = (0 until 50).map(i => (i.toLong, s"t$i")).toDF("id", "t")
      val a = df.filter(pushdownBarrier(col("id") % 3 === 1)).count()
      val b = df.filter(col("id") % 3 === 1).count()
      assert(a == b && a > 0)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("blocks PushDownPredicates: the filter stays above a repartition " +
      "the bare predicate is pushed below") {
    val df = (0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "k")
      .repartition(col("k"))
    def optimized(c: org.apache.spark.sql.Column) =
      df.filter(c).queryExecution.optimizedPlan.toString
    val bare = optimized(col("k") === 2)
    val barred = optimized(pushdownBarrier(col("k") === 2))
    def filterAboveRepartition(p: String): Boolean = {
      val ls = p.linesIterator.toSeq
      val fi = ls.indexWhere(_.contains("Filter"))
      val ri = ls.indexWhere(_.contains("RepartitionByExpression"))
      fi >= 0 && ri >= 0 && fi < ri
    }
    assert(!filterAboveRepartition(bare),
      s"bare predicate should have been pushed below the repartition:\n$bare")
    assert(filterAboveRepartition(barred),
      s"barrier predicate must stay above the repartition:\n$barred")
  }

  test("a barrier'd projected value is computed once: the shingle array " +
      "read by size() and explode() appears once in the optimized plan, " +
      "and more than once unbarriered") {
    // a Range source, not a local Seq: ConvertToLocalRelation would fold
    // the projections away before the plan could show them
    val docs = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox jumps over "), col("id").cast("string")).as("text"))
    def readTwice(sets: org.apache.spark.sql.DataFrame) =
      sets.select(col("doc_id"), size(col("sarr")).as("c"), explode(col("sarr")).as("s"))
    def shingleExprs(df: org.apache.spark.sql.DataFrame): Int =
      "array_distinct\\(".r.findAllMatchIn(df.queryExecution.optimizedPlan.toString).size
    val barred = readTwice(graft.queries.DedupQueries.shingleSets(docs))
    val bare = readTwice(docs.select(col("doc_id"), array_distinct(
      TextFns.shingles(col("text"), MinHashSigF.ShingleK)).as("sarr")))
    assert(shingleExprs(barred) == 1, barred.queryExecution.optimizedPlan.toString)
    // the engine-upgrade tripwire: if this optimizer stops copying the
    // array into its consumers, the projected-value barriers are surplus
    assert(shingleExprs(bare) > 1, bare.queryExecution.optimizedPlan.toString)
    assert(barred.orderBy("doc_id", "s").collect().toSeq ==
      bare.orderBy("doc_id", "s").collect().toSeq)
  }

  test("plans inside WholeStageCodegen (no row-at-a-time boundary)") {
    val df = (0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "k")
      .repartition(col("k"))
      .filter(pushdownBarrier(col("k") === 2))
      .select(col("id") * 2)
    df.collect() // AQE: codegen stages only exist in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("pushdown_barrier") && l.trim.matches("""^[+\-:\s]*\*\(\d+\).*""")),
      s"barrier filter must carry a '*(n)' codegen-stage marker:\n$p")
  }
}
