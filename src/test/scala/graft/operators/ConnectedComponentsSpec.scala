package graft.operators

import org.apache.spark.sql.functions._

import graft.{SharedFrames, SparkSpec}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def resolveMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.resolve(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Force the distributed pointer-jumping path regardless of input size
    * (r21: small Long-id graphs resolve locally by default). */
  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.cc.localMax", "0")
    try body finally spark.conf.unset("spark.graft.cc.localMax")
  }

  test("components get min-member labels; disjoint sets stay apart") {
    val m = resolveMap(Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain converges (pointer jumping beats one-hop rounds)") {
    // a 200-node path: one-hop propagation would need 200 rounds, far past
    // maxIter; pointer jumping needs ~log2(200) ≈ 8. Forced distributed —
    // the local path has no rounds to exercise.
    val chain = (0L until 199L).map(i => (i, i + 1))
    val m = distributed { resolveMap(chain) }
    assert(m.size == 200 && m.values.forall(_ == 0L))
  }

  test("cycles and duplicate/reversed edges don't wedge convergence") {
    val m = resolveMap(Seq((5L, 6L), (6L, 7L), (7L, 5L), (6L, 5L), (5L, 6L)))
    assert(m == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("self-loops are harmless") {
    val m = resolveMap(Seq((4L, 4L), (4L, 2L)))
    assert(m == Map(2L -> 2L, 4L -> 2L))
  }

  test("hitting the iteration cap fails loudly instead of returning stale " +
      "labels (distributed path)") {
    val chain = (0L until 50L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      distributed {
        ConnectedComponents.resolve(chain.toDF("a", "b"), "a", "b", maxIter = 2)
          .collect()
      }
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("superseded rounds are unpersisted; only the result frame stays " +
      "(distributed path)") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val out = distributed {
      val df = ConnectedComponents.resolve(
        (0L until 40L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
      df.count()
      df
    }
    out.count()
    // one surviving label frame (the returned one); everything else —
    // edges, half, superseded rounds — must be gone
    val left = spark.sparkContext.getPersistentRDDs.size
    assert(left <= 2, s"expected only the result's checkpoint blocks, found $left")
    // the session holds the result until its release
    SharedFrames.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  // --- r21 local fast path ---

  test("LOCAL == DISTRIBUTED on a messy random graph (the hybrid's " +
      "equivalence contract)") {
    val rnd = new scala.util.Random(21)
    // 300 nodes, 400 random edges incl. self-loops and duplicates
    val pairs = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    val local = resolveMap(pairs) // default conf: local path (400 <= 1M)
    val dist = distributed { resolveMap(pairs) }
    assert(local == dist,
      "the union-find fast path must produce exactly the distributed labels")
    // and the labels really are min-member
    local.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp, s"component $comp label is not its min")
    }
  }

  test("the local path leaves nothing persisted and returns a local " +
      "relation (broadcast-friendly downstream)") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val out = ConnectedComponents.resolve(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b")
    assert(out.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "small resolves must come back as a LocalRelation")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the local path must release the half-edge checkpoint blocks")
  }

  test("spark.graft.cc.localMax gates the fast path by pair count") {
    spark.conf.set("spark.graft.cc.localMax", "2")
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)) // 3 pairs > cap of 2
      val out = ConnectedComponents.resolve(pairs.toDF("a", "b"), "a", "b")
      assert(!out.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "above the cap the distributed path must run")
      assert(out.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    } finally spark.conf.unset("spark.graft.cc.localMax")
  }

  test("a malformed spark.graft.cc.localMax fails naming the key, before " +
      "the half-edge checkpoint runs") {
    // evaluating these pairs raises: only a conf check that runs before the
    // eager checkpoint can surface the key-named error
    val pairs = Seq((1L, 2L)).toDF("a", "b").withColumn("a",
      when(col("a") > 0, raise_error(lit("pairs were evaluated"))).otherwise(col("a")))
    spark.conf.set("spark.graft.cc.localMax", "1M")
    val e = try intercept[IllegalArgumentException] {
      ConnectedComponents.resolve(pairs, "a", "b")
    } finally spark.conf.unset("spark.graft.cc.localMax")
    assert(e.getMessage == "spark.graft.cc.localMax must be an integer: got '1M'")
  }

  test("null edge endpoints fail loudly on the local path (r22: the " +
      "contract says unsupported — silent skipping could diverge from " +
      "what the distributed joins would do)") {
    // and the same on the distributed path, which IntegerType ids take too
    val longs = Seq((Option(1L), Option(2L)), (Option(3L), Option.empty[Long]))
    val ints = Seq((Option(1), Option(2)), (Option.empty[Int], Option(3)))
    for (pairs <- Seq(longs.toDF("a", "b"), ints.toDF("a", "b"));
         dist <- Seq(false, true)) {
      def run() = ConnectedComponents.resolve(pairs, "a", "b").collect()
      val e = intercept[IllegalArgumentException] {
        if (dist) distributed(run()) else run()
      }
      assert(e.getMessage.contains("null edge endpoint"), s"distributed=$dist")
    }
  }

  test("non-Long id types keep the distributed path (output schema must " +
      "never change with input size)") {
    val pairs = Seq((1, 2), (2, 3)).toDF("a", "b") // IntegerType
    val out = ConnectedComponents.resolve(pairs, "a", "b")
    assert(!out.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(out.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }
}
