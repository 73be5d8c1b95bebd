package graft.queries

import graft.{SharedFrames, SparkSpec, SparkEntry}

/** Physical-plan invariants (SURVEY §4): these are the properties that keep
  * the queries viable at 100 TB, asserted against the actual planned
  * execution so regressions in query structure get caught — filters reach
  * the parquet scan, dimensions broadcast, top-k avoids a global sort,
  * the as-of join shuffles exactly once.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01: predicate and column pruning reach the parquet scan") {
    val p = plan("q01")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // ReadSchema carries only the 7 needed columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
  }

  test("q03: dimension joins broadcast; top-10 is TakeOrderedAndProject") {
    val p = plan("q03")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q05: all five dimension joins are broadcast (single big-side shuffle)") {
    val p = plan("q05")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimensions must not sort-merge")
  }

  test("q21 as-of join: the as-of core adds exactly one shuffle, no join") {
    val p = plan("q21")
    // two exchanges total: one belongs to the right-side dedup
    // pre-aggregation (groupBy user_id, ts), ONE to the as-of window
    // itself. The join+rank formulation would add a join exchange pair and
    // a row-multiplying join node.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 shuffles, plan:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of must not be a join at all")
  }

  test("s01: query set is broadcast against the embedding scan") {
    val p = plan("s01")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("q08 window top-n: single shuffle on the partition key") {
    val p = plan("q08")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q36 skew-salted join: the join key space is (key, salt)") {
    val p = plan("q36")
    // the physical join must include the synthetic __salt column in its
    // keys — that is what spreads each hot l_returnflag over 16 reducers
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("l_returnflag"))
      .getOrElse("")
    assert(joinLine.contains("__salt"), s"join keys lack __salt:\n$joinLine")
    // the small side replicates via explode(sequence(...)), one copy per
    // salt — visible as a Generate explode in the plan
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("whole-stage codegen covers the scan-side of the flagship query") {
    // AQE prints no codegen stages until the plan is final — execute first
    val df = SparkEntry.queries("q01")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final AQE plan
    assert(p.contains("*(1)"), p.take(1000))
  }

  test("q17/d02: no forced broadcast of fact-derived aggregates") {
    // partAvg (one row per distinct partkey) and the LSH candidate-pair set
    // both grow with the fact table — a broadcast HINT would pin a plan that
    // OOMs the driver at 100x. The analyzed plan must carry no hint so AQE
    // stays free to choose (it may still broadcast when it measures small —
    // that is correct behavior, so we assert hint absence, not join type).
    try {
      for (name <- Seq("q17", "d02")) {
        val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.toString
        assert(!analyzed.contains("ResolvedHint"), s"$name still carries a join hint")
      }
    } finally SharedFrames.release(spark) // drop the shared pair checkpoint this built
  }

  test("d08: at SMJ scale the signature subplan is computed once (ReusedExchange)") {
    // at toy SF the planner broadcasts one side (and rightly recomputes the
    // small chain); at scale both sides shuffle on (b, bv) and the two
    // identical signature subtrees must collapse into one exchange — force
    // the SMJ path and assert the reuse. AQE defers exchange reuse to
    // runtime stage materialization, so assert on the static rule with AQE
    // off (AQE's stage-level reuse is equivalent at runtime).
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d08")
      assert(p.contains("ReusedExchange"), p.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("d09: decontamination is an equi-join on the shingle, never a " +
      "nested-loop product, with no forced broadcast") {
    // the eval-side stand-in is carved from the corpus and grows with it:
    // the plan must carry no broadcast hint (AQE may still choose
    // broadcast when it measures small — assert hint absence, not join
    // type), and the overlap must be a hash/merge equi-join on s
    val df = SparkEntry.queries("d09")(spark, sf)
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "d09 carries a join hint")
    val p = plan("d09")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("d12: bloom prefilter is three broadcast left-semi probes ABOVE " +
      "the corpus scan, and the confirm join is an equi-join") {
    val p = plan("d12")
    // the membership test must be map-side: broadcast hash left-semi on
    // the position equi-key, one per hash function, never a product
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    val semis = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semis == 3, s"expected 3 broadcast left-semi bloom probes, got $semis\n" +
      p.take(3000))
    // and the bloom build side stays hard-capped: the broadcast subtree
    // aggregates positions (Distinct/HashAggregate), it never broadcasts
    // raw shingles
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("d11 geometry: the 4 x 8 default up to 100,000 rows, then " +
      "occupancy-constant auto-sizing with table-count escalation past saturation") {
    import graft.queries.DedupQueries.{d11AutoGeometry, d11Geometry}
    // up to and AT the 100,000-row threshold the default geometry is used
    // verbatim — the pinned oracle's geometry at the test scales
    for (n <- Seq(0L, 500L, 99999L, 100000L))
      assert(d11Geometry(n) == ((4, 8)), s"n=$n must keep the 4 x 8 default")
    // one row past it the auto law takes over: 4-row bucket target
    assert(d11Geometry(100001L) == ((4, 15)))
    assert(d11Geometry(200000L) == ((4, 16)), "the r10-probe geometry")
    assert(d11Geometry(300000L) == d11AutoGeometry(300000L, 4, 8))
    // THE THREE-REGIME LAW (VERDICT r17 #3 — the d08 lesson: a fixed key
    // space means occupancy regrows linearly past saturation).
    // Regime 2 — bit growth at the default table count while
    // needed·tables ≤ 64: occupancy n/2^bits stays within 2× of the
    // 4-row target, 4 tables throughout
    for (n <- Seq(150000L, 200001L, 262144L)) {
      val (t, b) = d11Geometry(n)
      assert(t == 4, s"n=$n must keep all 4 tables")
      assert(n.toDouble / (1L << b) <= 8.0,
        s"n=$n bits=$b occupancy ${n.toDouble / (1L << b)}")
    }
    assert(d11AutoGeometry(500L, 4, 8) == ((4, 8)), "small n never shrinks the default")
    // Regime 3 — table-count ESCALATION: past 4·2^16 = 262,144 rows the
    // old law pinned bits at 16 and occupancy regrew (~15k docs/bucket
    // at 10⁹ — the candidate join re-quadratizes); the escalation trades
    // tables for bits, keeping occupancy ≤ 2× target all the way to the
    // 1-table regime. Recall degrades gracefully with fewer OR-tables
    // (D11GeomProbe measures it); saturation was fatal, not lossy.
    assert(d11Geometry(300000L) == ((3, 17)),
      "first escalation step: 3 tables x 17 bits at needed = 17")
    assert(d11Geometry(10000000L) == ((2, 22)),
      "10M rows: 2 tables x 22 bits")
    assert(d11Geometry(100000000L) == ((2, 25)),
      "the ~10^8 regime that motivated the rule: 2 tables x 25 bits")
    assert(d11Geometry(1000000000L) == ((2, 28)),
      "10^9 rows: 2 tables x 28 bits — ~4 docs/bucket, not ~15k")
    assert(d11Geometry(40000000000L) == ((1, 34)),
      "past needed = 33 a single table uses the whole dim budget")
    assert(d11Geometry(Long.MaxValue) == ((1, 61)),
      "Long-max rows still fit the 64-dim budget (needed = 61)")
    // occupancy stays bounded across ALL of regime 2 + 3 — the property
    // the escalation exists to restore
    for (n <- Seq(3e5, 1e6, 1e7, 1e8, 1e9, 1e10, 1e12).map(_.toLong)) {
      val (t, b) = d11Geometry(n)
      assert(t >= 1 && t * b <= 64, s"n=$n geometry $t x $b busts the dim budget")
      assert(n.toDouble / (1L << b) <= 8.0,
        s"n=$n geometry $t x $b occupancy ${n.toDouble / (1L << b)} " +
          "— saturation regression")
    }
  }

  test("c01: corpus gate joins only derived frames — equi-joins " +
      "throughout, row-local gates stay unjoined predicates") {
    val p = plan("c01")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the verdict CASE must sit in a Project ABOVE the joins (printed
    // plans list parents first), not force any extra exchange of the
    // full corpus beyond the keeper hash agg
    val caseAt = p.indexOf("CASE WHEN")
    val joinAt = p.indexOf("Join")
    assert(caseAt >= 0 && joinAt >= 0 && caseAt < joinAt,
      s"verdict CASE (at $caseAt) must be computed above the first join " +
        s"(at $joinAt)\n" + p.take(2000))
  }

  test("c01 (r22): keeper comes from a window over ONE narrow exchange — " +
      "every gate input is derived map-side and the text column never " +
      "crosses a shuffle (the join form re-scanned the corpus and, past " +
      "broadcast size, re-shuffled full text rows by hash)") {
    val p = plan("c01")
    assert("windowspecdefinition\\(h#\\d+".r.findFirstIn(p).isDefined,
      "keeper must be a window partitioned by the content hash\n" + p.take(3000))
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exch.nonEmpty && !exch.contains("text#"), exch)
  }

  test("d13: incremental dedup anti-joins a hash-only history projection " +
      "— never a product, and history carries no payload columns") {
    val p = plan("d13")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // the history-side projection feeding the anti-join must OUTPUT the
    // hash alone — dragging doc_id (or raw text) through the join is the
    // payload mistake. The md5 expression legitimately READS text below,
    // so assert on the output list: a single md5 AS h, no doc_id output.
    val anti = p.linesIterator.dropWhile(l => !l.contains("LeftAnti")).toSeq
    val histProject = anti.tail.filter(_.contains("Project [")).take(2).lastOption
    assert(histProject.exists(l =>
      l.contains("Project [md5(") && l.contains("AS h#") && !l.contains("doc_id")),
      anti.take(12).mkString("\n"))
  }

  test("q38: correlated lateral top-k decorrelates to a ranked window + " +
      "equi-join — no per-row re-execution, outer filter pushed to scan") {
    val p = plan("q38")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      p.take(3000))
  }

  test("q37: explicit-value pivot rewrites to one-pass conditional " +
      "aggregation — one scan, no eager distinct of the pivot column") {
    val p = plan("q37")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 orders scan, got $scans\n" + p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate") && !p.contains("Expand"), p.take(2000))
  }

  test("w05: shard-export audit is one partial-agg exchange, no sort") {
    val p = plan("w05")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n" + p.take(2000))
    assert(!p.contains("Sort "), p.take(2000))
    // partial combine below the exchange: two HashAggregate levels
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p.take(2000))
  }

  test("w06: the weight window's single-partition exchange sits ABOVE the " +
      "per-source aggregate — the corpus never funnels to one partition") {
    val p = plan("w06")
    assert(p.contains("Window"), p.take(2000))
    val single = p.indexOf("Exchange SinglePartition")
    assert(single >= 0, p.take(2000))
    // printed plans list parents first: the per-source HashAggregate must
    // appear BELOW (after) the single-partition exchange, proving the
    // funnel carries one row per source, not the corpus
    assert(p.indexOf("HashAggregate", single) > single, p.take(2000))
  }

  test("t09: vocab top-k is TakeOrderedAndProject over one hash agg — " +
      "never a global sort") {
    val p = plan("t09")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Sort "), "vocab cut must not globally sort")
  }

  test("t10: tf-idf vocabulary join is hint-free; top-3 cut is one window " +
      "pass over the doc key") {
    // the doc-frequency side grows with the distinct vocabulary — a
    // broadcast hint there would pin a driver-OOM plan at 100×; AQE must
    // stay free to choose (and will broadcast while the vocab measures
    // small). The ONE permitted hint is the n_docs corpus-count scalar —
    // a single row at any scale.
    val analyzed = SparkEntry.queries("t10")(spark, sf)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).size == 1,
      s"t10 must hint ONLY the one-row n_docs scalar:\n${analyzed.take(2000)}")
    val p = plan("t10")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // "the token stream is scanned once": the df branch is built ON the tf
    // aggregation, so its explode+partial-agg subtree is identical to the
    // tf branch's and must collapse into one exchange. AQE defers reuse to
    // runtime stage materialization — assert the static rule with AQE off,
    // as the d08 pin does.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pNoAqe = plan("t10")
      assert(pNoAqe.contains("ReusedExchange"),
        s"tf subtree computed twice:\n${pNoAqe.take(4000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("s05: quantized query set is broadcast against the one corpus scan") {
    val p = plan("s05")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("x03: exact top-20 is TakeOrderedAndProject; sketch probes never " +
      "degenerate to a product") {
    val p = plan("x03")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("x03: the CMS builds off the vocabulary-sized exact-count frame — " +
      "the corpus is tokenized exactly once and the count exchange is " +
      "reused (round 21: bucket counts are Σ exact_count per bucket)") {
    val df = SparkEntry.queries("x03")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    val finalPlan = ep.split("== Initial Plan ==")(0)
    // ONE tokenize explode; the other Generates are the tiny 0..3 row-
    // index explodes over vocab/top-20 frames
    assert("explode\\(split\\(trim\\(text".r.findAllIn(finalPlan).size == 1,
      s"x03 re-tokenized the corpus:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("ReusedExchange"),
      s"exact-count exchange re-derived for the sketch:\n${finalPlan.take(3000)}")
  }

  test("x07: linear counting computes occupancy and the exact reference " +
      "in ONE aggregate over one distinct-hash pass — the corpus is " +
      "tokenized exactly once (round 21)") {
    val df = SparkEntry.queries("x07")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    val finalPlan = ep.split("== Initial Plan ==")(0)
    assert("explode\\(split\\(trim\\(text".r.findAllIn(finalPlan).size == 1,
      s"x07 re-tokenized the corpus:\n${finalPlan.take(3000)}")
    assert(!finalPlan.contains("NestedLoopJoin") &&
      !finalPlan.contains("CartesianProduct"), finalPlan.take(3000))
  }

  test("x05: both per-source bottom-k sketches AND the exact branch read " +
      "ONE distinct (source,h) pass — the corpus is tokenized exactly " +
      "once (round 21: window k-cut + barrier-pinned source picks + " +
      "duplicate-sensitive exact sums)") {
    val df = SparkEntry.queries("x05")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    val finalPlan = ep.split("== Initial Plan ==")(0)
    assert("explode\\(split\\(trim\\(text".r.findAllIn(finalPlan).size == 1,
      s"x05 re-tokenized the corpus:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(3000))
  }

  test("x04: KMV k-cut is TakeOrderedAndProject over the distinct-hash " +
      "shuffle; the two 1-row aggregates never form a corpus product") {
    val p = plan("x04")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("m05: frame sampling is map-side only — no shuffle around the codec") {
    val p = plan("m05")
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("m06: audio framing/energy is map-side column HOFs — no key " +
      "shuffle, no UDF (loadSpread's round-robin compute-spread is the " +
      "only exchange)") {
    val p = plan("m06")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(2000))
  }

  test("w04: the heavy running-total window is keyed by (source, chunk), " +
      "not source alone — parallelism is not capped at the source count") {
    // packing must parallelize WITHIN a source: Window.partitionBy(source)
    // caps the heavy sort+prefix-sum at #sources tasks (r10 verdict: a
    // 100 TB corpus with a handful of corpora lands TBs on one task). The
    // two-phase prefix sum windows within (source, chunk) and repairs
    // offsets over the tiny chunk spine; a global ORDER BY (one reducer
    // holds the whole corpus) remains equally banned.
    val p = plan("w04")
    assert("windowspecdefinition\\(source#\\d+, chunk#\\d+L".r.findFirstIn(p).isDefined,
      s"heavy window must partition by (source, chunk):\n${p.take(3000)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort detected — packing must stay shard-local")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("w07: budget sampling windows within (source, hash-chunk) and " +
      "prunes past-budget chunks BEFORE the heavy sort") {
    val p = plan("w07")
    // the heavy running total is keyed by (source, chunk) and ordered by
    // the hash — never a per-source (or global) sort of the corpus
    assert("windowspecdefinition\\(source#\\d+, chunk#\\d+L, h#".r
      .findFirstIn(p).isDefined,
      s"selection window must partition by (source, chunk):\n${p.take(3000)}")
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the budget prune on the chunk offset sits below the selection
    // window: the plan filters chunk_offset before the (source, chunk)
    // window computes cum_tokens
    val wIdx = p.indexOf("windowspecdefinition(source#")
    val fIdx = p.indexOf("chunk_offset#")
    assert(fIdx >= 0, "chunk_offset prune missing from the plan")
    assert(p.substring(p.indexOf("+- ", wIdx)).contains("chunk_offset"),
      "budget prune must execute beneath the selection window")
  }

  test("w01: deterministic sample filter sits above the scan, no shuffle") {
    val p = plan("w01")
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("t08: per-document repetition stats are map-side only, no data shuffle") {
    // loadSpread's round-robin repartition (fanning a single-split file
    // across cores) is deliberate; what must NOT appear is a key-based
    // shuffle — the stats are per-row, no join or aggregation.
    val p = plan("t08")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("d03: simhash signatures are map-side only — no key shuffle, " +
      "no shingle explode, no aggregation") {
    // the round-9 SimHashF codegen expression replaced an
    // explode+md5+groupBy chain; this pins the map-side shape so a
    // refactor cannot silently reintroduce the corpus-sized shuffle
    val p = plan("d03")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Generate") && !p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("simhash"), p.take(2000))
  }

  test("s03: leaves nothing cached (query vectors self-assign, no diamond)") {
    // baseline-relative: other suites/tests may legitimately hold shared
    // state (e.g. the d02/d07 pair checkpoint) — s03 itself must add none
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("s03")(spark, sf)
    df.collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(base),
      "s03 must not persist anything — a long-lived session would leak cache")
  }

  test("d02/d07 share one verified-pair checkpoint; release leaves nothing cached") {
    val sc = spark.sparkContext
    SharedFrames.release(spark)
    val base = sc.getPersistentRDDs.keySet
    SparkEntry.queries("d02")(spark, sf).collect()
    val pairBlocks = sc.getPersistentRDDs.keySet -- base
    assert(pairBlocks.nonEmpty, "d02 must materialize the shared pair checkpoint")
    // second build of the same query must reuse the checkpoint, not re-run
    // the minhash pipeline and register fresh blocks
    SparkEntry.queries("d02")(spark, sf).collect()
    assert((sc.getPersistentRDDs.keySet -- base) == pairBlocks,
      "re-running d02 re-checkpointed instead of reusing")
    // d07 clusters the SAME blocks; on the distributed path its returned
    // label frame is held by the session until the release below
    spark.conf.set("spark.graft.cc.localMax", "0")
    try SparkEntry.queries("d07")(spark, sf).collect()
    finally spark.conf.unset("spark.graft.cc.localMax")
    assert(sc.getPersistentRDDs.keySet.exists(k => !base(k) && !pairBlocks(k)),
      "the distributed d07 result should still be held")
    SharedFrames.release(spark)
    assert(sc.getPersistentRDDs.keySet.subsetOf(base),
      "release must leave no cached RDDs behind")
  }

  test("sharedCheckpoint: spark.graft.checkpoint.dir routes the shared " +
      "frame to a reliable checkpoint (cluster-survivable)") {
    // unset (every other test), shared entries localCheckpoint — blocks
    // on executors, lost with them. With the conf set, the frame must go
    // through df.checkpoint() to the reliable store so executor loss
    // replays from files instead of re-running the minhash pipeline.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ck").toFile
    SharedFrames.release(spark)
    val base = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set("spark.graft.checkpoint.dir", tmp.getAbsolutePath)
    def anyFiles(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFiles))
    try {
      val df = SparkEntry.queries("d02")(spark, sf)
      df.collect() // materializes the lazy reliable checkpoint
      val dbg = df.rdd.toDebugString
      assert(dbg.contains("ReliableCheckpointRDD"), dbg.take(3000))
      // and the checkpoint files actually landed under the conf'd dir
      assert(anyFiles(tmp), s"no checkpoint files under $tmp")
      // the reliable path persists the upstream frame (so the lazy
      // checkpoint write reads cached blocks instead of re-running the
      // minhash pipeline) — that cache entry must exist while shared...
      assert(spark.sparkContext.getPersistentRDDs.keySet != base,
        "reliable path should hold the persisted upstream in cache")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      SharedFrames.release(spark)
    }
    // ...and release must evict it THROUGH THE CACHEMANAGER (the r17
    // RDD-registry diff saw nothing for a lazily-backed Dataset cache,
    // so the entry was unreleasable) and delete the checkpoint files the
    // engine wrote — a long-lived session leaves nothing behind.
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(base),
      "release must uncache the reliable path's persisted Dataset")
    assert(!anyFiles(tmp),
      s"release must delete the engine-written checkpoint files under $tmp")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(): Unit
    }
    rmTree(tmp)
  }

  test("d04 (r22): per-doc shingle counts ride the exploded frame — no " +
      "second corpus scan through the signature kernel and no count " +
      "joins (the barrier keeps the shingle array single-evaluated; " +
      "D04Piece measured the collapsed form 8x slower)") {
    val p = plan("d04")
    assert(!p.contains("minhash_sig"),
      "d04 must not rebuild counts via the signature kernel\n" + p.take(3000))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, // the self-join's two sides pre-AQE; reuse at exec
      s"expected at most 2 documents scans, saw $scans\n" + p.take(3000))
    // the pair shape's contract needs the per-doc count column `c`: a
    // frame without it is refused up front, not silently re-shaped
    import spark.implicits._
    val noCount = intercept[IllegalArgumentException](
      DedupQueries.coShinglePairs(Seq((1L, 7L)).toDF("doc_id", "s")))
    assert(noCount.getMessage.contains("`c`"), noCount.getMessage)
  }

  test("releaseShared deletes ONLY its own entry's checkpoint files: a " +
      "nested never-materialized outer entry must not delete the " +
      "inner's (ADVICE r18)") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    SharedFrames.release(spark)
    // reuse the live checkpoint root if an earlier test already pinned
    // one on this shared context (setCheckpointDir cannot be re-pointed)
    val root = sc.getCheckpointDir match {
      case Some(existing) =>
        new org.apache.hadoop.fs.Path(existing).getParent.toString
      case None =>
        java.nio.file.Files.createTempDirectory("graft-ck-nest").toString
    }
    spark.conf.set("spark.graft.checkpoint.dir", root)
    try {
      val inner = SharedFrames.shared(spark, sf, "ckNestInner")(_ =>
        spark.range(100).toDF("doc_a"))
      assert(inner.count() == 100) // materialize inner's rdd-N files
      val ckDir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      val fs = ckDir.getFileSystem(sc.hadoopConfiguration)
      def rddDirs(): Set[String] =
        fs.listStatus(ckDir).map(_.getPath.getName).toSet
      val before = rddDirs()
      assert(before.nonEmpty, s"inner checkpoint wrote nothing under $ckDir")
      // outer COMPOSES the inner's checkpointed frame and is never
      // materialized: under the old release-time lineage walk, releasing
      // it traversed outer's (untruncated) upstream plan into the inner
      // entry's materialized checkpoint and deleted files the live inner
      // entry still owned
      SharedFrames.shared(spark, sf, "ckNestOuter")(_ =>
        inner.filter(col("doc_a") < 50))
      SharedFrames.release(spark, "ckNestOuter")
      assert(rddDirs() == before,
        "releasing the unmaterialized outer entry touched the inner's files")
      assert(inner.count() == 100, "inner entry must stay readable")
      SharedFrames.release(spark, "ckNestInner")
      assert(rddDirs().isEmpty,
        "releasing the inner entry must delete its own files")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      SharedFrames.release(spark)
    }
  }

  test("a released shared entry fails loudly when read again, in both " +
      "checkpoint modes (never a silent recompute)") {
    val sc = spark.sparkContext
    SharedFrames.release(spark)
    // reliable mode reuses the live checkpoint root, as above
    val root = sc.getCheckpointDir match {
      case Some(existing) =>
        new org.apache.hadoop.fs.Path(existing).getParent.toString
      case None =>
        java.nio.file.Files.createTempDirectory("graft-ck-reread").toString
    }
    for (ckDir <- Seq(None, Some(root))) {
      ckDir.foreach(spark.conf.set("spark.graft.checkpoint.dir", _))
      try {
        val d02 = SparkEntry.queries("d02")(spark, sf)
        assert(d02.count() > 0)
        SharedFrames.release(spark, "minhash")
        val e = intercept[org.apache.spark.SparkException](d02.collect())
        assert(e.getMessage.contains(
          if (ckDir.isEmpty) "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" else "part-"),
          e.getMessage)
      } finally {
        spark.conf.unset("spark.graft.checkpoint.dir")
        SharedFrames.release(spark)
      }
    }
  }

  test("d11: multi-table LSH dedup is equi-join only — no product, no " +
      "hint, and the candidate join carries ids, not embedding payloads") {
    val df = SparkEntry.queries("d11")(spark, sf)
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "d11 carries a join hint")
    val p = plan("d11")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the (tbl, bkt) self-join must join projections WITHOUT the embedding
    // column — carrying payload arrays through the candidate join is the
    // d02 inverted-index mistake. The signature Generate BELOW the Project
    // legitimately reads the embedding; what must not happen is the
    // Project OUTPUTTING it into the join, so assert on the first Project
    // line on each side of the join (its bracketed output list).
    val afterJoin = p.linesIterator
      .dropWhile(l => !(l.contains("Join") && l.contains("bkt"))).toSeq
    assert(afterJoin.nonEmpty, p.take(3000))
    val inputProjects = afterJoin.tail
      .filter(_.contains("Project [")).take(2)
    assert(inputProjects.size == 2 && inputProjects.forall(!_.contains("embedding")),
      s"candidate join inputs carry embeddings:\n${inputProjects.mkString("\n")}")
  }

  test("d05 exact all-pairs: tiled equi-join, no nested-loop operator") {
    // the quadratic work must distribute as B^2 block tiles through hash
    // joins — a BroadcastNestedLoopJoin would serialize the whole corpus
    // through the driver's broadcast and cap scale.
    val p = plan("d05")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("d05 scale guard: refuses a corpus past the configured row bound") {
    // exact all-pairs must be un-launchable at 100 TB by accident
    spark.conf.set("spark.graft.d05.maxRows", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("d05")(spark, sf)
      }
      assert(e.getMessage.contains("O(n^2)") &&
        e.getMessage.contains("s02"), e.getMessage)
    } finally spark.conf.unset("spark.graft.d05.maxRows")
    // below the (default) bound the query still builds and runs
    assert(SparkEntry.queries("d05")(spark, sf).count() > 0)
    // maxRows <= 0 disables guard AND pre-count: a bound the corpus would
    // exceed, negated, must run — proving the count() gate is skipped
    spark.conf.set("spark.graft.d05.maxRows", "-10")
    try assert(SparkEntry.queries("d05")(spark, sf).count() > 0)
    finally spark.conf.unset("spark.graft.d05.maxRows")
  }

  test("d05 scale guard: a malformed spark.graft.d05.maxRows fails naming the key") {
    spark.conf.set("spark.graft.d05.maxRows", "1e6")
    val e = try intercept[IllegalArgumentException] {
      SparkEntry.queries("d05")(spark, sf)
    } finally spark.conf.unset("spark.graft.d05.maxRows")
    assert(e.getMessage == "spark.graft.d05.maxRows must be an integer: got '1e6'")
  }

  test("d14: prefix dedup hashes a BOUNDED token slice map-side into one " +
      "hash agg — no explode, no join, no text payload through the shuffle") {
    val p = plan("d14")
    assert(!p.contains("Generate explode"), "prefix hash must not explode tokens")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    // the shuffle carries (prefix_h, partial agg) only — never the text
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exch.contains("prefix_h") && !exch.contains("text#"), exch)
  }

  test("w08: bottom-k sample ranks within (source, hash-chunk) before the " +
      "per-source window sees only survivors — parallelism is not capped " +
      "at the source count") {
    val p = plan("w08")
    assert("windowspecdefinition\\(source#\\d+, chunk#\\d+L, h#".r
      .findFirstIn(p).isDefined,
      s"phase-1 window must partition by (source, chunk):\n${p.take(3000)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort detected — bottom-k must stay stratum-local")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("w08: two-phase bottom-k is bit-identical to the single-window " +
      "formulation (bottom-k of per-chunk bottom-k's IS the bottom-k)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val twoPhase = SparkEntry.queries("w08")(spark, sf)
      .orderBy("source", "rank").collect().toSeq
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val naive = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.md5Hash32(col("doc_id").cast("string"), seed = 8).as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("doc_id"), col("source"), col("h"), col("rank"))
      .orderBy("source", "rank").collect().toSeq
    assert(twoPhase == naive)
  }

  test("w09: stratified exact-k selection ranks within (source, bucket) — " +
      "never one window task per stratum — and the corpus-side joins are " +
      "broadcast") {
    val p = plan("w09")
    assert("windowspecdefinition\\(source#\\d+, bucket#\\d+L, h#".r
      .findFirstIn(p).isDefined,
      s"phase-2 rank must partition by (source, bucket):\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort detected — selection must stay histogram-pruned")
  }

  test("w09: two-phase histogram selection is bit-identical to the " +
      "single-window rank <= quota formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val twoPhase = SparkEntry.queries("w09")(spark, sf)
      .orderBy("source", "rank").collect().toSeq
    val docs = graft.Tables.load(spark, sf, "documents")
    val quota = docs.groupBy(col("source"))
      .agg(greatest(lit(1L), expr("count(1) div 10")).as("k_quota"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val naive = docs
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.md5Hash32(col("doc_id").cast("string"), seed = 9).as("h"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .join(quota, Seq("source"))
      .filter(col("rank") <= col("k_quota"))
      .select(col("doc_id"), col("source"), col("h"), col("rank"), col("k_quota"))
      .orderBy("source", "rank").collect().toSeq
    assert(twoPhase == naive)
  }

  test("x05: KMV set-op estimates agree with the exact reference columns " +
      "within sketch tolerance, and the union sketch is exact when the " +
      "union fills it") {
    val r = SparkEntry.queries("x05")(spark, sf).head()
    val (kObs, nInter) = (r.getLong(0), r.getLong(3))
    val est = r.getLong(2)
    val (jEst, jExact) = (r.getDouble(4), r.getDouble(7))
    val nUnion = r.getLong(6)
    assert(kObs <= 64 && nInter <= kObs)
    if (kObs < 64) assert(est == nUnion, "sub-filled sketch must be exact")
    else assert(math.abs(est - nUnion).toDouble / nUnion < 0.5,
      s"est_union $est vs exact $nUnion")
    assert(math.abs(jEst - jExact) < 0.3, s"jaccard $jEst vs $jExact")
  }

  test("q40: distributed ntile has no row-count-sized global sort — the " +
      "only unpartitioned window runs on the value-domain spine") {
    val p = plan("q40")
    // the corpus-side window must be keyed by bucket
    assert("windowspecdefinition\\(bucket#\\d+L, c_acctbal#".r
      .findFirstIn(p).isDefined, p.take(3000))
    // spine + offset join broadcast back to the fact side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q45: Pareto rank/prefix-sum is bucket-PARTITIONED (r12's weak: the " +
      "customer frame funneled through one unpartitioned WindowExec) — the " +
      "only partition-less window left runs on the band-bounded spine") {
    val p = plan("q45")
    // the customer-frame window (rank + cum_rev over rev desc, custkey)
    // must be keyed by the revenue band
    assert("windowspecdefinition\\(bucket#\\d+L, rev#\\d+L DESC".r
      .findFirstIn(p).isDefined, p.take(3000))
    // no unpartitioned window may touch a customer-frame column: every
    // windowspecdefinition that isn't bucket-keyed must be the spine's
    // (inputs n/srev — never rev/o_custkey directly)
    val unpart = "windowspecdefinition\\((?!bucket#)[^)]*".r
      .findAllIn(p).toSeq
    assert(unpart.forall(w => !w.contains("rev#") || w.contains("srev#")),
      s"unpartitioned window over the customer frame:\n${unpart.mkString("\n")}")
    // spine and totals broadcast back to the fact side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the rev frame (orders scan + custkey shuffle — the expensive part
    // at corpus scale) feeds bounds/bucketed/spine/totals; the four
    // consumers must share ONE exchange at runtime, not rescan orders
    val df = SparkEntry.queries("q45")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      s"rev subtree re-derived per consumer:\n${ep.take(3000)}")
  }

  test("d15: duplicated-span shuffles carry hashed longs only — the gram " +
      "text never leaves the map side, and nothing sorts") {
    val p = plan("d15")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exch.nonEmpty && !exch.contains("gram#") && !exch.contains("text#"),
      exch)
    assert(!p.contains("Exchange rangepartitioning"), "no sort expected")
  }

  test("s06: Lloyd-step centroids broadcast to the scan; the update is a " +
      "partial (map-side-combined) hash aggregate") {
    val p = plan("s06")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert("HashAggregate.*partial_count".r.findFirstIn(p).isDefined ||
      p.contains("partial_count") || p.contains("partial_avg"), p.take(3000))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "centroid cross join must be broadcast, not a partitioned cartesian")
  }

  test("d16: semantic-dedup assignment argmin is a codegen HashAggregate " +
      "over the packed long — never a struct-min_by SortAggregate sorting " +
      "the n×k explosion — and the assignment subplan is computed once") {
    // exchange reuse is an AQE runtime decision — execute for the final plan
    val df = SparkEntry.queries("d16")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate.*partial_min\\(packed".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("SortAggregate") && !p.contains("min_by"), p.take(3000))
    // centroids broadcast into the scan-side cross join
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p.take(3000))
    // the pair self-join reuses the cid-partitioned assignment exchange
    // instead of re-running assignment for the y side
    assert("ReusedExchange.*hashpartitioning\\(cid".r.findFirstIn(p).isDefined
      || "ReusedExchange".r.findAllIn(p).nonEmpty, p.take(3000))
  }

  test("s07: both recall arms prune to top-k via WindowGroupLimit and the " +
      "query set broadcasts — no global sort anywhere") {
    val p = plan("s07")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") &&
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), "no global sort expected")
  }

  test("t12: PII scrub is codegen regexps above the scan — no key shuffle, " +
      "no UDF (loadSpread's round-robin compute-spread is the only exchange)") {
    val p = plan("t12")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
  }

  test("w10: quality-weighted sampling is a codegen filter above the scan " +
      "— no shuffle of any kind, membership is a pure row function") {
    val p = plan("w10")
    assert(!p.contains("Exchange"), p.take(2000))
    assert("Filter.*10000".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("m09: audio fingerprinting is map-side integer HOFs into one hash " +
      "agg — the shuffle carries (n_frames, fp) keys only, no UDF") {
    val p = plan("m09")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exch.contains("fp#") || exch.contains("n_frames#"), p.take(3000))
    assert(!exch.contains("fe#"), "energy arrays must not cross a shuffle:\n" + exch)
  }

  test("m07: scene-change detection is map-side column HOFs — no key " +
      "shuffle, no UDF (the m05/m06 CPU-floor class)") {
    val p = plan("m07")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(2000))
  }

  test("m08: perceptual near-dup joins on (band_i, band_v) over the " +
      "DISTINCT-hash set — equi-join only, and no shuffle carries text") {
    val p = plan("m08")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("band_v")).getOrElse("")
    assert(joinLine.contains("band_i"), s"band join missing:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exch.contains("text#"), exch)
  }

  test("t13: unigram-surprise reuses the exploded-token exchange between " +
      "the vocab agg and the per-doc join (the t10 diamond), and the nll " +
      "basis is the fixed-point long — no double sum crosses a shuffle") {
    val df = SparkEntry.queries("t13")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p.take(3000))
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exch.contains("nll"), "the nll must aggregate as a long:\n" + exch)
    assert("partial_sum\\(nll_e4".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("d17: leakage audit joins shingles equi only — no doc×doc product, " +
      "and no text payload crosses a shuffle") {
    val p = plan("d17")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exch.nonEmpty && !exch.contains("text#"), exch)
  }

  test("s08: k-NN graph is a bucket-keyed self-equi-join with the top-k " +
      "WindowGroupLimit-pruned — no all-pairs product anywhere") {
    val p = plan("s08")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("bucket")).getOrElse("")
    assert(joinLine.nonEmpty, p.take(3000))
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("w11: mixture fill windows within (source, hash-chunk) like w07 — " +
      "never source alone — and the per-source budget frame broadcasts") {
    val p = plan("w11")
    assert("windowspecdefinition\\(source#\\d+, chunk#".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q41: cohort retention is two hash aggregates + a broadcast of the " +
      "tiny cohort dimension — no global sort, no product") {
    val p = plan("q41")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("t14: KL drift rolls BOTH marginals up from one per-(source,tok) " +
      "aggregate — the exploded-token frame is scanned once") {
    val df = SparkEntry.queries("t14")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the (source, tok) aggregate's exchange is reused for the corpus
    // marginal instead of re-exploding the corpus
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("d18: the dedup manifest left-joins the corpus against the " +
      "resolved clusters — no product, clusters never re-derived") {
    val p = plan("d18")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("LeftOuter") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("d19: calibration keeps d02's scale shapes — map-side signatures " +
      "(no shingle explode before the band join), equi-joins only") {
    // d19 reads the shared checkpoint (its own plan explains as a bare
    // Scan ExistingRDD), so the scale shapes live in the pre-checkpoint
    // calibration pipeline — the same frame d02/d07 materialize
    val p = DedupQueries.minhashPairsForPlan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("minhash_sig") || p.contains("MinHashSig"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("d02 build (r22): the verify half consumes the MATERIALIZED " +
      "candidate frame — the signature/band pipeline is never re-run " +
      "below it (was 4 re-runs / 12 documents scans in the r21 plan)") {
    val scope = new SharedFrames.Scope
    val cand = scope.checkpoint(DedupQueries.candidatePairs(spark, sf), eager = false)
    val p = try DedupQueries.calibrationPairs(spark, sf, cand)
      .queryExecution.executedPlan.toString
    finally scope.release()
    // no signature recompute anywhere in the verify half...
    assert(!p.contains("minhash_sig") && !p.contains("MinHashSig"),
      p.take(3000))
    // ...its candidate inputs are block scans...
    assert(p.contains("ExistingRDD"), p.take(3000))
    // ...and the only parquet work left is the shd shingle explode
    // (2 scan nodes pre-AQE: the self-join's two sides; ReusedExchange
    // collapses them at execution when the planner keeps the SMJ)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"verify half should scan documents at most " +
      s"twice, saw $scans:\n${p.take(3000)}")
  }

  test("d19 reuses d02's shared materialization — no second minhash " +
      "pipeline run, no new cached blocks") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    SharedFrames.release(spark, "minhash")
    val base = sc.getPersistentRDDs.keySet
    SparkEntry.queries("d02")(spark, sf).collect()
    val pairBlocks = sc.getPersistentRDDs.keySet -- base
    assert(pairBlocks.nonEmpty, "d02 must materialize the shared checkpoint")
    val d19 = SparkEntry.queries("d19")(spark, sf)
    // the calibration audit is a projection over the checkpoint: its plan
    // must be the RDD scan, not a rebuilt signature/band/verify pipeline
    val p = d19.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") && !p.contains("minhash_sig"),
      p.take(3000))
    d19.collect()
    assert((sc.getPersistentRDDs.keySet -- base) == pairBlocks,
      "d19 must not register new blocks — it reads d02's checkpoint")
    // and the audit is a SUPERSET of the verified pairs: every d02 pair
    // appears with j_exact >= 0.5
    val verified = SparkEntry.queries("d02")(spark, sf).count()
    val auditHigh = d19.filter(col("j_exact") >= 0.5).count()
    assert(auditHigh == verified,
      s"audit >=0.5 rows ($auditHigh) must equal d02's verified pairs ($verified)")
    SharedFrames.release(spark, "minhash")
  }

  test("w12: curriculum deciles rank (qb)-partitioned against a broadcast " +
      "value-domain spine — no row-count-sized global sort (q40's shape)") {
    val p = plan("w12")
    assert("windowspecdefinition\\(qb#\\d+L, doc_id#".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q42: per-user anomaly stats broadcast back onto the event stream " +
      "— one user-keyed aggregate, no global sort") {
    val p = plan("q42")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("q46: strict funnel is ONE events scan + ONE user-keyed shuffle — " +
      "chained windows share the partitioning, no join anywhere, and the " +
      "only other exchange is the final 1-row rollup") {
    val p = plan("q46")
    assert(!p.contains("Join"), p.take(3000))
    assert("windowspecdefinition\\(user_id#".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"stage joins crept back in:\n${p.take(3000)}")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "the staged form scanned events up to six times")
  }

  test("q47: transition matrix is ONE user-keyed window shuffle + a " +
      "type-pair hash agg with the totals dimension broadcast back — " +
      "the window pass runs once (totals come off the pair frame)") {
    val p = plan("q47")
    assert("windowspecdefinition\\(user_id#".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"),
      "no global sort belongs in a transition count")
    // exchange reuse is an AQE runtime decision — execute for the final
    // plan (the d16/t17 pattern): the totals branch must ride the pair
    // aggregate's exchange, not re-run the scan+sort+window subtree
    val df = SparkEntry.queries("q47")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      s"totals re-derived the window subtree:\n${ep.take(3000)}")
  }

  test("t17: bigram PMI cuts top-30 with TakeOrderedAndProject and probes " +
      "the vocabulary-sized unigram frame with the 30-row side broadcast " +
      "— the unigram table itself must never be the build side — and the " +
      "bigram total reuses the count exchange instead of a third scan") {
    val p = plan("t17")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here means the unigram frame got shuffled")
    // exchange reuse is an AQE runtime decision — execute for the final
    // plan (the d16 pattern); two scans (bigram + unigram), never three
    val df = SparkEntry.queries("t17")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      "n_bg must ride the bigram-count exchange, not a third corpus scan")
  }

  test("w13: weighted Poisson sample is a shuffle-free integer hash gate " +
      "— exactly one exchange (the source-keyed agg), no join anywhere") {
    val p = plan("w13")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("x08: AMS sketch's sign sum combines map-side (partial_sum) so the " +
      "sketch shuffle carries R rows, never the corpus; the exact side " +
      "joins back as a 1-row broadcast") {
    val p = plan("x08")
    assert("HashAggregate.*partial_sum".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("s09: silhouette centroids broadcast onto the scan (k-row build " +
      "side), the a/b reduction is a map-side-combined hash agg, and the " +
      "fixed-point mean keys one label-sized exchange") {
    val p = plan("s09")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert("HashAggregate.*partial_min".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q44: ONE basket aggregation (collect_set per order) feeds pair " +
      "expansion map-side — no self-join, the basket exchange reused by " +
      "the pair and part-count consumers; no cartesian") {
    val df = SparkEntry.queries("q44")(spark, sf)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    // round-21 restructure: the baskets come from one collect_set
    // aggregate keyed by l_orderkey (the old distinct + n_part>=2
    // pre-prune + order-keyed self-join collapsed into it; the prune is
    // subsumed exactly by the n_orders >= 2 support gate below)
    assert("ObjectHashAggregate.*collect_set\\(l_partkey".r
      .findFirstIn(ep).isDefined, s"basket aggregate missing:\n${ep.take(3000)}")
    assert(!ep.contains("SortMergeJoin") &&
      "Join Inner.*l_orderkey".r.findFirstIn(ep).isEmpty,
      s"q44 must not self-join on l_orderkey any more:\n${ep.take(3000)}")
    // pair support gate above the pair aggregate
    assert("Filter \\(n_orders#\\d+L >= 2\\)".r.findFirstIn(ep).isDefined,
      ep.take(3000))
    // the basket exchange is computed once and reused (pair expansion +
    // part counts); the totals branch legally prunes to a bare
    // l_orderkey distinct-count scan (the optimizer rewrites
    // count(parts) over the grouped frame to it — a narrower shuffle
    // than rereading the fat basket exchange)
    assert(ep.contains("ReusedExchange"),
      s"basket exchange re-derived per consumer:\n${ep.take(3000)}")
    // count scans in the FINAL plan only — AdaptiveSparkPlan.toString
    // appends the pre-reuse "== Initial Plan ==" section, which legally
    // repeats the scan per consumer. Two scans is the designed shape:
    // the basket frame (reused for pairs and part counts) and the
    // column-pruned totals branch. Three+ means a consumer lost reuse.
    val finalPlan = ep.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(finalPlan).size <= 2,
      "a q44 consumer re-scanned lineitem instead of reusing its exchange")
    // the only nested loop is the 1-row totals cross; never a cartesian
    assert(!ep.contains("CartesianProduct"), ep.take(3000))
  }

  test("driver smoke contract: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every query carries an oracle — round 16 closed the board: the last
    // two engine-specific sketches (x01/x02) were replaced by portable
    // md5-keyed / fixed-geometry forms whose state is oracle-exact
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).isEmpty,
      "query without an oracle")
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty,
      "oracle without a query")
  }
}
