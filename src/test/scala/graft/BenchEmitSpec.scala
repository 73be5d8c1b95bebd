package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract on Bench's stdout: the metric line is printed
  * last and must survive, INTACT AND PARSEABLE, in the driver's 2,000-byte
  * tail capture — which also retains sbt's `[success] Total time ...`
  * epilogue after it. r2, r7 and r9 each lost the round's bench total to
  * this window (r9: the 1,932-byte line + the 74-byte epilogue overran by
  * 6 bytes), so the tail contract is tested END TO END here: compose the
  * real lines plus the epilogue, take the last 2,000 bytes, JSON-parse.
  *
  * Round-14 contract (the EIGHTH-round emission fix): the metric line
  * carries EXACTLY r8's field set {metric,value,unit,queries,sf} in that
  * order and NOTHING else, AND it must be the FIRST (and only)
  * `{"metric":...}`-shaped line inside the tail window. r13 emitted a
  * byte-perfect five-field line and STILL recorded parsed:null because
  * its `{"metric":"bench_trust",...}` line preceded it in-window and the
  * driver's parser grabs the first metric-shaped line it sees (the only
  * model consistent with all 13 rounds of tails). The trust data
  * (contaminated/canary_x/canary_max/cpu_ref/mt_x) therefore lives on a
  * DE-SHAPED `{"bench_trust":{...}}` line printed BEFORE the >2 KB detail
  * line, so on a full-suite run it is evicted from the window entirely.
  *
  * Also pins the contamination policy: median canary flag PLUS canary_max
  * (one blown canary must flag — r9's q16 ran 17× while the median said
  * clean) PLUS a whole-suite total-canary immune to burst placement, PLUS
  * (round 13) a string-CPU canary — r12's driver window ran t08 at 35×
  * while the three all-relational canaries read 1.02 — PLUS (round 14) a
  * shuffle-regime canary: r13's driver window ran the dedup family at
  * 1.9–4.4× pin while all four scan/CPU canaries read clean.
  */
class BenchEmitSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  /** sbt's post-run epilogue as the driver's tail window sees it (r9
    * measured 72–74 bytes; the time/date widths vary, so model a wide one).
    */
  private val epilogue =
    "\n[success] Total time: 12345 s, completed Aug 14, 2026, 12:34:56 PM\n"

  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  private val fullTrust = Bench.trustLine("sf0.1", contaminated = Some(false),
    canaryX = Some(1.38), canaryMax = Some(1.52), cpuRef = Some(0.152),
    mtX = Some(12.3)).get

  test("THE R8 FIELD-SET CONTRACT: the metric line carries EXACTLY " +
      "{metric,value,unit,queries,sf}, in that order, nothing else") {
    val line = Bench.metricLine(names.map(_ -> 0.987), "sf0.1")
    val node = parse(line)
    val fields = {
      val it = node.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).toSeq
    }
    assert(fields == Seq("metric", "value", "unit", "queries", "sf"),
      s"r8 (the only parsed shape) had exactly these five fields in this " +
        s"order; r9-r12 appended trust fields and all failed to parse. Got: " +
        s"$fields")
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
    // and the same holds when the map degrades away
    val degraded = parse(Bench.metricLine(
      (1 to 500).map(i => f"q$i%03d_long_padding_name" -> 12345.678), "sf0.1"))
    val dFields = {
      val it = degraded.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).toSeq
    }
    assert(dFields == Seq("metric", "value", "unit", "sf"))
  }

  test("trust fields live on their own DE-SHAPED bench_trust line — never " +
      "{\"metric\"-prefixed (the r13 parse killer) — bounded by " +
      "TrustLineReserve, and absent fields are omitted") {
    assert(fullTrust.startsWith("""{"bench_trust":{"""),
      "the trust line must lead with the bench_trust key so the driver's " +
        "first-metric-line parser can never grab it")
    assert(!fullTrust.contains("\"metric\""),
      "r13: a {\"metric\":\"bench_trust\",...} line preceding the totals " +
        "line in-window was grabbed first and recorded parsed:null")
    assert(fullTrust.endsWith(""""sf":"sf0.1"}"""))
    val node = parse(fullTrust).get("bench_trust")
    assert(!node.get("contaminated").asBoolean)
    assert(node.get("canary_x").asDouble == 1.38)
    assert(node.get("canary_max").asDouble == 1.5)
    assert(node.get("cpu_ref").asDouble == 0.152)
    assert(node.get("mt_x").asDouble == 12.3)
    assert(fullTrust.length + 1 <= Bench.TrustLineReserve,
      s"trust line ${fullTrust.length} B must stay bounded so a short " +
        "SPARK_GRAFT_ONLY run keeps all three lines in-window")
    // nothing evaluated => no line at all (absence = "not evaluated")
    assert(Bench.trustLine("sf0.01").isEmpty)
    // partial evaluation keeps only what was judged
    val partial = Bench.trustLine("sf0.1", cpuRef = Some(0.2)).get
    assert(!partial.contains("contaminated") && partial.contains("cpu_ref"))
  }

  test("END TO END (the r13 lesson): in trust→detail→total order the " +
      "totals line is the FIRST AND ONLY metric-shaped line in the " +
      "2,000-byte tail window, survives intact, and JSON-parses") {
    val timings = names.map(_ -> 0.987)
    val line = Bench.metricLine(timings, "sf0.1")
    // What the driver captures: last TailCaptureBytes of (trust line,
    // …detail…, metric line, epilogue). The full-suite detail line is
    // >2 KB, so the trust line is evicted and the metric line must be the
    // only {"metric"-shaped line left in-window — the shape of every
    // round that ever parsed (r3/r4/r6/r8).
    val trustInner = Bench.trustFields(contaminated = Some(false),
      canaryX = Some(1.38), canaryMax = Some(1.52), cpuRef = Some(0.152),
      mtX = Some(12.3))
    val detail = Bench.detailLine(timings, names.map(_ -> 3), "sf0.1",
      Seq(0.04, 0.05, 0.04), Seq(0.08, 0.09, 0.08), trustInner)
    val stdout = fullTrust + "\n" + detail + "\n" + line + epilogue
    val tail = stdout.takeRight(Bench.TailCaptureBytes)
    assert(tail.contains(line), "metric line truncated by the tail window")
    val metricShaped = tail.linesIterator
      .filter(_.startsWith("""{"metric"""")).toSeq
    assert(metricShaped == Seq(line),
      "the totals line must be the ONLY {\"metric\"-prefixed line in the " +
        s"tail — the driver grabs the first one it sees. Got: $metricShaped")
    // and no line fragment in the tail is metric-shaped mid-line either:
    // the first complete metric-shaped occurrence is the totals line
    assert(tail.indexOf("""{"metric"""") == tail.indexOf(line),
      "a metric-shaped fragment precedes the totals line in the tail")
    val node = parse(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("value").asDouble > 0)
    // ROUND 15 (the r14 lesson): the round-of-record artifact is ONLY this
    // tail, and the standalone trust line is (by design) evicted on a
    // full-suite run — so the contamination verdict must survive via the
    // detail line's tail appendix, after mt_refs, in-window and intact.
    assert(tail.contains(""""trust":{"contaminated":false"""),
      "the trust appendix on the detail line must survive the tail window " +
        "so the round of record keeps the contamination verdict")
    assert(tail.contains(""""canary_max":1.5""") && tail.contains(""""mt_x":12.3"""))
    assert(detail.indexOf(""""mt_refs"""") < detail.indexOf(""""trust":"""),
      "trust rides AFTER mt_refs — the segment proven to survive in-window")
  }

  test("short SPARK_GRAFT_ONLY runs: all three lines fit in-window and " +
      "the totals line is still the only metric-shaped one") {
    val subset = names.take(5).map(_ -> 0.987)
    val line = Bench.metricLine(subset, "sf0.1")
    // model what main() actually emits: the detail line ALWAYS carries the
    // trust appendix, so the in-window claim must hold with those extra
    // ~120 bytes present
    val detail = Bench.detailLine(subset, subset.map(_._1 -> 3), "sf0.1",
      Seq(0.04), Seq(0.08), Bench.trustFields(contaminated = Some(false),
        canaryX = Some(1.38), canaryMax = Some(1.52), cpuRef = Some(0.152),
        mtX = Some(12.3)))
    val stdout = fullTrust + "\n" + detail + "\n" + line + epilogue
    val tail = stdout.takeRight(Bench.TailCaptureBytes)
    assert(tail.contains(fullTrust) && tail.contains(detail) &&
      tail.contains(line))
    assert(tail.linesIterator.filter(_.startsWith("""{"metric"""")).toSeq ==
      Seq(line),
      "even with the trust line in-window, only the totals line may be " +
        "metric-shaped — the de-shaping is what guarantees it")
  }

  test("FULL SUITE DRIVER CONTRACT (the r11 lesson): the driver-facing line " +
      "carries the FULL per-query map under the declared registry names — " +
      "which are the short codes — and fits the tail window") {
    // Every round the driver parsed (r3/r4/r6/r8) carried a full-name
    // per-query map; r10's code-keyed map and r11's map-less line both
    // recorded parsed:null. The driver therefore REQUIRES the map keyed by
    // the declared names. 95 descriptive names needed >=2,260 B — over the
    // window at any precision — so round 12 renamed the registry to the
    // short codes: a map-bearing ladder step must land for the full suite
    // even with the trust line's worst-case reserve.
    val timings = names.map(_ -> 0.987)
    val line = Bench.metricLine(timings, "sf0.1")
    assert(line.length <= Bench.TailCaptureBytes - Bench.SafetyMargin,
      s"metric line is ${line.length} bytes for ${names.size} queries")
    assert(Bench.SafetyMargin >= 150, "r9: epilogue + headroom needs >=150")
    assert(line.startsWith("""{"metric":"total""""))
    assert(line.endsWith(""""sf":"sf0.1"}"""))
    val node = parse(line)
    val q = node.get("queries")
    assert(q != null && q.size == names.size,
      "the full-suite line must carry the complete per-query map under " +
        "the declared (short-code) names — the only shape the driver parses")
    assert(names.forall(q.has), "every registry key must appear in the map")
    assert(names.forall(_.length <= 4),
      "registry keys must stay short codes; a long name regression would " +
        "push the map back over the tail window")
    assert(node.get("keys") == null, "keys:code marker must be gone")
    assert(!line.contains("\"runs\""), "runs belongs on the detail line only")
    assert(!line.contains("contaminated") && !line.contains("canary") &&
      !line.contains("cpu_ref") && !line.contains("mt_x"),
      "trust fields on the metric line are the proven r9-r12 parse killer")
  }

  test("the map rides at 2 decimals (the r15 shrink experiment: the one " +
      "untested parsed:null model is a tail window under 2,000 B; full " +
      "precision lives on the detail line)") {
    val subset = names.take(5).map(_ -> 0.987)
    val line = Bench.metricLine(subset, "sf0.1")
    val node = parse(line)
    val q = node.get("queries")
    assert(q != null && q.size == 5 && q.has(names.head))
    assert(math.abs(q.get(names.head).asDouble - 0.99) < 1e-9,
      "ladder starts at 2 decimals since r15 — 3-decimal full-suite lines " +
        "(~1,690 B + prefix + epilogue) are the only remaining overrun model")
    assert(node.get("keys") == null)
    // and the full suite stays at 2 decimals too (it fits comfortably)
    val full = parse(Bench.metricLine(names.map(_ -> 0.987), "sf0.1"))
    assert(math.abs(full.get("queries").get(names.head).asDouble - 0.99) < 1e-9)
  }

  test("absurdly slow suites degrade rather than exceed the budget") {
    val timings = names.map(_ -> 999999.999)
    val line = Bench.metricLine(timings, "sf0.1")
    assert(line.length <= Bench.TailCaptureBytes - Bench.SafetyMargin)
    assert(line.contains("\"metric\":\"total\",\"value\":"))
  }

  test("metric line never exceeds the budget even with absurd suite growth " +
      "(map drops, total survives)") {
    val many = (1 to 500).map(i => f"q${i}%03d_very_long_query_name_padding" -> 12345.678)
    val line = Bench.metricLine(many, "sf0.1")
    assert(line.length <= Bench.TailCaptureBytes - Bench.SafetyMargin)
    assert(line.contains("\"metric\":\"total\",\"value\":"))
    assert(parse(line).get("value").asDouble > 0)
    assert(parse(line).get("queries") == null)
  }

  test("failed queries are excluded from the total but reported as -1") {
    val timings = Seq("a" -> 1.0, "b" -> -1.0, "c" -> 2.5)
    val line = Bench.metricLine(timings, "sfX")
    assert(line.contains("\"value\":3.500"))
    assert(line.contains("\"b\":-1"))
  }

  test("detail line carries full-precision timings, run counts, and the " +
      "individual cpu_ref samples") {
    val line = Bench.detailLine(Seq("a" -> 1.2345), Seq("a" -> 3), "sfX",
      Seq(0.039, 0.172, 0.041), Seq(0.08, 0.35, 0.09))
    assert(line.contains("\"a\":1.235") && line.contains("\"runs\":{\"a\":3}"))
    assert(line.contains("\"cpu_refs\":[0.039,0.172,0.041]"))
    assert(line.contains("\"mt_refs\":[0.080,0.350,0.090]"))
  }

  // --- contamination canary ---

  /** Non-canary queries are filled at 0.5 s; UNSPECIFIED canaries default
    * to their own clean pins (factor 1.0), NOT the filler — round 14
    * shipped a new canary (d01) whose 0.5 s filler read as a phantom
    * 2.008× elevation in every fixture that didn't name it, flipping two
    * verdict tests. Pin-by-default means adding a canary can never
    * silently re-shape existing fixtures again.
    */
  private def suiteWith(canaries: (String, Double)*): Seq[(String, Double)] = {
    val cs = canaries.toMap
    names.map(n => n -> cs.getOrElse(n,
      Bench.CanaryCleanSf01.getOrElse(n, 0.5)))
  }

  /** Canary timings as elevation FACTORS over their current pins, so the
    * fixtures survive each round's pin refresh. t08 (the round-13
    * string-CPU canary) and d01/d06 (the round-14/15 shuffle canaries)
    * default to clean. */
  private def suiteAtFactors(q02x: Double, q16x: Double, q30x: Double,
                             t08x: Double = 1.0, d01x: Double = 1.0,
                             d06x: Double = 1.0): Seq[(String, Double)] =
    suiteWith(
      "q02" -> Bench.CanaryCleanSf01("q02") * q02x,
      "q16" -> Bench.CanaryCleanSf01("q16") * q16x,
      "q30" -> Bench.CanaryCleanSf01("q30") * q30x,
      "t08" -> Bench.CanaryCleanSf01("t08") * t08x,
      "d01" -> Bench.CanaryCleanSf01("d01") * d01x,
      "d06" -> Bench.CanaryCleanSf01("d06") * d06x)

  test("the canary set spans all three regimes: relational scan-aggs, a " +
      "string-CPU documents query (the r12 blind spot), and TWO shuffle " +
      "queries (the r13 blind spot + the moderate-band corroborator)") {
    // scan-aggs q02/q16/q30; t08 because the r12 benchmark window ran the
    // text family 8-35x over pin while canary_x read 1.02 off three
    // lineitem scans; d01 AND d06 because the r13 dedup family ran
    // 1.9-4.4x while scan/CPU canaries read clean, and a LONE shuffle
    // canary in the moderate 1.75-3x band can never satisfy the
    // >=2-canary rule
    assert(Bench.CanaryCleanSf01.keySet ==
      Set("q02", "q16", "q30", "t08", "d01", "d06"))
    assert(Bench.CanaryCleanSf01.keySet.subsetOf(names.toSet),
      "every canary must be a registry query or its timing never appears")
  }

  test("THE R13 DRIVER SHAPE: both shuffle canaries at 1.9x (the moderate " +
      "band a lone shuffle canary could not flag) now flags via the " +
      ">=2-canary rule while scan/CPU canaries read clean") {
    val timings = suiteAtFactors(1.05, 1.0, 1.1, t08x = 1.1,
      d01x = 1.9, d06x = 1.9)
    assert(Bench.contaminationFlag(timings, "sf0.1", Map.empty).contains(true),
      "the r13 disturbance started at 1.9x on the dedup family; with d06 " +
        "corroborating d01 that shape must auto-flag")
    // one shuffle canary alone in the same band stays unflagged (noise vs
    // regime is exactly what the second canary disambiguates)
    val lone = suiteAtFactors(1.05, 1.0, 1.1, d01x = 1.9)
    assert(Bench.contaminationFlag(lone, "sf0.1", Map.empty).contains(false))
  }

  test("THE R12 DRIVER SHAPE: t08 at 35x with all relational canaries " +
      "clean flags contaminated=true via canary_max") {
    val timings = suiteAtFactors(1.02, 1.0, 1.05, t08x = 35.6)
    assert(Bench.contaminationFlag(timings, "sf0.1", Map.empty).contains(true),
      "r12 recorded contaminated:false for exactly this shape")
    assert(Bench.canaryMax(timings, "sf0.1").get > 30.0)
  }

  test("clean canary medians report contaminated=false on the trust line") {
    val timings = suiteWith(
      "q02" -> 0.17, "q16" -> 0.10,
      "q30" -> 0.09, "t08" -> 0.36)
    val flag = Bench.contaminationFlag(timings, "sf0.1", Map.empty)
    assert(flag.contains(false))
    val line = Bench.trustLine("sf0.1", flag).get
    assert(line.contains("\"contaminated\":false"))
  }

  test("a session-wide 1.9x elevation (the r8 shape) flags contaminated=true") {
    val timings = suiteAtFactors(1.9, 1.9, 1.9, 1.9)
    val flag = Bench.contaminationFlag(timings, "sf0.1", Map.empty)
    assert(flag.contains(true))
    assert(Bench.trustLine("sf0.1", flag).get
      .contains("\"contaminated\":true"))
  }

  test("THE R9 DRIVER SHAPE: one canary at 17x with the others clean " +
      "flags contaminated=true via canary_max") {
    val timings = suiteAtFactors(1.04, 17.4, 1.15)
    assert(Bench.contaminationFlag(timings, "sf0.1", Map.empty).contains(true),
      "r9 recorded contaminated:false for exactly this shape")
    val mx = Bench.canaryMax(timings, "sf0.1").get
    assert(mx > 17.0 && mx < 18.0, s"canary_max $mx")
    // the median still reads clean — which is WHY canary_max must exist
    assert(Bench.canaryRatio(timings, "sf0.1").get < 1.2)
  }

  test("one mildly elevated canary (<=3x) alone does not flag (single-" +
      "query noise is median-of-3's job)") {
    val timings = suiteAtFactors(2.5, 1.0, 1.0)
    assert(Bench.contaminationFlag(timings, "sf0.1", Map.empty).contains(false))
  }

  test("whole-suite total-canary: a burst that misses all canaries " +
      "but elevates the suite 1.6x flags contaminated=true") {
    // Pins: the canaries at their real clean values, everything else 0.5 —
    // so the canary ratios stay realistic while the suite elevates.
    val pins = names.map(n =>
      n -> Bench.CanaryCleanSf01.getOrElse(n, 0.5)).toMap
    def elevated(f: Double, canaryF: Double) = names.map { n =>
      n -> pins(n) * (if (Bench.CanaryCleanSf01.contains(n)) canaryF else f)
    }
    val burst = elevated(1.6, 1.2)
    assert(Bench.contaminationFlag(burst, "sf0.1", pins).contains(true),
      "burst-pattern contention must be caught by the total even when " +
        "canary placement misses it (the r9 failure class)")
    val tr = Bench.totalRatio(burst, "sf0.1", pins).get
    assert(tr > 1.5 && tr < 1.65, s"totalRatio $tr")
    // mild steady-sharing (1.2x everywhere) stays below the threshold
    assert(Bench.contaminationFlag(elevated(1.2, 1.2), "sf0.1", pins)
      .contains(false))
  }

  test("total-canary is not evaluated when pins cover <80% of the suite " +
      "or off sf0.1; failed queries are excluded from both sides") {
    val pins = names.take(names.size / 2).map(_ -> 0.5).toMap
    val timings = names.map(_ -> 5.0)
    assert(Bench.totalRatio(timings, "sf0.1", pins).isEmpty)
    val full = names.map(_ -> 0.5).toMap
    assert(Bench.totalRatio(timings, "sf0.01", full).isEmpty)
    val withFail = timings.updated(0, timings.head._1 -> -1.0)
    val tr = Bench.totalRatio(withFail, "sf0.1", full).get
    assert(tr > 9.9 && tr < 10.1, s"failed query leaked into the ratio: $tr")
  }

  test("flag is not evaluated off sf0.1 or when canaries are absent/failed " +
      "and no total pins exist") {
    val timings = suiteWith(
      "q02" -> 0.9, "q16" -> 0.9,
      "q30" -> 0.9)
    assert(Bench.contaminationFlag(timings, "sf0.01").isEmpty)
    val failed = timings.map { case (n, v) =>
      n -> (if (Bench.CanaryCleanSf01.contains(n)) -1.0 else v)
    }
    assert(Bench.contaminationFlag(failed, "sf0.1", Map.empty).isEmpty)
  }

  test("canary_x is the graded elevation even when the boolean stays false " +
      "(the CPU-contention gray zone)") {
    // The r9 shape: scan canaries ~1.4x (under the 1.75 flag threshold)
    // while compute-bound queries ran ~2x — the ratio must surface the
    // elevation the boolean collapses to false.
    val timings = suiteAtFactors(1.39, 1.32, 1.48, 1.41)
    assert(Bench.contaminationFlag(timings, "sf0.1", Map.empty).contains(false))
    val x = Bench.canaryRatio(timings, "sf0.1").get
    assert(x > 1.3 && x < 1.5, s"median ratio $x")
    val mx = Bench.canaryMax(timings, "sf0.1").get
    assert(mx > 1.4 && mx < 1.55, s"max ratio $mx")
    // not evaluated off sf0.1, same rule as the flag
    assert(Bench.canaryRatio(timings, "sf0.01").isEmpty)
    assert(Bench.canaryMax(timings, "sf0.01").isEmpty)
  }

  test("cpu_ref is a positive sub-10s fixed workload") {
    val t = Bench.cpuRefSec()
    assert(t > 0.0 && t < 10.0, s"cpu_ref $t")
  }

  test("cpu_ref_mt runs 16 concurrent copies; on a non-pathological box the " +
      "parallel batch costs less than 16x one copy") {
    val st = Bench.cpuRefSec()
    val mt = Bench.cpuRefMtSec()
    assert(mt > 0.0 && mt < 60.0, s"cpu_ref_mt $mt")
    // ratio ~1 idle, rises with core contention; full serialization is
    // ~16x, and on a single-core or heavily loaded box thread scheduling
    // overhead can push slightly past it — bound at 2x threads so the
    // probe test itself is not flaky in exactly the constrained
    // environments it exists to measure.
    assert(mt / st < 2.0 * Bench.CpuRefMtThreads, s"mt/st ${mt / st}")
  }
}
