package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SharedFrames, Tables}
import graft.functions.TextFns

/** Deterministic sampling for training-data assembly. Everything here is
  * hash-gated, never RNG-gated: `sample()`/`rand()` change membership on
  * every retry, repartition, and re-run, which silently breaks resumable
  * 100 TB jobs and train/test hygiene. A content/id hash makes membership a
  * pure function of the row — stable across runs, engines (the DuckDB
  * oracle reproduces it exactly), and cluster layouts, and it executes as a
  * codegen'd filter right above the scan (no shuffle, no state).
  *
  * Hash families are independent per use (seeded [[TextFns.md5Hash32]]), so
  * e.g. the 5% sample (w01) is uncorrelated with the train/val/test split
  * (w03) — sampling with the SAME hash would make "val" a subset of the
  * sample, leaking splits.
  */
object SamplingQueries {

  private def pct(c: org.apache.spark.sql.Column, seed: Int) =
    TextFns.md5Hash32(c.cast("string"), seed) % 100

  /** t02's quality score on the floored ×10⁴ integer basis — the
    * FP-parity-safe form w10 gates on and w12 ranks on (integer compares
    * and integer histograms downstream; the only FP rounding site is the
    * floor, which t02's green oracle already pins). */
  private def qBasis: org.apache.spark.sql.Column = {
    val toks = TextFns.tokens(col("text"))
    val alphaRatio = TextFns.charClassRatio(col("text"), "[a-z]")
    val stopRatio = TextFns.tokenSetRatio(toks, Seq("the", "a"))
    val ttr = size(array_distinct(toks)).cast("double") /
      size(toks).cast("double")
    floor((alphaRatio * 0.3 + (lit(1.0) - stopRatio) * 0.3 + ttr * 0.4)
      * 10000).cast("long")
  }

  /** w04's token-budget packing: per source, docs in doc_id order fill
    * 2048-token packs, `(doc_id, source, n_tokens, pack_id, pack_offset)`.
    *
    * TWO-PHASE PREFIX SUM (the r10 scale fix): a single
    * Window.partitionBy(source) caps parallelism at the number of
    * sources — at 100 TB with a handful of corpora, ONE task would sort
    * and prefix-sum terabytes. Instead, the running total is computed
    * the way AsOfJoin.backwardBucketed bounds its windows: chunk each
    * source by a coarse doc_id range (chunk = doc_id div span, monotone
    * in doc_id so chunk order == doc order), (1) window WITHIN
    * (source, chunk) for the local running total, (2) aggregate
    * per-(source, chunk) token sums into a tiny spine and cumulate
    * EXCLUSIVE chunk offsets over it, (3) join the offsets back on
    * (source, chunk) — the same key the window already hash-partitioned
    * by, and a frame small enough that AQE turns the join into a
    * broadcast at runtime. cum = chunk_offset + local_cum is
    * bit-identical to the single-window formulation for every span ≥ 1
    * (the oracle is unchanged), but the heavy window now runs with
    * #sources × #chunks-way parallelism. */
  private[graft] def w04Packs(s: SparkSession, dir: String, span: Long): DataFrame = {
    // span 0 would make `doc_id div span` NULL (rows silently vanish
    // through the equi-join); a negative span reverses chunk
    // monotonicity (silently wrong placement) — loud beats either
    require(span >= 1, s"w04 chunk span must be >= 1: got $span")
    val budget = 2048
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
    val chunked = base.withColumn("chunk", expr(s"doc_id div $span"))
    val wLocal = Window.partitionBy(col("source"), col("chunk"))
      .orderBy(col("doc_id"))
    val local = chunked
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // spine: one row per (source, chunk); EXCLUSIVE running offset so
    // chunk 0 starts at 0. The spine aggregates `chunked` directly, so
    // the corpus is scanned+tokenized TWICE (once per branch) — a
    // measured, accepted trade: the spine's partial agg collapses
    // map-side to <= #(source, chunk) rows per task (a near-free
    // shuffle), and the attempted single-tokenize alternative (derive
    // chunk totals as max(local_cum) from the windowed frame so both
    // branches share one Exchange(source, chunk)) does NOT get
    // exchange/stage reuse in practice — the inner join pushes
    // asymmetric isnotnull constraints into the two subtrees, their
    // canonical forms diverge, AQE materialized both stages separately
    // (probe-verified: reusedExchange=0 on the final adaptive plan) —
    // leaving that shape strictly worse: still two scans PLUS a second
    // full corpus sort+window.
    val wSpine = Window.partitionBy(col("source")).orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = chunked.groupBy(col("source"), col("chunk"))
      .agg(sum(col("n_tokens")).as("chunk_tokens"))
      .withColumn("chunk_offset",
        coalesce(sum(col("chunk_tokens")).over(wSpine), lit(0L)))
      .select(col("source"), col("chunk"), col("chunk_offset"))
    local.join(offsets, Seq("source", "chunk"))
      .withColumn("cum", col("chunk_offset") + col("local_cum"))
      // `div`, not floor(/): long division stays exact past 2^53 tokens
      // per shard, and is the same operator as the oracle's `//`
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
      .withColumn("pack_offset",
        col("cum") - col("n_tokens") - col("pack_id") * budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("pack_id"), col("pack_offset"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Flat 5% deterministic sample by id hash.
    "w01" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("bucket", pct(col("doc_id"), seed = 0))
        .filter(col("bucket") < 5)
        .select(col("doc_id"), col("source"), col("bucket"))
    },

    // Source-weighted mixture: each corpus keeps a different deterministic
    // fraction (the "data mixing" step of a pretraining pipeline). The rate
    // table is a literal CASE here; in production it is a tiny broadcast
    // dim joined on source.
    "w02" -> { (s, dir) =>
      val rate = when(col("source") === "src0", 60)
        .when(col("source") === "src1", 30)
        .otherwise(10)
      Tables.load(s, dir, "documents")
        .filter(pct(col("doc_id"), seed = 1) < rate)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc_id"))
    },

    // Train/val/test split assignment (90/5/5) with per-source accounting —
    // the split is a function of the id, so re-running never migrates a
    // document between splits.
    "w03" -> { (s, dir) =>
      val b = pct(col("doc_id"), seed = 2)
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(b < 90, "train").when(b < 95, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
    },

    // Sequence packing: place each document into the concatenated
    // fixed-size context-window stream of its source shard (window budget
    // 2048 tokens) — the step that turns a cleaned corpus into training
    // rows, where padding waste and doc boundaries are decided. Per doc:
    // its pack (context window) id and token offset inside that pack,
    // from a running token total per source. Contiguous-fill semantics
    // (documents straddle pack boundaries; the budget is a position
    // grid, not a bin capacity) keep the math windowed and exact.
    // Deterministic by (source, doc_id) ordering: re-runs place every
    // document identically, the same resumability contract as the hash
    // sampling above.
    //
    // the token-budget packing with its span auto-sized from the doc_id
    // range to target ~4 chunks per core (a 1-row min/max scalar
    // prefetch off parquet stats — same justified pattern as q39's
    // bounds); the plan is [[w04Packs]].
    "w04" -> { (s, dir) =>
      val r = Tables.load(s, dir, "documents")
        .agg(min(col("doc_id")), max(col("doc_id"))).head()
      val span =
        if (r.isNullAt(0)) 1L
        else math.max(1L, (r.getLong(1) - r.getLong(0) + 1) /
          (s.sparkContext.defaultParallelism.toLong * 4))
      w04Packs(s, dir, span)
    },

    // Shard-export audit: the writer side of the pipeline. A 100 TB export
    // ends in `repartition(n, shard).write` — this is the balance check on
    // the deterministic shard assignment that precedes it (skewed shards
    // are write-time stragglers; a bad hash shows up here before it costs
    // an overnight job). Shard is a pure function of the id (seed 4 —
    // independent of the w01/w02/w03 families), so re-exports land every
    // document in the same shard: incremental re-runs overwrite shards
    // idempotently instead of reshuffling the corpus.
    "w05" -> { (s, dir) =>
      val nShards = 64
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          (TextFns.md5Hash32(col("doc_id").cast("string"), seed = 4) % nShards).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
    },

    // Token-budget sampling: greedily fill a fixed per-source token
    // budget in deterministic hash order — the "give me ~N tokens per
    // corpus" step of mixture assembly, where w06's weights become an
    // actual document selection. Hash order (seed 7, independent of the
    // w01/w02/w03/w05 families) makes the selection a pure function of
    // the corpus: re-runs, retries and cluster layouts all pick the same
    // documents, and growing the corpus only ever APPENDS candidates
    // after the existing selection's hash positions.
    //
    // Scale shape: same two-phase prefix sum as w04 (the running total
    // windows within (source, chunk), exclusive chunk offsets cumulate
    // over the tiny spine) — but here the chunk key is a RANGE OF THE
    // HASH (h div 2^26, monotone in the hash order, 64 chunks), so the
    // span is a compile-time constant: the hash domain is [0, 2^32)
    // regardless of corpus size, no doc_id-range prescan needed. And
    // because the budget bounds the useful prefix, chunks whose
    // EXCLUSIVE offset already exceeds the budget are pruned BEFORE the
    // heavy sort+window — at 100 TB the expensive stage touches only the
    // head chunks (budget-bounded work), while the unavoidable full-scan
    // part is one map-side partial agg per (source, chunk).
    "w07" -> { (s, dir) =>
      val budget = 500L
      import org.apache.spark.sql.expressions.Window
      val chunked = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 7).as("h"))
        .withColumn("chunk", expr(s"h div ${1L << 26}"))
      val wSpine = Window.partitionBy(col("source")).orderBy(col("chunk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = chunked.groupBy(col("source"), col("chunk"))
        .agg(sum(col("n_tokens")).as("chunk_tokens"))
        .withColumn("chunk_offset",
          coalesce(sum(col("chunk_tokens")).over(wSpine), lit(0L)))
        .select(col("source"), col("chunk"), col("chunk_offset"))
      val wLocal = Window.partitionBy(col("source"), col("chunk"))
        .orderBy(col("h"), col("doc_id"))
      chunked.join(offsets, Seq("source", "chunk"))
        // budget prune BEFORE the window: a chunk starting past the
        // budget cannot contribute a selected row
        .filter(col("chunk_offset") <= budget)
        .withColumn("cum_tokens",
          col("chunk_offset") + sum(col("n_tokens")).over(wLocal))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
    },

    // Temperature-scaled mixture weights — the computation BEHIND w02's
    // rate table: given per-source token counts, the alpha-temperature
    // sampling weight w_s = tokens_s^alpha / Σ tokens^alpha (alpha < 1
    // up-weights small sources, the standard multilingual/multi-corpus
    // rebalancing) and each source's expected token draw from a fixed
    // training budget. Two tiny aggregations (per-source, then a scalar
    // total via a window over the 1-row-per-source frame) — the output
    // IS the rate table a 100 TB mixing job broadcasts.
    "w06" -> { (s, dir) =>
      val alpha = 0.7
      val budget = 1000000L
      val perSource = Tables.load(s, dir, "documents")
        .select(col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      // unordered whole-frame window: fine here because the frame is
      // 1-row-per-source (tiny) — the single-partition exchange it forces
      // is over ~#sources rows, not the corpus
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      perSource
        .withColumn("wraw", pow(col("sum_tokens").cast("double"), alpha))
        .withColumn("weight",
          round(col("wraw") / sum(col("wraw")).over(all), 6))
        .withColumn("expected_tokens",
          floor(col("wraw") / sum(col("wraw")).over(all) * budget).cast("long"))
        .select(col("source"), col("n_docs"), col("sum_tokens"),
          col("weight"), col("expected_tokens"))
    },

    // Per-source EXACT-k uniform sample by smallest id-hash — the
    // deterministic, mergeable equivalent of per-stratum reservoir
    // sampling (the hash is the reservoir's uniform tag, so the k
    // smallest tags are a uniform k-subset, stable across runs and
    // layouts like everything in this family). Bottom-k is a SKETCH:
    // bottom-k of unioned per-part bottom-k's is the global bottom-k,
    // which is what phase 1 exploits — a per-(source, hash-chunk)
    // partial top-k (parallelism = sources x 64 chunks, same two-phase
    // pattern as w04/w07) before the per-source window ranks only the
    // <= 64k survivors per source, never the corpus. Bit-identical to
    // the single-window formulation the oracle uses.
    "w08" -> { (s, dir) =>
      // k=10 so the cut FIRES at the driver's sf0.01 gate (20 sources x
      // <=25 docs each there; k=40 would pass the whole corpus through)
      val k = 10
      import org.apache.spark.sql.expressions.Window
      val hashed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 8).as("h"))
        .withColumn("chunk", expr(s"h div ${1L << 26}"))
      val wChunk = Window.partitionBy(col("source"), col("chunk"))
        .orderBy(col("h"), col("doc_id"))
      val survivors = hashed
        .withColumn("crn", row_number().over(wChunk))
        .filter(col("crn") <= k)
        .drop("crn", "chunk")
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      survivors
        .withColumn("rank", row_number().over(wSrc))
        .filter(col("rank") <= k)
        .select(col("doc_id"), col("source"), col("h"), col("rank"))
    },

    // Stratified PROPORTIONAL sample with an exact per-stratum quota
    // (k_s = max(1, n_s div 10)) — the "keep exactly 10% of every corpus"
    // step, where w01's hash-percent gate only holds the fraction in
    // expectation (its kept count is binomial per source; a 1000-doc
    // stratum keeps 100 ± 9). Exact-k selection needs the k_s-th smallest
    // hash per stratum, and w08's constant-k chunk prune does NOT scale
    // here (k_s grows with n_s, so per-chunk top-k_s would pass ~64 x 10%
    // of the corpus through). Instead this is a distributed SELECTION
    //: (1) histogram the top 8 hash bits per source —
    // <= #sources x 256 rows, map-side-combined to nothing; (2) cumulate
    // the tiny spine to find each stratum's cut bucket (first bucket
    // where cum >= k_s) and each bucket's EXCLUSIVE rank offset; (3) only
    // rows at or below their stratum's cut bucket survive (~k_s + n_s/256
    // rows), and the final rank = bucket_offset + rank WITHIN
    // (source, bucket) — the bucket is the hash's high bits, so bucket
    // order is h order and the two-phase rank is bit-identical to the
    // oracle's single per-source window, with #sources x 256-way
    // parallelism instead of one task per stratum. The straggler w04
    // fixed for running totals, fixed for exact sampling.
    "w09" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hashed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 9).as("h"))
        .withColumn("bucket", expr(s"h div ${1L << 24}"))
      // quotas: one row per source (tiny; derived from the same scan —
      // AQE broadcasts everything downstream of it)
      val quota = Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(greatest(lit(1L), expr("count(1) div 10")).as("k_quota"))
      val wB = Window.partitionBy(col("source")).orderBy(col("bucket"))
      val spine = hashed.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(wB))
        .withColumn("bucket_offset", col("cum") - col("n"))
        .join(quota, Seq("source"))
      // cut bucket per source: first bucket whose cumulative count
      // reaches the quota (cum is total n_s at the last bucket and
      // k_quota <= n_s, so a cut always exists)
      val cuts = spine.filter(col("cum") >= col("k_quota"))
        .groupBy(col("source")).agg(min(col("bucket")).as("cut"))
      val offsets = spine.join(broadcast(cuts), Seq("source"))
        .filter(col("bucket") <= col("cut"))
        .select(col("source"), col("bucket"), col("bucket_offset"),
          col("k_quota"))
      val wIn = Window.partitionBy(col("source"), col("bucket"))
        .orderBy(col("h"), col("doc_id"))
      hashed.join(broadcast(offsets), Seq("source", "bucket"))
        .withColumn("rank",
          (col("bucket_offset") + row_number().over(wIn)).cast("int"))
        .filter(col("rank") <= col("k_quota"))
        .select(col("doc_id"), col("source"), col("h"), col("rank"),
          col("k_quota"))
    },

    // Curriculum decile assignment: global quality deciles for ordered
    // training (easy→hard curricula sample by decile), WITHOUT a
    // row-count-sized global sort — q40's value-domain-spine
    // construction on w10's integer quality basis. The spine here is at
    // most 10,001 rows (the basis domain), the per-value rank runs
    // (qb)-partitioned, and the closed-form ntile remainder rule (the
    // q40-pinned equivalence) turns global rank into decile. Ties break
    // by doc_id on both engines.
    "w12" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // the scored frame feeds THREE consumers (spine, total, rank join)
      // and the quality regexes are the expensive part — checkpoint the
      // tiny (doc_id, qb) projection once (d15's shared-diamond pattern;
      // Bench resets tag "w12qb" per run so the build cost stays visible)
      val scored = SharedFrames.shared(s, dir, "w12qb") { _ =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), qBasis.as("qb"))
      }
      val spine = scored.groupBy(col("qb")).agg(count(lit(1)).as("n"))
        .withColumn("bucket_offset",
          coalesce(sum(col("n")).over(Window.orderBy(col("qb"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("qb"), col("bucket_offset"))
      val total = scored.agg(count(lit(1)).as("n_total"))
      val wIn = Window.partitionBy(col("qb")).orderBy(col("doc_id"))
      val decile = expr(
        """case when r <= (n_total % 10) * (n_total div 10 + 1)
          |  then (r - 1) div (n_total div 10 + 1) + 1
          |  else (n_total % 10) +
          |    (r - (n_total % 10) * (n_total div 10 + 1) - 1)
          |      div (n_total div 10) + 1 end""".stripMargin)
      scored.join(broadcast(spine), Seq("qb"))
        .withColumn("r", col("bucket_offset") + row_number().over(wIn))
        .crossJoin(total)
        .withColumn("decile", decile.cast("int"))
        .select(col("doc_id"), col("qb").as("q_basis"), col("decile"))
    },

    // Weight-proportional Poisson sampling: each document keeps with
    // probability ∝ its length (n_chars), the "sample big documents more
    // often" step of importance-weighted corpus thinning — done with the
    // w01 family's INTEGER hash gate (md5 % 1M against weight·1500,
    // clamped at the scale) so inclusion is an exact integer predicate:
    // no FP race keys, no ln/pow, bit-identical cross-engine and a pure
    // function of the id (re-runs never migrate a document). 100 TB
    // shape: shuffle-free map-side gate followed by one source-keyed
    // hash agg; expected-vs-actual inclusion mass rides along so the
    // sampler audits itself (d19's calibration idea in one aggregate).
    "w13" -> { (s, dir) =>
      val scale = 1000000L
      val thresh = least(col("n_chars") * 1500L, lit(scale))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          thresh.as("thresh"),
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 17)
            .%(scale).as("u"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("u") < col("thresh"), 1)).as("n_kept"),
          sum(when(col("u") < col("thresh"), col("n_chars"))
            .otherwise(lit(0L))).as("chars_kept"),
          sum(col("n_chars")).as("chars_total"),
          sum(col("thresh")).as("expected_mass_e6"))
        .withColumn("kept_char_share",
          round(col("chars_kept").cast("double") / col("chars_total"), 4))
    },

    // Mixture fill: w06's temperature weights APPLIED — each source greedily
    // fills toward ITS OWN token budget (floor of its α=0.7 mixture share
    // of a 10k-token draw) in hash order, w07's budget machinery with the
    // constant budget replaced by a broadcast per-source budget frame.
    // This is the step that actually assembles a mixed corpus: w06 says
    // how many tokens each source deserves, w11 picks the documents. Same
    // two-phase (source, hash-chunk) prefix sum as w07 so the heavy
    // window never keys on source alone, and the chunk-offset ≤ budget
    // prune bounds the sort by the BUDGET, not the corpus (an
    // oversubscribed budget degrades to keep-everything, never to error).
    "w11" -> { (s, dir) =>
      val alpha = 0.7
      val mixBudget = 10000L
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 13).as("h"))
        .withColumn("chunk", expr(s"h div ${1L << 26}"))
      // 1-row-per-source frame; the unordered whole-frame window is the
      // w06-justified single-partition exchange over a tiny frame
      val budgets = base.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("budget",
          floor(pow(col("sum_tokens"), alpha) /
            sum(pow(col("sum_tokens"), alpha)).over(Window.partitionBy()) *
            mixBudget).cast("long"))
        .select(col("source"), col("budget"))
      val wSpine = Window.partitionBy(col("source")).orderBy(col("chunk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("source"), col("chunk"))
        .agg(sum(col("n_tokens")).as("chunk_tokens"))
        .withColumn("chunk_offset",
          coalesce(sum(col("chunk_tokens")).over(wSpine), lit(0L)))
        .select(col("source"), col("chunk"), col("chunk_offset"))
      val wLocal = Window.partitionBy(col("source"), col("chunk"))
        .orderBy(col("h"), col("doc_id"))
      base.join(offsets, Seq("source", "chunk"))
        .join(broadcast(budgets), Seq("source"))
        .filter(col("chunk_offset") <= col("budget"))
        .withColumn("cum_tokens",
          col("chunk_offset") + sum(col("n_tokens")).over(wLocal))
        .filter(col("cum_tokens") <= col("budget"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), col("budget"))
    },

    // Quality-weighted sampling: keep probability = the t02 quality score,
    // decided by an independent hash family — the "soft filter" between
    // w01's flat gate and c01's hard gates (DCLM/FineWeb-style quality
    // curation keeps a stochastic fraction of mid-quality documents
    // instead of a cliff). Deterministic like the whole w-family: the
    // keep decision is a pure row function, so membership survives
    // retries and re-runs, and the filter is codegen right above the scan
    // — no shuffle, flat at any scale. FP-parity with the oracle rides on
    // the SAME floored x10000 integer basis t02's green oracle already
    // pins; the comparison u < q_basis is integer vs integer.
    "w10" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("q_basis", qBasis)
        .withColumn("u",
          TextFns.md5Hash32(col("doc_id").cast("string"), seed = 11) % 10000)
        .filter(col("u") < col("q_basis"))
        .select(col("doc_id"), col("source"), col("q_basis"), col("u"))
    })

  private def bucketSql(seed: Int) =
    if (seed == 0) "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100"
    else s"('0x' || substr(md5('$seed:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100"

  val oracle: Map[String, String] = Map(
    "w01" ->
      s"""SELECT doc_id, source, ${bucketSql(0)} AS bucket
         |FROM documents WHERE ${bucketSql(0)} < 5""".stripMargin,

    "w02" ->
      s"""SELECT source, count(1)::BIGINT AS n_kept, min(doc_id) AS min_doc_id
         |FROM documents
         |WHERE ${bucketSql(1)} <
         |  CASE source WHEN 'src0' THEN 60 WHEN 'src1' THEN 30 ELSE 10 END
         |GROUP BY source""".stripMargin,

    "w03" ->
      s"""SELECT source,
         |  CASE WHEN ${bucketSql(2)} < 90 THEN 'train'
         |       WHEN ${bucketSql(2)} < 95 THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(1)::BIGINT AS n_docs,
         |  round(avg(n_chars), 4) AS avg_chars
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "w04" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  ((cum - n_tokens) // 2048)::BIGINT AS pack_id,
        |  (cum - n_tokens - ((cum - n_tokens) // 2048) * 2048)::BIGINT
        |    AS pack_offset
        |FROM c""".stripMargin,

    "w05" ->
      """SELECT
        |  ('0x' || substr(md5('4:' || doc_id::VARCHAR), 1, 8))::BIGINT % 64
        |    AS shard,
        |  count(1)::BIGINT AS n_docs,
        |  sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
        |    AS sum_tokens,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc_id,
        |  max(doc_id) AS max_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    // DuckDB sum(BIGINT) — windowed or grouped — returns HUGEINT, which
    // crosses Arrow as decimal128(38,0) where Spark writes int64; the
    // driver's hash compare is serialization-sensitive, so every aggregate
    // in OUTPUT position must carry an explicit ::BIGINT (r11's only red
    // row was this cast missing here). selfcheck.py now fails on arrow
    // type mismatches too, so a future omission is caught locally.
    "w07" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id)
        |      )::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 500""".stripMargin,

    "w08" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('8:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)::INT
        |      AS rank
        |  FROM h)
        |SELECT doc_id, source, h, rank FROM r WHERE rank <= 10""".stripMargin,

    "w09" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('9:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |k AS (
        |  SELECT source, greatest(1, count(1) // 10)::BIGINT AS k_quota
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT doc_id, source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)::INT
        |      AS rank
        |  FROM h)
        |SELECT r.doc_id, r.source, r.h, r.rank, k.k_quota
        |FROM r JOIN k USING (source) WHERE r.rank <= k.k_quota""".stripMargin,

    "w06" ->
      """WITH ps AS (
        |  SELECT source, count(1)::BIGINT AS n_docs,
        |    sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
        |      AS sum_tokens
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs, sum_tokens,
        |  round(pow(sum_tokens, 0.7) / sum(pow(sum_tokens, 0.7)) OVER (), 6)
        |    AS weight,
        |  floor(pow(sum_tokens, 0.7) / sum(pow(sum_tokens, 0.7)) OVER ()
        |        * 1000000)::BIGINT AS expected_tokens
        |FROM ps""".stripMargin,

    // single-window formulation (the Spark side's two-phase chunking is
    // bit-identical by the w07/w04 pinned equivalence)
    "w11" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5('13:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |ps AS (SELECT source, sum(n_tokens)::BIGINT AS sum_tokens
        |       FROM t GROUP BY 1),
        |bu AS (
        |  SELECT source,
        |    floor(pow(sum_tokens, 0.7) / sum(pow(sum_tokens, 0.7)) OVER ()
        |          * 10000)::BIGINT AS budget
        |  FROM ps),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id)
        |      )::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens, bu.budget
        |FROM c JOIN bu USING (source) WHERE cum_tokens <= budget""".stripMargin,

    "w10" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    floor(((length(text) - length(regexp_replace(text, '[a-z]', '', 'g')))::DOUBLE / length(text) * 0.3
        |      + (1.0 - len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the', 'a')))::DOUBLE
        |          / len(regexp_split_to_array(trim(text), '\s+')) ) * 0.3
        |      + len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |          / len(regexp_split_to_array(trim(text), '\s+')) * 0.4) * 10000)::BIGINT AS q_basis,
        |    ('0x' || substr(md5('11:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS u
        |  FROM documents)
        |SELECT doc_id, source, q_basis, u FROM q WHERE u < q_basis""".stripMargin,

    "w12" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    floor(((length(text) - length(regexp_replace(text, '[a-z]', '', 'g')))::DOUBLE / length(text) * 0.3
        |      + (1.0 - len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the', 'a')))::DOUBLE
        |          / len(regexp_split_to_array(trim(text), '\s+')) ) * 0.3
        |      + len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |          / len(regexp_split_to_array(trim(text), '\s+')) * 0.4) * 10000)::BIGINT AS q_basis
        |  FROM documents)
        |SELECT doc_id, q_basis,
        |  ntile(10) OVER (ORDER BY q_basis, doc_id)::INT AS decile
        |FROM q""".stripMargin,

    "w13" ->
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    least(n_chars * 1500, 1000000)::BIGINT AS thresh,
        |    ('0x' || substr(md5('17:' || doc_id::VARCHAR), 1, 8))::BIGINT
        |      % 1000000 AS u
        |  FROM documents)
        |SELECT source, count(1)::BIGINT AS n_docs,
        |  count(CASE WHEN u < thresh THEN 1 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN u < thresh THEN n_chars ELSE 0 END)::BIGINT
        |    AS chars_kept,
        |  sum(n_chars)::BIGINT AS chars_total,
        |  sum(thresh)::BIGINT AS expected_mass_e6,
        |  round(sum(CASE WHEN u < thresh THEN n_chars ELSE 0 END)::DOUBLE
        |        / sum(n_chars), 4) AS kept_char_share
        |FROM t GROUP BY 1""".stripMargin)
}
