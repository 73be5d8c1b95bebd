package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate/sketch aggregates (SURVEY §2.5 note: "free from Spark", in
  * scope for the generic surface). Every sketch here is built from the
  * portable md5 hash family (or pure integer bucket arithmetic), so the
  * sketch STATE is deterministic and the full estimate pipelines are
  * oracle-checked exactly against DuckDB — including x01 (fixed-geometry
  * HLL, round 16; previously the engine-specific `approx_count_distinct`,
  * rows-only by contract) and x02 (fixed-geometry histogram quantiles,
  * round 16; previously `approx_percentile`). The exact counterparts are
  * oracle-checked in q13/q25.
  *
  * Scale note: this is the 100 TB path for distinct counting — HLL
  * registers merge map-side (max per bucket), so cardinality estimation
  * costs one scan and a ≤ groups×m-row shuffle, where exact countDistinct
  * re-shuffles the full key set.
  */
object SketchQueries {

  /** x03 count-min geometry: depth 4 hash rows × width 1024 buckets. The
    * sketch table is ≤ 4096 rows REGARDLESS of corpus size — that bound is
    * the whole point at 100 TB (the exact vocabulary aggregation's shuffle
    * grows with the corpus; the sketch's does not). */
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Portable per-row bucket: first 8 md5 hex chars of "j:tok" mod width —
    * identical in DuckDB as ('0x'||substr(md5(j||':'||tok),1,8))::BIGINT %
    * width. The hash input carries the row index so the CmsDepth hash
    * functions are independent. */
  private def cmsBucket(j: org.apache.spark.sql.Column,
                        tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(graft.functions.TextFns.md5Hash32Keyed(j, tok), lit(CmsWidth.toLong))

  /** Fixed sketch geometries, the same constants the committed oracle
    * SQL hardcodes: x04/x05's bottom-k (a 12.7%-σ estimator), x07's
    * bitmap size (saturates at ~31k distinct) and x08's sign-row count
    * (a 35%-σ estimator) — the accuracy ladder in BENCH_NOTES measured
    * all three. */
  private val KmvK = 64
  private val BitmapM = 4096
  private val AmsRows = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Fixed-geometry HyperLogLog (Flajolet et al. 2007), m = 256 registers
    // per (group, key). Round 16: replaces the engine-specific
    // `approx_count_distinct` (whose HLL state can't hash-match another
    // engine) with the portable construction so the WHOLE estimate
    // pipeline is oracle-exact: h = md5-prefix 32-bit hash, bucket = low
    // 8 bits, rank = leading-zero count of the remaining 24 bits + 1
    // (via length(bin(w)) — identical string semantics in both engines),
    // registers = max(rank) per bucket. The harmonic sum is kept EXACT
    // integer (Σ 2^(25−mx), each term ≤ 2^24 and ≤ 256+zeros terms → the
    // double-sum of exact powers of two is order-independent), so the
    // only float ops are the final one-expression estimator — identical
    // parse tree on both engines. Small-range branch: linear counting
    // m·ln(m/zeros) when zeros>0 and raw ≤ 2.5m, per the paper (the
    // 32-bit high-range branch is unreachable at 2^32/30 and omitted on
    // both sides). 100 TB shape: register agg combines map-side to
    // ≤ groups × 2 × 256 rows — the shuffle is sketch-sized, never
    // key-set-sized (vs q13's exact countDistinct re-shuffle).
    "x01" -> { (s, dir) =>
      val keyed = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), explode(array(
          struct(lit("p").as("tag"), graft.functions.TextFns
            .md5Hash32(col("l_partkey").cast("string")).as("h")),
          struct(lit("s").as("tag"), graft.functions.TextFns
            .md5Hash32(col("l_suppkey").cast("string")).as("h")))).as("kh"))
        .select(col("l_returnflag"), col("kh.tag").as("tag"),
          col("kh.h").bitwiseAND(lit(255L)).as("bucket"),
          shiftrightunsigned(col("kh.h"), 8).as("w"))
      val regs = keyed
        .groupBy(col("l_returnflag"), col("tag"), col("bucket"))
        .agg(max(when(col("w") === 0L, lit(25))
          .otherwise(lit(25) - length(bin(col("w"))))).as("mx"))
      val est = regs
        .groupBy(col("l_returnflag"), col("tag"))
        .agg(sum(pow(lit(2.0), lit(25) - col("mx"))).cast("long").as("s_occ"),
          count(lit(1)).as("occupied"))
        .select(col("l_returnflag"), col("tag"),
          (lit(256L) - col("occupied")).as("zeros"),
          (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(256.0) *
            lit(256.0) * lit(33554432.0) /
            (col("s_occ") + (lit(256L) - col("occupied")) * lit(33554432L))
              .cast("double")).as("raw"))
        .select(col("l_returnflag"), col("tag"),
          when(col("zeros") > 0 && col("raw") <= lit(640.0),
            round(lit(256.0) * log(lit(256.0) / col("zeros").cast("double")), 4))
            .otherwise(round(col("raw"), 4)).as("approx"))
      val nRows = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
      // 3-row × 3-row frames: AQE broadcasts, never a corpus shuffle
      est.groupBy(col("l_returnflag"))
        .agg(max(when(col("tag") === "p", col("approx"))).as("approx_parts"),
          max(when(col("tag") === "s", col("approx"))).as("approx_supps"))
        .join(nRows, Seq("l_returnflag"))
    },

    // Fixed-geometry equi-width histogram quantile sketch — the mergeable
    // deterministic replacement (round 16) for the engine-specific
    // `approx_percentile`: 4,096 cells of width 32 over the fixed value
    // domain [0, 131072) (l_extendedprice ≤ 50 × max retail price ≈
    // 105,000; the top cell clamps any outlier), nearest-rank cut
    // ⌈q·n⌉ in pure integer arithmetic ((n+1) div 2; (19n+19) div 20),
    // estimate = cell midpoint (error ≤ half the 32-unit cell width).
    // The geometry is data-independent, so cell counts merge across
    // corpora/partitions like any HLL register set. 100 TB shape: the
    // histogram aggregation combines map-side to ≤ groups × 4,096 cells;
    // the rank windows run on that bounded spine (q40's pattern), never
    // on corpus rows — vs q25's exact percentile full-sort.
    "x02" -> { (s, dir) =>
      val hist = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          least(floor(col("l_extendedprice") / lit(32.0)), lit(4095L))
            .as("bucket"))
        .agg(count(lit(1)).as("c"),
          min(col("l_extendedprice")).as("bmin"),
          max(col("l_extendedprice")).as("bmax"))
      val cum = hist
        .withColumn("cum", sum(col("c"))
          .over(Window.partitionBy("l_returnflag").orderBy("bucket")))
        .withColumn("n", sum(col("c"))
          .over(Window.partitionBy("l_returnflag")))
      cum.groupBy(col("l_returnflag")).agg(
        (min(when(expr("cum >= (n + 1) div 2"), col("bucket"))) * 32 + 16)
          .cast("double").as("p50_price"),
        (min(when(expr("cum >= (19 * n + 19) div 20"), col("bucket"))) * 32 + 16)
          .cast("double").as("p95_price"),
        min(col("bmin")).as("min_price"),
        max(col("bmax")).as("max_price"))
    },

    // Count-min-sketch heavy hitters over the document token stream, with
    // the estimate error made visible: build the 4×1024 sketch in one
    // explode + one hash aggregation, take the exact top-20 tokens
    // (TakeOrderedAndProject — the exact side exists to measure the
    // sketch, not to rank at scale), probe each token's 4 buckets and
    // report min(bucket) alongside the exact count. overcount ≥ 0 always —
    // CMS never undercounts — and the whole pipeline is deterministic
    // because the hash family is the portable md5 construction, so unlike
    // x01/x02 this sketch IS oracle-checked exactly. The probe joins
    // against a ≤4096-row sketch and a 20-row top-k: both broadcast-sized
    // at any corpus scale.
    "x03" -> { (s, dir) =>
      val toks = Tables.loadSpread(s, dir, "documents")
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
      // Round 21 (guide §2.3/§2.4): the sketch rows are Σ-decomposable per
      // token — bucket count = Σ exact_count over the tokens hashing
      // there — so the CMS builds off the VOCABULARY-sized count frame
      // (ReusedExchange with the exact branch) instead of re-tokenizing
      // the corpus and exploding the raw stream ×CmsDepth. Same sketch
      // bit-for-bit; the ×4 explode now multiplies vocab rows, not corpus
      // rows, and one whole tokenize pass is gone.
      val cms = exact
        .select(col("tok"), col("exact_count"),
          explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
        .groupBy(col("j"), cmsBucket(col("j"), col("tok")).as("bucket"))
        .agg(sum(col("exact_count")).as("bcount"))
      val top20 = exact.orderBy(col("exact_count").desc, col("tok").asc).limit(20)
      top20
        .select(col("tok"), col("exact_count"),
          explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
        .withColumn("bucket", cmsBucket(col("j"), col("tok")))
        .join(cms, Seq("j", "bucket"))
        .groupBy(col("tok"), col("exact_count"))
        .agg(min(col("bcount")).as("cms_estimate"))
        .withColumn("overcount", col("cms_estimate") - col("exact_count"))
    },

    // KMV (k-minimum-values) distinct-count sketch over the token
    // vocabulary — the same portability trick as x03: the md5 hash family
    // makes the sketch STATE deterministic, so unlike x01's
    // engine-specific HLL (rows-only by contract) the whole estimate
    // pipeline is oracle-checked exactly. Sketch = the k smallest
    // DISTINCT 32-bit hashes; estimator (k-1) * 2^32 div h_k (integer
    // floor division, bit-identical cross-engine), exact when the
    // vocabulary has fewer than k members. 100 TB shape: the distinct
    // shuffle carries hash values only (vocabulary-bounded, like t09)
    // and the k-cut is a TakeOrderedAndProject — k rows out regardless
    // of corpus size. n_exact (the true distinct-hash count) rides along
    // as the reference column, same pattern as x03's exact_count.
    // k = 64 gives σ ≈ 1/√(k−2) = 12.7%.
    "x04" -> { (s, dir) =>
      val k = KmvK
      val hashes = Tables.loadSpread(s, dir, "documents")
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
        .select(graft.functions.TextFns.md5Hash32(col("tok")).as("h"))
        .distinct()
      val sk = hashes.orderBy(col("h")).limit(k)
        .agg(count(lit(1)).as("k_obs"), max(col("h")).as("h_k"))
      val ex = hashes.agg(count(lit(1)).as("n_exact"))
      // 1-row x 1-row cross join (both aggregates), broadcast by AQE —
      // never a corpus-sized product
      // h_k = 0 (token hashing to exactly 0 among the k minima) must not
      // divide: Spark's div would yield null while DuckDB's // ERRORS —
      // both engines take the guarded CASE arm instead
      sk.crossJoin(ex).select(
        col("k_obs"), col("h_k"),
        expr(s"case when k_obs < $k then k_obs when h_k = 0 then null " +
          s"else ${k - 1}L * 4294967296L div h_k end").as("est_distinct"),
        col("n_exact"))
    },

    // KMV SET OPERATIONS: union cardinality + Jaccard similarity between
    // two corpora's token vocabularies from their bottom-k sketches alone
    // (Beyer et al., "On synopses for distinct-value estimation under
    // multiset operations", SIGMOD'07). MinK(A u B) = bottom-k of
    // MinK(A) u MinK(B) — union sketches merge from the k-row summaries
    // without revisiting the corpora — and Jaccard is estimated by the
    // fraction of the union sketch's minima present in BOTH input
    // sketches (membership in MinK(X) below X's k-th minimum IS
    // membership in X). 100 TB shape: one scan builds both per-source
    // sketches (vocabulary-bounded distinct + TakeOrderedAndProject
    // k-cut, the x04 path); everything downstream operates on <= 2k rows.
    // The exact intersection/union counts ride along as reference
    // columns, same pattern as x03/x04 — at true corpus scale one drops
    // the exact branch and keeps the sketch estimates.
    // shares x04's k — same bottom-k family, and a union of two sketches
    // only composes at one common k
    "x05" -> { (s, dir) =>
      val k = KmvK
      val hashes = Tables.loadSpread(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
        .select(col("source"),
          graft.functions.TextFns.md5Hash32(col("tok")).as("h"))
        .distinct()
      // Round 21 (guide §2.4): BOTH per-source bottom-k sketches come from
      // one window over the shared distinct frame. The per-source
      // `filter(...).orderBy(h).limit(k)` form let the planner push each
      // source filter below the distinct, un-sharing the subtrees — the
      // final plan paid THREE corpus tokenize+md5 passes (ka, kb, exact).
      // A row_number cut per source is the identical set (h is distinct
      // within a source, so the order is total), runs on the
      // vocabulary-sized frame, and leaves one shared exchange the exact
      // branch reuses: 3 tokenizes → 1. Barrier: a bare pick on the
      // window's partition key would be pushed into the scan, one subtree
      // per source (BENCH_NOTES "Barrier sites").
      val wk = hashes.withColumn("rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rn") <= k)
      def mink(src: String) = wk.filter(graft.functions.PushdownBarrierF
        .pushdownBarrier(col("source") === src)).select(col("h"))
      val ka = mink("src0")
      val kb = mink("src1")
      val ku = ka.union(kb).distinct().orderBy(col("h")).limit(k)
      // <= 64-row frames: the semi-joins and cross joins below are all
      // broadcast by AQE, never a shuffle
      val inter = ku.join(ka, Seq("h"), "left_semi")
        .join(kb, Seq("h"), "left_semi")
        .agg(count(lit(1)).as("n_inter"))
      val sk = ku.agg(count(lit(1)).as("k_obs"), max(col("h")).as("h_k"))
      // sum(when...), not max(when...): over the DISTINCT (source, h)
      // frame both say "h present in src", but max is duplicate-
      // insensitive, so RemoveRedundantAggregates merges the distinct
      // away and this branch re-tokenizes the corpus on its own;
      // duplicate-sensitive sum forces the shared distinct to stay and
      // the branch reads the window branch's ReusedExchange instead
      // (each sum is 0/1 exactly because the input is distinct).
      val exact = hashes.groupBy(col("h"))
        .agg(sum(when(col("source") === "src0", 1).otherwise(0)).as("in_a"),
          sum(when(col("source") === "src1", 1).otherwise(0)).as("in_b"))
        .agg(sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("n_inter_exact"),
          count(lit(1)).as("n_union_exact"))
      sk.crossJoin(inter).crossJoin(exact).select(
        col("k_obs"), col("h_k"),
        expr(s"case when k_obs < $k then k_obs when h_k = 0 then null " +
          s"else ${k - 1}L * 4294967296L div h_k end").as("est_union"),
        col("n_inter"),
        round(col("n_inter") / col("k_obs"), 6).as("jaccard_est"),
        col("n_inter_exact"), col("n_union_exact"),
        round(col("n_inter_exact") / col("n_union_exact"), 6)
          .as("jaccard_exact"))
    },

    // Linear (bitmap) counting, Whang et al. TODS'90 — the third portable
    // distinct sketch next to x04's KMV: hash each token into an m-bucket
    // bitmap, estimate n̂ = m·ln(m / empty). Like x03/x04 the md5 family
    // makes the sketch STATE deterministic, so the estimate is
    // oracle-exact (ln of an exact integer ratio, reported rounded).
    // 100 TB shape: the shuffle carries distinct bucket ids (≤ m = 4096
    // rows out of any corpus); the saturation guard (empty = 0 → NULL)
    // takes the same guarded-CASE arm on both engines instead of ±inf.
    // The estimator is usable to n ≈ m·ln m (≈34k at m = 4096), a
    // ceiling the accuracy ladder hit exactly at 31k distinct — a corpus
    // whose groups run past it uses x01/x04, whose σ is size-independent.
    "x07" -> { (s, dir) =>
      val m = BitmapM
      // Round 21 (guide §2.4): ONE distinct-hash frame, ONE aggregate for
      // both outputs — pmod is deterministic, so the occupied-bucket set
      // of the distinct hashes IS the occupied-bucket set of the raw
      // stream, and countDistinct(pmod(h)) rides the same pass that
      // counts the exact reference. Before, occupancy and the exact
      // branch each paid their own corpus tokenize + md5 pass (two
      // Generates in the final plan); separate branches over a shared
      // distinct frame don't survive the optimizer either
      // (RemoveRedundantAggregates collapses stacked distincts per
      // branch, un-sharing them) — the single two-function aggregate
      // cannot be split, so the corpus is tokenized exactly once.
      val occ = Tables.loadSpread(s, dir, "documents")
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
        .select(graft.functions.TextFns.md5Hash32(col("tok")).as("h"))
        .distinct()
        .agg(count(lit(1)).as("n_exact"),
          countDistinct(pmod(col("h"), lit(m.toLong))).as("occupied"))
      occ.select(
        lit(m).as("m"), col("occupied"),
        when(col("occupied") < m,
          round(lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m) - col("occupied"))), 4))
          .otherwise(lit(null).cast("double")).as("est_distinct"),
        col("n_exact"))
    },

    // AMS (Alon–Matias–Szegedy) second-moment sketch: estimate
    // F₂ = Σ_tok f², the self-join size / collision mass that prices
    // d04-class inverted-index joins BEFORE running them. R independent
    // ±1 hash rows; each row's S_r = Σ sign(h_r(tok)) over OCCURRENCES,
    // E[S_r²] = F₂. The 100 TB shape is the textbook one: the sign sum
    // combines map-side, so the sketch shuffle is R ROWS regardless of
    // corpus size (vs the vocabulary-sized exact agg it estimates —
    // which rides along as the reference, x03's pattern). Everything is
    // integer (md5 parity bit, long sums, div-16 mean; the relative
    // error alone rounds at the end), so the estimate is bit-identical
    // cross-engine.
    // R = 16 sign rows give σ = √(2/R) = 35%; the sketch shuffle stays R
    // rows and the explode cost is R× the token stream, both linear.
    "x08" -> { (s, dir) =>
      val rRows = AmsRows
      val toks = Tables.loadSpread(s, dir, "documents")
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      val sketch = toks
        .select(col("tok"), explode(sequence(lit(0), lit(rRows - 1))).as("r"))
        .select(col("r"),
          when(pmod(graft.functions.TextFns.md5Hash32Keyed(col("r"), col("tok")),
            lit(2L)) === 0L, 1L).otherwise(-1L).as("sign"))
        .groupBy(col("r")).agg(sum(col("sign")).as("s"))
        .agg(sum(col("s") * col("s")).as("sum_sq"))
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("exact_f2"))
      sketch.crossJoin(broadcast(exact)).select(
        lit(rRows).as("r_rows"),
        expr(s"sum_sq div $rRows").as("est_f2"),
        col("exact_f2"),
        round((col("sum_sq").cast("double") / rRows) / col("exact_f2") - 1, 4)
          .as("rel_err"))
    },

    // Z-order (Morton) clustering keys — the multi-dim layout key behind
    // lakehouse OPTIMIZE ZORDER: interleave(l_orderkey, l_partkey) makes
    // BOTH columns' parquet footer stats selective once the table is
    // range-partitioned by z (ZOrderSpec measures the file-pruning win;
    // this query pins the KEY ARITHMETIC against the oracle's bit-sum
    // formulation — magic-mask dilation vs Σ bit·2^pos, bit-identical).
    // Output is the per-top-byte histogram + a modular checksum, so the
    // dump stays small while every row's key feeds the comparison.
    "x06" -> { (s, dir) =>
      val z = graft.functions.ZOrder
        .interleave(col("l_orderkey"), col("l_partkey"))
      Tables.load(s, dir, "lineitem")
        .select(z.as("z"))
        .groupBy(shiftrightunsigned(col("z"), 22).as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"),
          sum(col("z") % 1000003L).as("checksum"))
    })

  /** All sketches are md5-keyed / integer-deterministic → full oracles.
    * Float literals in x01 are cast ::DOUBLE so DuckDB doesn't evaluate
    * the estimator in DECIMAL where Spark uses double. */
  val oracle: Map[String, String] = Map(
    "x01" ->
      """WITH keyed AS (
        |  SELECT l_returnflag, 'p' AS tag,
        |    ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 's' AS tag,
        |    ('0x'||substr(md5(CAST(l_suppkey AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM lineitem),
        |regs AS (
        |  SELECT l_returnflag, tag, h & 255 AS bucket,
        |    max(CASE WHEN (h >> 8) = 0 THEN 25
        |             ELSE 25 - length(bin(h >> 8)) END) AS mx
        |  FROM keyed GROUP BY 1, 2, 3),
        |sums AS (
        |  SELECT l_returnflag, tag,
        |    sum((1::BIGINT << (25 - mx)))::BIGINT AS s_occ,
        |    count(1)::BIGINT AS occupied
        |  FROM regs GROUP BY 1, 2),
        |est AS (
        |  SELECT l_returnflag, tag, (256 - occupied) AS zeros,
        |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
        |      * 256.0::DOUBLE * 256.0::DOUBLE * 33554432.0::DOUBLE
        |      / (s_occ + (256 - occupied) * 33554432)::DOUBLE AS raw
        |  FROM sums),
        |fin AS (
        |  SELECT l_returnflag, tag,
        |    CASE WHEN zeros > 0 AND raw <= 640.0::DOUBLE
        |         THEN round(256.0::DOUBLE * ln(256.0::DOUBLE / zeros::DOUBLE), 4)
        |         ELSE round(raw, 4) END AS approx
        |  FROM est),
        |nr AS (
        |  SELECT l_returnflag, count(1)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT f.l_returnflag,
        |  max(CASE WHEN tag = 'p' THEN approx END) AS approx_parts,
        |  max(CASE WHEN tag = 's' THEN approx END) AS approx_supps,
        |  max(n_rows)::BIGINT AS n_rows
        |FROM fin f JOIN nr USING (l_returnflag)
        |GROUP BY 1""".stripMargin,

    "x02" ->
      """WITH hist AS (
        |  SELECT l_returnflag,
        |    least(floor(l_extendedprice / 32.0)::BIGINT, 4095) AS bucket,
        |    count(1)::BIGINT AS c,
        |    min(l_extendedprice) AS bmin, max(l_extendedprice) AS bmax
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, bucket, c, bmin, bmax,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket)::BIGINT
        |      AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag)::BIGINT AS n
        |  FROM hist)
        |SELECT l_returnflag,
        |  (min(CASE WHEN cum >= (n + 1) // 2 THEN bucket END) * 32 + 16)
        |    ::DOUBLE AS p50_price,
        |  (min(CASE WHEN cum >= (19 * n + 19) // 20 THEN bucket END) * 32
        |    + 16)::DOUBLE AS p95_price,
        |  min(bmin) AS min_price,
        |  max(bmax) AS max_price
        |FROM cum GROUP BY 1""".stripMargin,
    "x03" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |exact AS (
        |  SELECT tok, count(*)::BIGINT AS exact_count FROM tk GROUP BY tok),
        |hashed AS (
        |  SELECT tok, j,
        |    ('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 8))::BIGINT
        |      % 1024 AS bucket
        |  FROM tk CROSS JOIN (SELECT unnest(range(4)) AS j)),
        |cms AS (
        |  SELECT j, bucket, count(*)::BIGINT AS bcount
        |  FROM hashed GROUP BY 1, 2),
        |top20 AS (
        |  SELECT tok, exact_count FROM exact
        |  ORDER BY exact_count DESC, tok ASC LIMIT 20),
        |probes AS (
        |  SELECT t.tok, t.exact_count, j,
        |    ('0x' || substr(md5(j::VARCHAR || ':' || t.tok), 1, 8))::BIGINT
        |      % 1024 AS bucket
        |  FROM top20 t CROSS JOIN (SELECT unnest(range(4)) AS j))
        |SELECT p.tok, p.exact_count,
        |  min(c.bcount) AS cms_estimate,
        |  min(c.bcount) - p.exact_count AS overcount
        |FROM probes p JOIN cms c ON p.j = c.j AND p.bucket = c.bucket
        |GROUP BY 1, 2""".stripMargin,

    "x04" ->
      """WITH h AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |          AS tok FROM documents)),
        |k AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |sk AS (SELECT count(1)::BIGINT AS k_obs, max(h) AS h_k FROM k),
        |ex AS (SELECT count(1)::BIGINT AS n_exact FROM h)
        |SELECT k_obs, h_k,
        |  (CASE WHEN k_obs < 64 THEN k_obs
        |        WHEN h_k = 0 THEN NULL
        |        ELSE (63::BIGINT * 4294967296) // h_k END)::BIGINT
        |    AS est_distinct,
        |  n_exact
        |FROM sk, ex""".stripMargin,

    "x05" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |h AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        |  FROM tk),
        |ka AS (SELECT h FROM h WHERE source = 'src0' ORDER BY h LIMIT 64),
        |kb AS (SELECT h FROM h WHERE source = 'src1' ORDER BY h LIMIT 64),
        |ku AS (
        |  SELECT DISTINCT h
        |  FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
        |  ORDER BY h LIMIT 64),
        |inter AS (
        |  SELECT count(1)::BIGINT AS n_inter FROM ku
        |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
        |sk AS (SELECT count(1)::BIGINT AS k_obs, max(h) AS h_k FROM ku),
        |flags AS (
        |  SELECT h, max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_b
        |  FROM h GROUP BY h),
        |exact AS (
        |  SELECT sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0
        |    END)::BIGINT AS n_inter_exact,
        |    count(1)::BIGINT AS n_union_exact
        |  FROM flags)
        |SELECT k_obs, h_k,
        |  (CASE WHEN k_obs < 64 THEN k_obs
        |        WHEN h_k = 0 THEN NULL
        |        ELSE (63::BIGINT * 4294967296) // h_k END)::BIGINT
        |    AS est_union,
        |  n_inter,
        |  round(n_inter / k_obs, 6) AS jaccard_est,
        |  n_inter_exact, n_union_exact,
        |  round(n_inter_exact / n_union_exact, 6) AS jaccard_exact
        |FROM sk, inter, exact""".stripMargin,

    "x07" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT DISTINCT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv
        |  FROM tk),
        |occ AS (
        |  SELECT count(*)::BIGINT AS occupied
        |  FROM (SELECT DISTINCT hv % 4096 FROM h)),
        |ex AS (SELECT count(*)::BIGINT AS n_exact FROM h)
        |SELECT 4096 AS m, occupied,
        |  CASE WHEN occupied < 4096
        |       THEN round(4096.0 * ln(4096.0 / (4096 - occupied)), 4)
        |       ELSE NULL END AS est_distinct,
        |  n_exact
        |FROM occ, ex""".stripMargin,

    "x08" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |rows_ AS (
        |  SELECT tok, r,
        |    CASE WHEN ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 8)
        |              )::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sign
        |  FROM tk CROSS JOIN (SELECT unnest(range(16)) AS r)),
        |sk AS (
        |  SELECT r, sum(sign)::BIGINT AS s FROM rows_ GROUP BY 1),
        |sq AS (SELECT sum(s * s)::BIGINT AS sum_sq FROM sk),
        |ex AS (
        |  SELECT sum(f * f)::BIGINT AS exact_f2
        |  FROM (SELECT count(*)::BIGINT AS f FROM tk GROUP BY tok))
        |SELECT 16 AS r_rows, (sum_sq // 16)::BIGINT AS est_f2, exact_f2,
        |  round((sum_sq::DOUBLE / 16) / exact_f2 - 1, 4) AS rel_err
        |FROM sq, ex""".stripMargin,

    "x06" ->
      """WITH z AS (
        |  SELECT (SELECT sum((((l_orderkey >> i) & 1) << (2 * i))
        |                   + (((l_partkey >> i) & 1) << (2 * i + 1)))
        |          FROM range(31) t(i))::BIGINT AS z
        |  FROM lineitem)
        |SELECT (z >> 22)::BIGINT AS bucket, count(1)::BIGINT AS n,
        |  min(z)::BIGINT AS min_z, max(z)::BIGINT AS max_z,
        |  sum(z % 1000003)::BIGINT AS checksum
        |FROM z GROUP BY 1""".stripMargin)
}
