package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SharedFrames, Tables}
import graft.functions.{TextFns, VectorFns}
import graft.functions.PushdownBarrierF.pushdownBarrier

/** Deduplication surface over `documents` / `embeddings`: exact (content
  * hash), MinHash+LSH banding, SimHash, bounded n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale posture: the LSH pipeline (shingle -> minhash -> band -> bucket
  * join) is the 100 TB path — candidate generation is a hash-bucket
  * equi-join, never an all-pairs product. Where exact all-pairs semantics
  * are demanded (d05's low-threshold cosine, where no hash family is
  * lossless), the quadratic work runs as a tiled block join that
  * distributes evenly with no nested-loop operator; d04's inverted shingle
  * index is lossless for jaccard > 0.
  */
object DedupQueries {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Rows up to which d11 runs its default 4-table x 8-bit geometry
    * verbatim — the pinned oracle's geometry at the test scales. */
  val d11MaxDefaultRows = 100000L

  /** d11's LSH geometry `(tables, bits)` for an `n`-row corpus: the
    * 4 x 8 default up to [[d11MaxDefaultRows]], the occupancy-constant
    * [[d11AutoGeometry]] past it. */
  def d11Geometry(n: Long): (Int, Int) =
    if (n <= d11MaxDefaultRows) (4, 8) else d11AutoGeometry(n, 4, 8)

  /** Full auto geometry `(tables, bits)` with TABLE-COUNT ESCALATION —
    * the third regime of the sizing law (VERDICT r17 #3, the d08 lesson
    * applied to sign-LSH: a fixed key space means occupancy regrows
    * linearly past saturation). Three regimes by corpus size:
    *
    *  1. n ≤ guard (handled by the caller): default geometry VERBATIM —
    *     the pinned oracle's geometry at the test scales.
    *  2. bit growth: needed = max(defaultBits, ceil(log2(n/4))) fits the
    *     default table count's dim budget (needed·tables ≤ 64) → keep
    *     all `defaultTables` tables, grow bits occupancy-constant.
    *  3. table escalation: past saturation (needed·defaultTables > 64),
    *     trade tables for bits — the LARGEST table count whose disjoint
    *     dim slices still cover `needed` bits each (4→3 tables at
    *     needed = 17, →2 at 22, →1 at 33). Fewer tables cost recall
    *     (the OR over tables is what amplifies it) — measured on sf0.1
    *     embeddings in D11GeomProbe: candidate recall at matched
    *     occupancy degrades gracefully, while a saturated geometry's
    *     occupancy (~15k docs/bucket at 10⁹ rows under the old 4×16
    *     cap) re-quadratizes the candidate join, which is fatal rather
    *     than lossy.
    *
    * The dim budget is hard: 64-dim embeddings sliced disjointly mean
    * tables·bits ≤ 64 always; at Long-max rows needed = 61 still fits
    * one table. */
  def d11AutoGeometry(n: Long, defaultTables: Int, defaultBits: Int): (Int, Int) = {
    val targetBucketRows = 4L
    val needed = math.max(defaultBits,
      math.ceil(math.log(n.toDouble / targetBucketRows) /
        math.log(2.0)).toInt)
    if (needed * defaultTables <= 64) (defaultTables, needed)
    else {
      val tables = math.max(1, math.min(defaultTables, 64 / needed))
      (tables, math.min(64 / tables, needed))
    }
  }

  /** (doc_id, bench_id, n_shared) for corpus docs sharing >= 2 distinct
    * shingles with the eval slice (doc_id % 97 == 0) — d09's whole body,
    * and c01's contamination gate. ONE definition so the overlap
    * semantics (shingle K, the %97 carve-out, the >= 2 threshold) can
    * never drift between the two oracle-gated call sites.
    */
  private def evalOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    // r22: the doc_id slice filters sit explicitly below the shingle
    // projection, which the optimizer cannot push them through
    def sh(d: DataFrame): DataFrame =
      shingleSets(d).select(col("doc_id"), explode(col("sarr")).as("s"))
    val bench = sh(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("bench_id"), col("s"))
    sh(docs.filter(col("doc_id") % 97 =!= 0))
      .join(bench, Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  private val nBands = 6
  // d04 intersects TextFns.shingles(text, shingleK) against the distinct
  // counts MinHashSigF emits, and MinHashSigF compiles its shingle width
  // in — the two MUST agree or jaccard denominators silently diverge
  private val shingleK = graft.functions.MinHashSigF.ShingleK

  /** `(doc_id, sarr)`: each document's distinct `shingleK`-shingle array,
    * behind the barrier so `size`, `explode` and the explode's inferred
    * filter all read it once per row (the projected-value contract on
    * [[graft.functions.PushdownBarrierF]]; BENCH_NOTES "Barrier sites").
    * Filter `d` before calling: nothing pushes through the projection. */
  private[graft] def shingleSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      pushdownBarrier(array_distinct(TextFns.shingles(col("text"), shingleK))).as("sarr"))

  /** The minhash CALIBRATION pair frame: every LSH candidate pair
    * (doc_a < doc_b) with its band-agreement count `n_agree`, both
    * distinct-shingle counts `ca`/`cb`, and the exact shared-shingle
    * count `i` (0 when band minima collide but the docs share no
    * shingle). This is the ONE materialization the whole minhash family
    * reads — the production dedup chain (d02/d07/d18/d20/d21) filters it
    * to `jaccard = i/(ca+cb-i) >= 0.5` via [[verifiedPairs]], and the
    * calibration audit (d19) keeps every candidate with its estimate.
    * Before r20, d19 re-ran this entire pipeline just to recover the
    * agreement count the verified frame had discarded — the second most
    * expensive query in the suite, for zero new scans' worth of insight.
    *
    * Signatures come from the native codegen expression
    * [[graft.functions.MinHashSigF]]: distinct-shingle count + all 6 band
    * minima in ONE map-side pass per document — no shingle explode and no
    * aggregation exchange. The declarative form this replaced
    * (explode(array_distinct(shingles)) -> md5 per shingle ->
    * groupBy(doc_id)) shuffled the exploded shingle frame, which is larger
    * than the corpus itself; at 100 TB the signature stage alone would
    * re-shuffle more bytes than the input. Value parity with the DuckDB
    * oracle's explode formulation is exact (documented clause-by-clause on
    * the expression, property-tested in `MinHashSigFSpec`).
    *
    * The verify join then explodes shingles for CANDIDATE documents only
    * (left-semi prune first): candidate density x doc length, not corpus
    * size, prices the exact-Jaccard verification at scale. Keeping the
    * sub-threshold candidates in the checkpoint costs only the verify
    * rows that were already computed and then thrown away — candidate
    * density, not corpus size, bounds the frame in both variants.
    */
  /** The BAND-JOIN candidate frame: one row per LSH candidate pair
    * (doc_a < doc_b) with both distinct-shingle counts and the
    * band-agreement count. Split out of [[calibrationPairs]] in round 22
    * so the verify pipeline can consume a MATERIALIZED copy: the r21
    * final plan recomputed this whole subtree (scan + map-side signatures
    * + band self-join + pair aggregation) FOUR times — once for the final
    * left join and once per union leg of the candidate-id set on each
    * shd side — 12 documents scans for one calibration build (the
    * column-pruning un-sharing trap: every consumer prunes a different
    * column set, so no two subtrees canonicalize equal and ReusedExchange
    * never fires; plans/r22/d02_before.txt). */
  private[queries] def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    // barrier: 7 getItems + the null gate, 1 signature (BENCH_NOTES "Barrier sites")
    val sigw = docs
      .select(col("doc_id"), pushdownBarrier(TextFns.minhashSig(col("text"))).as("sig"))
      // null = no 3-shingles: the rows the explode form never emitted
      .filter(col("sig").isNotNull)
    val sig = sigw.select(col("doc_id"), col("sig").getItem(0).as("c"),
        explode(array((1 to nBands).map(b =>
          struct(lit(b).as("band"), col("sig").getItem(b).as("mh"))): _*)).as("bm"))
      .select(col("doc_id"), col("c"), col("bm.band").as("band"), col("bm.mh").as("mh"))
    // One row per candidate pair, counting HOW MANY bands agreed (the
    // same shuffle the .distinct() this replaced already paid — a hash
    // aggregate on the pair key either way; the count is free and it is
    // the entire calibration signal)
    // Grouped on the PAIR KEY alone (r22): ca/cb are functionally
    // determined by their doc id, so max() re-reads the same value and
    // the aggregate's output partitioning is hashpartitioning(doc_a,
    // doc_b) — exactly what the final cand↔inter join downstream needs.
    // The old 4-column grouping forced one extra full re-exchange of the
    // candidate frame between the aggregation and that join
    // (plans/r22/d02_before.txt exchanges 21→25).
    sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(max(col("a.c")).as("ca"), max(col("b.c")).as("cb"),
        count(lit(1)).as("n_agree"))
  }

  /** The verify half of the calibration build: exact shared-shingle
    * counts for the candidate pairs in `cand`. `cand` is passed in so the
    * shipped path ([[calibrationCheckpoint]]) can hand over the
    * MATERIALIZED candidate frame — every consumer below (the id set, the
    * final left join) then reads its blocks instead of re-running the
    * band pipeline — while plan inspection ([[minhashPairsForPlan]])
    * passes the raw frame and sees the full pipeline. */
  private[queries] def calibrationPairs(s: SparkSession, dir: String,
                                        cand: DataFrame): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    // Exact verify on candidate docs only (left-semi prune first), via the
    // inverted-index shape: join shingles on the shingle itself and count
    // shared ones per doc pair, THEN restrict to candidate pairs. The
    // pair-expansion alternative (join cand to the a-side shingles, match
    // b-side per pair) multiplies the a-side by candidate-pairs-per-doc
    // BEFORE matching — at the 100x probe's duplication density that is a
    // ~325 M-row intermediate and 3x the runtime of this shape. Here the
    // shingle join emits only MATCHING rows and the pair-count aggregation
    // combines map-side; at low duplication density the semi prune keeps
    // the explode candidate-sized, so this wins in both regimes. Known
    // trade: a shingle shared by m candidate docs contributes ~m^2/2 join
    // rows (the d04 inverted-index hazard; the pair-expansion shape was
    // immune to it but 3x slower overall). MEASURED (r10, BENCH_NOTES
    // "Retired probes", m=10k -> 50M pairs from one key): AQE's
    // skew split never fires here — the hot key's INPUT partition is only
    // m rows, far under the byte thresholds; the blowup is OUTPUT skew.
    // But hot-key salting (a-side salted by doc_id, b-side replicated,
    // q36 pattern) measured 1.3-2x SLOWER than the plain join at that
    // scale across interleaved runs: the pair-count aggregation shuffle
    // dominates and distributes in both shapes, while salting adds a
    // per-shingle count, the hot/cold split joins, and the replicated
    // sort. Exact-Jaccard semantics need every shared shingle, so a
    // frequency cap would change results; the plain join stands until a
    // corpus shows m well past 10k per shingle.
    // Both pair endpoints from ONE read of the candidate frame: the old
    // union-of-two-projections form gave the frame two consumers with
    // different column sets, which is exactly what kept re-running the
    // band pipeline per leg before the r22 materialization (and even over
    // blocks it would read them twice).
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // the semi-join prune sits under the shingle projection
    val shd = shingleSets(docs.join(candIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), explode(col("sarr")).as("s"))
    val inter0 = shd.as("a").join(shd.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    // LEFT join cand→inter (attaches the exact intersection; the
    // candidate-pair set grows with corpus size x duplication density,
    // so broadcasting it would cap scale — AQE may still choose
    // broadcast when the measured size is small). Candidate pairs
    // sharing zero shingles keep a row with i = 0: the calibration
    // audit needs them (they are exactly the over-recall the band
    // geometry wastes verify work on), and the production filter
    // removes them as 0 < 0.5 — same verified set as the inner-join
    // variant this replaced.
    cand.join(inter0, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("ca"), col("cb"),
        col("n_agree"), coalesce(col("i"), lit(0L)).as("i"))
  }

  /** The pre-checkpoint pair-generation frame, exposed for plan
    * inspection only (PlanDump, plan tests): the d02/d07/d19 queries read
    * the shared localCheckpoint, whose explain is a bare `Scan
    * ExistingRDD` — this is the REAL minhash plan behind it (with the
    * candidate frame inlined rather than materialized, so the full band
    * pipeline stays visible; the SHIPPED build materializes it once, see
    * [[calibrationCheckpoint]]). */
  def minhashPairsForPlan(s: SparkSession, dir: String): DataFrame =
    calibrationPairs(s, dir, candidatePairs(s, dir))

  /** The calibration pair frame, materialized ONCE per (session, dir) and
    * shared by every consumer — d02 ships its verified filter, d07
    * clusters it, d19 audits the estimates. The minhash pipeline above is
    * the single most expensive subplan in the query surface (shingle
    * explode + band join + Jaccard verify), and without sharing, d07
    * re-ran all of it just to get edges d02 already produced — and d19
    * re-ran it AGAIN just to keep the agreement count (r20: −2 s of the
    * suite's 68, and at 100 TB a whole second corpus pass).
    *
    * The entry's lazy checkpoint (materialized at first action) truncates
    * lineage so consumers read the small candidate-pair blocks, never the
    * exploded shingle plan. The candidate frame is checkpointed once in
    * the same entry's scope and the verify pipeline's three consumers read
    * its blocks: without it the final plan re-ran the whole band pipeline
    * four times / 12 documents scans per build (plans/r22/
    * d02_{before,after}.txt). Releasing tag "minhash" frees both. A
    * long-lived session calls `SharedFrames.release` after the consuming
    * actions; the build cost lands on whichever consumer runs first.
    */
  private def calibrationCheckpoint(s: SparkSession, dir: String): DataFrame =
    SharedFrames.shared(s, dir, "minhash") { scope =>
      calibrationPairs(s, dir, scope.checkpoint(candidatePairs(s, dir), eager = false))
    }

  /** The production view of [[calibrationCheckpoint]]: exact shingle
    * Jaccard attached, filtered to the verified >= 0.5 near-dup pairs.
    * The division is recomputed per read — two longs off the checkpoint,
    * bit-identical to computing it pre-checkpoint, and it keeps the
    * stored frame estimator-neutral. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    calibrationCheckpoint(s, dir)
      .withColumn("jaccard",
        col("i").cast("double") / (col("ca") + col("cb") - col("i")))
      .filter(col("jaccard") >= 0.5)

  /** 64-bit Charikar SimHash per document as two unsigned 32-bit halves —
    * the native codegen expression [[graft.functions.SimHash64F]]: one
    * map-side pass per document, no token explode and no
    * 64-conditional-sum aggregation exchange (the declarative form
    * re-shuffled the corpus re-keyed one row per word; value parity is
    * property-tested in `SimHash64FSpec`). The r16 ×1000 probe migrated
    * this chain from 32 to 64 bits: d08's band-key space is fixed by the
    * signature width, and 4×8-bit bands (1,024 keys) meant candidate
    * products n²/256 — 4×16-bit bands (262,144 keys) bring occupancy to
    * n/65,536. Two halves, never one 64-bit value: bit 63 would
    * sign-overflow BIGINT/LongType in the oracle's pow/%-arithmetic. */
  private def simhashes(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")
      // barrier: hi and lo read 1 simhash (BENCH_NOTES "Barrier sites")
      .select(col("doc_id"), pushdownBarrier(TextFns.simhash64Native(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh").getItem(0).as("simhash_hi"),
        col("sh").getItem(1).as("simhash_lo"))

  /** d04's pair-count shape: co-shingle counts `(doc_a < doc_b, i)` from
    * the inverted-index self-join on the hashed shingle column `s`.
    *
    * One plan: the plain equi-join, whose identical sides share one
    * exchange. A genuinely hot shingle (a boilerplate span shared by m
    * documents) makes ONE join key emit m²/2 output rows on a single
    * task — output skew AQE cannot split (measured: +51% wall at a
    * 1%-hot ×100 corpus, BENCH_NOTES "Round 17"); on organic corpora a
    * salted join measured 1.3–2× SLOWER (BENCH_NOTES "Retired probes").
    *
    * CONTRACT: `sh` carries `(doc_id, s, c)` with `c` the document's
    * distinct-shingle count (constant per doc); the output is always
    * `(doc_a, doc_b, i, ca, cb)` — `i` the co-shingle count, `ca`/`cb`
    * each side's `c`. */
  private[graft] def coShinglePairs(sh: DataFrame): DataFrame = {
    require(sh.columns.contains("c"),
      "coShinglePairs needs the per-doc shingle count column `c` on the " +
        s"shingle frame (got columns ${sh.columns.mkString(", ")})")
    // Round 22: the per-doc count `c` is aggregated through (max
    // re-reads the constant-per-doc value) so the caller gets ca/cb
    // WITHOUT a separate count pass — d04's old shape paid a second full
    // corpus scan + signature kernel just to rebuild the counts, then two
    // joins to attach them. The carry costs 8 bytes per exploded row on
    // the exchange both join sides already share.
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"),
        max(col("a.c")).as("ca"), max(col("b.c")).as("cb"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup metrics per source: hash-groupBy on md5(text).
    "d01" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_doc_id"))
    },

    // MinHash + LSH near-dup pairs: 6 bands x 1 row; candidates share any
    // band minhash, then verified with true shingle-set Jaccard >= 0.5.
    "d02" -> { (s, dir) =>
      verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), (floor(col("jaccard") * 10000) / 10000).as("jaccard"))
    },

    // Duplicate-cluster resolution: the verified near-dup pairs are edges,
    // each connected component is one duplicate cluster (min member id =
    // cluster id = representative to keep). Pointer-jumping min-label
    // propagation — O(log diameter) shuffle rounds, never the quadratic
    // transitive closure (that's the DuckDB oracle's recursive CTE at test
    // scale).
    "d07" -> { (s, dir) =>
      graft.operators.ConnectedComponents
        .resolve(verifiedPairs(s, dir), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          (col("node") === col("component")).as("is_representative"))
    },

    // The dedup MANIFEST — what a 100 TB dedup job actually ships to the
    // next stage: one row per corpus document with its keeper reference
    // and a keep/drop action. d07 resolves near-dup clusters (only docs
    // that appear in a verified pair); the manifest completes the
    // contract by left-joining the whole corpus — unclustered documents
    // keep themselves. Reuses the shared verified-pairs checkpoint, so
    // in a pipeline that already ran d02/d07 the marginal cost is one
    // broadcast-sized join (clusters ≪ corpus by construction).
    "d18" -> { (s, dir) =>
      val clusters = graft.operators.ConnectedComponents
        .resolve(verifiedPairs(s, dir), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
      Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("component"), col("doc_id")).as("keeper_id"),
          when(coalesce(col("component"), col("doc_id")) === col("doc_id"),
            "keep").otherwise("drop").as("action"))
    },

    // MinHash CALIBRATION audit — the measurement loop behind choosing
    // d02's band geometry (s07's role, for text): every LSH candidate
    // pair gets its banded similarity ESTIMATE (agreeing band minima / 6)
    // next to its exact shingle Jaccard and the absolute error. This is
    // the query that tells you whether 6 bands over-recall (wasted verify
    // work) or under-recall (missed dups) BEFORE a 100 TB run commits to
    // a geometry. The calibration signal (n_agree, i, ca, cb) IS the
    // shared checkpoint's content, so this is a projection over the
    // materialization d02/d07 already paid for — before r20 it re-ran
    // the whole signature/band/verify pipeline (2.19 s, the suite's
    // second most expensive query) for zero new scans' worth of signal.
    // Estimate-only pairs (band minima collide, zero shared shingles)
    // arrive as i = 0 rows and surface with j_exact 0, not absent rows.
    "d19" -> { (s, dir) =>
      calibrationCheckpoint(s, dir)
        .withColumn("jx",
          col("i").cast("double") / (col("ca") + col("cb") - col("i")))
        .select(col("doc_a"), col("doc_b"), col("n_agree"),
          round(col("n_agree") / lit(nBands), 4).as("j_est"),
          round(col("jx"), 4).as("j_exact"),
          round(abs(col("n_agree") / lit(nBands) - col("jx")), 4)
            .as("abs_err"))
    },

    // Ensemble near-dup vote: the three independent pair detectors —
    // MinHash-verified Jaccard (d02), banded SimHash Hamming (d08), and
    // exact n-gram Jaccard (d04) — unioned into one per-pair verdict
    // with a vote count and per-method flags. This is how production
    // dedup actually decides on marginal pairs (methods disagree
    // precisely on the interesting ones: d02 can MISS true ≥0.5-Jaccard
    // pairs whose bands never collide — visible here as ngram-only
    // votes — while simhash fires on bit-local pairs the shingle
    // methods score below threshold). The per-method lambdas are reused
    // through the registry at CALL time, so d20 can never drift from
    // the detectors it grades, and d02's shared verified-pair
    // checkpoint is reused, not rebuilt.
    "d20" -> { (s, dir) =>
      def pairsOf(code: String) = queries(code)(s, dir)
        .select(col("doc_a"), col("doc_b")).withColumn("method", lit(code))
      pairsOf("d02").union(pairsOf("d08")).union(pairsOf("d04"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_votes"),
          max(when(col("method") === "d02", 1).otherwise(0)).as("via_minhash"),
          max(when(col("method") === "d08", 1).otherwise(0)).as("via_simhash"),
          max(when(col("method") === "d04", 1).otherwise(0)).as("via_ngram"))
    },

    // Dedup REPORT: the duplicate-cluster size histogram — the one-page
    // summary a dedup run ships to humans (how much is duplicated, in
    // what clump sizes, and how many docs the manifest will drop). From
    // d07's resolved components: cluster sizes, then size → frequency,
    // with docs_dropped = (size − 1)·n_clusters per bucket. Reuses the
    // shared verified-pair checkpoint; the histogram frames are
    // cluster-count-sized, then size-distinct-sized — vanishing.
    "d21" -> { (s, dir) =>
      val sizes = graft.operators.ConnectedComponents
        .resolve(verifiedPairs(s, dir), "doc_a", "doc_b")
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("docs_dropped",
          (col("cluster_size") - 1) * col("n_clusters"))
    },

    // Per-document 64-bit SimHash (Charikar) as two unsigned 32-bit
    // halves: token hashes vote per bit, hi half from md5 hex chars 1-8,
    // lo half from chars 9-16.
    "d03" -> { (s, dir) => simhashes(s, dir) },

    // SimHash near-dup MATCHING: banded Hamming search over the d03
    // signatures. Pigeonhole: 64 bits split into 4 16-bit bands (two
    // slices per 32-bit half) — any pair within Hamming distance 3 agrees
    // on at least one whole band, so an equi-join on (band, slice) finds
    // every such pair without an all-pairs product;
    // bit_count(xor(hi)) + bit_count(xor(lo)) then verifies exactly. All
    // codegen'd integer ops; the band join is the same shuffle shape as
    // d02's LSH buckets. Band width is the scale lever: 4×16-bit bands
    // give 262,144 distinct (band, slice) keys vs the old 32-bit form's
    // 1,024, so bucket occupancy is n/65,536 and the candidate product
    // stays linear-ish through the 5M-doc probe decade instead of
    // n²/256 (BENCH_NOTES.md "Round 16").
    "d08" -> { (s, dir) =>
      val sims = simhashes(s, dir)
      val banded = sims.select(col("doc_id"), col("simhash_hi"),
          col("simhash_lo"),
          explode(array(
            struct(lit(0).as("b"), (col("simhash_lo") % 65536).as("bv")),
            struct(lit(1).as("b"),
              (shiftright(col("simhash_lo"), 16) % 65536).as("bv")),
            struct(lit(2).as("b"), (col("simhash_hi") % 65536).as("bv")),
            struct(lit(3).as("b"),
              (shiftright(col("simhash_hi"), 16) % 65536).as("bv")))).as("bb"))
        .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
          col("bb.b").as("b"), col("bb.bv").as("bv"))
      banded.as("a").join(banded.as("b"),
          col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (bit_count(col("a.simhash_hi").bitwiseXOR(col("b.simhash_hi"))) +
            bit_count(col("a.simhash_lo").bitwiseXOR(col("b.simhash_lo"))))
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    },

    // Full-corpus all-pairs token-3-gram Jaccard via inverted shingle index
    // (pairs must share >= 1 shingle, so the index join is lossless for
    // jaccard > 0 — no candidate is dropped, unlike the banded LSH path).
    // The index joins the 60-BIT HASH of the shingle, never the string:
    // the self-join is the one corpus-scale shuffle here, and shipping
    // variable-length text through it was probe-measured as the
    // difference between d20 aborting and completing the 5M-doc decade
    // (strings put ~5× the bytes through sort pages; the r17 ladder's
    // GCLocker thrash). 60 bits keep the expected colliding-pair count
    // ~0.02 at 2×10⁸ distinct shingles, and the DuckDB oracle computes
    // the identical hash, so parity is exact even IF one collides.
    "d04" -> { (s, dir) =>
      // Round 22: the per-doc distinct-shingle count rides THROUGH the
      // explode as a constant column (`c`, 8 B per exploded row on the
      // exchange both self-join sides already share) and coShinglePairs
      // aggregates it back out as ca/cb. The r21 shape derived the counts
      // from a SECOND full corpus scan + the signature kernel
      // (MinHashSigF slot 0 — value-parity with size-of-distinct is that
      // spec's property) and paid two joins to attach them; at 100 TB
      // that was a whole extra corpus pass for numbers the explode
      // already knew. Docs with zero shingles explode to nothing and
      // can't appear in a pair — exactly the rows the old sig-isNotNull
      // filter dropped. Plan: 2 scans + 3 joins → 1 scan + 1 join
      // (plans/r22/d04_{before,after}.txt); d20's d04 leg inherits it.
      // size() and explode() read 1 shingle array (BENCH_NOTES "Barrier sites")
      val sh = shingleSets(Tables.loadSpread(s, dir, "documents"))
        .select(col("doc_id"), size(col("sarr")).as("c"),
          explode(col("sarr")).as("sraw"))
        .select(col("doc_id"), col("c"), TextFns.md5Hash60(col("sraw")).as("s"))
      coShinglePairs(sh)
        .withColumn("jaccard", col("i").cast("double") / (col("ca") + col("cb") - col("i")))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), (floor(col("jaccard") * 10000) / 10000).as("jaccard"))
    },

    // Benchmark decontamination: corpus documents sharing >= 2 distinct
    // token 3-grams with any eval-set document (the doc_id % 97 == 0 slice
    // stands in for the benchmark table). The canonical pre-training
    // hygiene pass: evals leak into crawled corpora, and training on them
    // invalidates the benchmark. Shape: the eval side of the shingle join
    // is benchmark-sized — in a real deployment a separate, bounded table
    // that merits an explicit broadcast(); here it is carved from the
    // corpus itself and grows with it, so the plan is left to AQE (which
    // broadcasts it at the driver SFs) rather than force-broadcasting a
    // fact-derived frame. The overlap aggregation shuffles only MATCHING
    // rows, so corpus-side cost is one scan + the shingle hash join.
    "d09" -> { (s, dir) => evalOverlap(s, dir) },

    // Leakage-guarded split: w03's deterministic hash split COMPOSED with
    // d09's shingle-overlap check — every train document is flagged when
    // it shares ≥2 distinct shingles with any held-out (val/test)
    // document, the audit a pipeline runs BEFORE shipping a split so the
    // eval set doesn't grade memorization. Same inverted-index shape as
    // d09 (shingle equi-join, never doc×doc); the split gate is the w03
    // hash family (seed 2) so d17's split IS w03's split, and the output
    // keeps every document (left join + coalesce 0) — absence-of-flag is
    // an auditable row, not a missing one.
    "d17" -> { (s, dir) =>
      val bucket = TextFns.md5Hash32(col("doc_id").cast("string"), 2) % 100
      val split = when(bucket < 90, "train")
        .when(bucket < 95, "val").otherwise(lit("test"))
      val base = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), split.as("split"), col("text"))
      // split filters below the shingle projection (the evalOverlap shape)
      def shx(d: DataFrame): DataFrame =
        shingleSets(d).select(col("doc_id"), explode(col("sarr")).as("s"))
      val held = shx(base.filter(col("split") =!= "train"))
        .select(col("s"), col("doc_id").as("held_id"))
      val leaks = shx(base.filter(col("split") === "train")).join(held, Seq("s"))
        .groupBy(col("doc_id"), col("held_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_leak_partners"))
      base.select(col("doc_id"), col("split"))
        .join(leaks, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"),
          coalesce(col("n_leak_partners"), lit(0L)).as("n_leak_partners"),
          (coalesce(col("n_leak_partners"), lit(0L)) > 0).as("leaky"))
    },

    // Sub-document exact dedup: non-overlapping 5-token windows repeated
    // across documents (the boilerplate-span detection pass — headers,
    // footers and license blocks recur verbatim across crawled pages while
    // the documents differ as wholes). One scan, windows exploded
    // (~n_tokens/5 rows), then the exact-dedup hash aggregation with
    // map-side partial combine — document-count > 1 keeps only CROSS-doc
    // repetition, so within-doc repeats don't masquerade as boilerplate.
    "d10" -> { (s, dir) =>
      val toks = TextFns.tokens(col("text"))
      Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("nw", floor(size(col("toks")) / 5).cast("int"))
        // sequence(0, nw-1) would run DESCENDING for nw == 0 — guard first
        .filter(col("nw") >= 1)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), col("nw") - 1),
            i => array_join(slice(col("toks"), i * 5 + 1, lit(5)), " "))).as("win"))
        .groupBy(col("win"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
    },

    // Exact dedup with representative selection: keep the lowest doc_id per
    // content hash — the output a dedup pass actually ships. On unique-text
    // data this keeps everything; the mechanism (hash -> groupBy -> min_by
    // -> semi-join back) is the 100 TB exact-dedup shape.
    "d06" -> { (s, dir) =>
      val hashed = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
      val keep = hashed.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      keep.select(col("doc_id"), col("n_copies"))
    },

    // Embedding-cosine near-dup, EXACT all-pairs as a tiled block join. At
    // threshold 0.4 on dense vectors no hash family is lossless (the data's
    // qualifying pairs sit at cs=0.4001 — sign-LSH recall there is ~0.6 per
    // bit, so bucketed candidates would go red against the exact oracle);
    // the honest exact-at-scale shape is to distribute the quadratic work
    // evenly instead of capping it: block each vector by hash, drive the
    // B^2 ordered block-pairs through a broadcast of the tiny pair table,
    // and the probe is a plain equi-join on the partner block — every pair
    // of tiles meets in exactly one task, no BroadcastNestedLoopJoin, no
    // driver bottleneck, no row cap. Approximate sub-quadratic variants
    // live in s02 (LSH) / s03 (IVF); d02 is the lossy-threshold text path.
    "d05" -> { (s, dir) =>
      import s.implicits._
      // Scale guard: exact all-pairs is O(n^2) BY CONTRACT. Refuse to
      // launch past a configurable corpus size so nobody aims a
      // cluster-killer at a 100 TB table by accident — the sub-quadratic
      // siblings (d02 text LSH, s02 sign-LSH, s03 IVF) are the scale
      // paths. The pre-count is one column-less scan, O(footers),
      // negligible next to the quadratic join it gates. Setting
      // spark.graft.d05.maxRows <= 0 disables guard AND pre-count for
      // trusted runs that don't want the extra scan.
      val maxRows = graft.GraftSession.longConf(s, "spark.graft.d05.maxRows", 1000000L)
      val base = Tables.loadSpread(s, dir, "embeddings")
      if (maxRows > 0) {
        val n = base.count()
        require(n <= maxRows,
          s"d05 is exact all-pairs (O(n^2)): $n embedding rows " +
            s"exceed the $maxRows-row guard (spark.graft.d05.maxRows). Use " +
            "the sub-quadratic paths: d11 (embedding " +
            "near-dup, multi-table sign-LSH), d02 (text), " +
            "s02 / s03 (ANN).")
      }
      val nBlocks = 8
      val e = base
        .select(col("vec_id"), col("embedding"),
          pmod(hash(col("vec_id")), lit(nBlocks)).as("blk"))
      val blockPairs = (0 until nBlocks)
        .flatMap(i => (0 until nBlocks).map(j => (i, j)))
        .toDF("ba", "bb")
      e.as("a").join(broadcast(blockPairs), col("a.blk") === col("ba"))
        .join(e.as("b"),
          col("bb") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cs", VectorFns.cosine(col("a.embedding"), col("b.embedding")))
        .filter(col("cs") >= 0.4)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(col("cs"), 4).as("cosine"))
    },

    // Embedding near-dup, SUB-QUADRATIC — the scale path that answers
    // d05's by-contract O(n²): 4 sign-LSH hash tables over disjoint 8-dim
    // slices (the OR-amplified multi-table construction, embedding
    // counterpart of d02's MinHash bands — a pair is a candidate iff it
    // collides in ANY table), distinct candidate ids, then the exact
    // cosine ≥ 0.4 verify on an id-keyed re-join (the inverted-index
    // lesson from d02: never carry payload arrays through the candidate
    // join). Work is Σ per-bucket m²/2 over 4×256 buckets instead of
    // n²/2 — recall is what the 4-table OR buys, and candidates this
    // scheme misses are pairs whose signs differ in every table, which at
    // cosine ≥ 0.4 is the accepted LSH trade. Skewed (popular) sign
    // patterns concentrate candidates; AQE's skew-join split applies to
    // the verify join, and the per-table bucket histogram is one cheap
    // aggregation away when a real corpus needs monitoring.
    //
    // SCALE LAW: per-bucket occupancy is n / 2^bits per table, and the
    // candidate join does Σ m²/2 per bucket — so bits must grow with the
    // corpus (occupancy-constant: bits ≈ log2(n / targetBucketRows)).
    // The 8-bit default matches the pinned oracle at the test scales;
    // at 200k vectors (the 100x probe) 8 bits means ~780 rows/bucket →
    // ~300M candidate pairs, while 16 bits (4 tables x 16 = all 64 dims)
    // keeps the join linear-ish. Wider buckets trade recall exactly as
    // more MinHash rows-per-band do in d02 — that's the geometry's contract,
    // not a correctness knife-edge.
    "d11" -> { (s, dir) =>
      val e = Tables.loadSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // the 8-bit default is a TEST-SCALE geometry: at 200k rows it means
      // ~780 rows/bucket -> ~300M candidate pairs, whose distinct()
      // shuffle ran a 77 GB disk out in the 100x probe. Past
      // d11MaxDefaultRows the geometry AUTO-SIZES ([[d11Geometry]]):
      // occupancy-constant bits = ceil(log2(n / targetBucketRows)) with
      // targetBucketRows = 4 — at 200k rows that picks 16 bits per
      // table. Below the threshold the default geometry is used VERBATIM
      // (the pinned oracle's geometry at the test scales).
      // CAVEAT the auto-size makes duplicate-pair RECALL discontinuous in
      // corpus size: crossing the threshold changes the geometry and
      // therefore which near-pairs collide, between two otherwise-
      // identical runs — and past saturation (needed·tables > 64) the
      // auto law also ESCALATES the table count down ([[d11AutoGeometry]]
      // regime 3), trading recall for a candidate join that stays
      // occupancy-constant.
      // count the RAW load, not the loadSpread frame: counting after the
      // spread repartition would pay its exchange just to count
      val n = Tables.load(s, dir, "embeddings").count()
      val (tables, bits) = d11Geometry(n)
      // through the logger, not stderr: production log pipelines index
      // logger events; a bare println is invisible there
      if (n > d11MaxDefaultRows)
        log.warn(s"d11 auto-sized LSH geometry: $n rows > " +
          s"$d11MaxDefaultRows guard, using $tables tables x $bits bits " +
          s"(~${n / (1L << bits)} rows/bucket)")
      val tabbed = e.select(col("vec_id"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFns.signBucketSlice(col("embedding"), t * bits, bits).as("bkt"))
        }: _*)).as("tb"))
        .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      val cand = tabbed.as("a").join(tabbed.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .withColumn("cs", VectorFns.cosine(col("ea"), col("eb")))
        .filter(col("cs") >= 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cs"), 4).as("cosine"))
    },

    // Bloom-prefiltered decontamination — d09's contract and EXACT output,
    // but the corpus side never shuffles wholesale: a Bloom filter built
    // over the eval-set shingles (k=3 hashes into a 2^18 position
    // space) is probed MAP-SIDE by three broadcast left-semi joins, so
    // only bloom-hit shingles reach the exact confirm join. Blooms have no
    // false negatives (every bench-shingle position is in the set), so
    // the confirm join's output is bit-identical to d09's — false
    // positives only cost discarded join work, priced by the FP rate
    // ((k·|bench|/m)^k ≈ 1e-4 at defaults). At 100 TB this is the
    // difference between shuffling every corpus shingle into the
    // decontamination join and shuffling ~(true overlap + ε): eval sets
    // are small by nature, the corpus is not.
    //
    // The position hash is Spark-native xxhash64, NOT the portable md5
    // family: the bloom never influences the output (no false negatives +
    // exact confirm), so the oracle doesn't model it and cross-engine
    // hash parity buys nothing — while md5's string round-trip tripled
    // the probe's CPU cost on a corpus where the scan is CPU-bound. The
    // semi-join chain evaluates hash j only on survivors of hashes <j,
    // so the common (miss) path pays ~1 hash. Win condition is honest:
    // the prefilter trades per-row probe CPU for shuffle bytes, so it
    // wins when the confirm shuffle is network-bound (any real cluster)
    // or the eval set is selective; on this shared-vocabulary synthetic
    // corpus at local[32] (8.9% true shingle overlap, zero network) it
    // measures ~par with d09 — see BENCH_NOTES.
    //
    // The bloom is kept as a distinct-position table (≤ min(k·|bench|,
    // 2^18) longs) instead of a packed-word bitmap: the membership
    // test stays a pure broadcast EQUI-join the optimizer fully
    // understands, and the broadcast is hard-capped by construction at
    // 2^18 rows (2 MiB) — which is also why the
    // explicit broadcast() hint on a fact-derived frame is safe here
    // when it isn't in d02.
    "d12" -> { (s, dir) =>
      val m = 1L << 18
      val nHash = 3
      def pos(j: Int, shingle: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        pmod(xxhash64(lit(j), shingle), lit(m))
      // slice filters below the shingle projection (the evalOverlap shape)
      val docsAll = Tables.loadSpread(s, dir, "documents")
      def shx(d: DataFrame): DataFrame =
        shingleSets(d).select(col("doc_id"), explode(col("sarr")).as("s"))
      val bench = shx(docsAll.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id").as("bench_id"), col("s"))
      val bloom = bench
        .select(explode(array((0 until nHash).map(j => pos(j, col("s"))): _*)).as("p"))
        .distinct()
      val survivors = (0 until nHash).foldLeft(
          shx(docsAll.filter(col("doc_id") % 97 =!= 0))) {
        (df, j) => df.join(broadcast(bloom), pos(j, col("s")) === col("p"), "left_semi")
      }
      survivors.join(bench, Seq("s"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // Incremental dedup — the production shape for a continuously-
    // ingested corpus: dedup the NEW batch against the kept history
    // without re-aggregating history. Batch membership is deterministic
    // (doc_id % 10 == 9 stands in for "today's crawl"); a new doc
    // survives iff its content hash is absent from history (left-anti)
    // AND it is first within its own batch (min doc_id per hash). The
    // history side reduces to a single hash column before the join, and
    // in production the kept corpus is STORED bucketed by content hash
    // (operators/Bucketing), making the anti-join exchange-free on the
    // big side — only the daily delta shuffles. Contrast d01/d06, which
    // re-aggregate the whole corpus every run; at 100 TB that difference
    // is the whole ingestion budget.
    "d13" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
      val hist = docs.filter(col("doc_id") % 10 =!= 9).select(col("h"))
      val batch = docs.filter(col("doc_id") % 10 === 9)
      batch.join(hist, Seq("h"), "left_anti")
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_batch_copies"))
        .select(col("doc_id"), col("h"), col("n_batch_copies"))
    },

    // Prefix-hash dedup: cluster documents sharing their first 16 tokens —
    // the cheap catch for boilerplate-prefixed scrapes and truncation
    // duplicates (same article, different tail) that whole-document
    // hashing (d01) treats as distinct and that MinHash (d02) only finds
    // when the shared prefix dominates the shingle set. Same scale class
    // as d01: one map-side prefix hash (the native md5_32 kernel over a
    // bounded 16-token slice — cost independent of document length) into
    // a hash-groupBy; the output is cluster-sized, never corpus-sized.
    "d14" -> { (s, dir) =>
      val nPrefix = 16
      val prefix = array_join(
        slice(TextFns.tokens(col("text")), 1, nPrefix), " ")
      Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.md5Hash32(prefix, seed = 14).as("prefix_h"))
        .groupBy(col("prefix_h"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keep_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .filter(col("n_docs") > 1)
    },

    // Cross-document duplicated n-gram SPANS — the signal behind exact
    // substring deduplication (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better", ACL'22, which removes 50-token spans
    // occurring verbatim in >1 document; 8 tokens here so the driver
    // corpus exercises the flagged path). d01/d14 hash whole documents or
    // prefixes; this finds PARTIAL overlap — boilerplate, quotes,
    // templates — and scores each document by how much of it is shared
    // text. Shape at 100 TB: explode to (doc_id, gram_hash) — the gram
    // TEXT never leaves the map side, only its 32-bit hash — then (1) the
    // flagged-gram set comes from a DISTINCT (hash, doc) pair count
    // (vocabulary-bounded, the t09/x04 argument), (2) occurrences join
    // the flagged set by left-semi on the hash (at corpus scale a bloom
    // prefilter slots in exactly like d12's), (3) per-doc totals are one
    // partial-agg shuffle on doc_id. No sort anywhere; every shuffle
    // carries (long, long) pairs.
    "d15" -> { (s, dir) =>
      val n = 8
      val docs = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.tokens(col("text")).as("toks"))
      // Gram identity is a 55-bit polynomial over per-token 32-bit md5
      // hashes — each token is hashed ONCE and the 8-gram combines in
      // pure long arithmetic ((acc*131 + h) mod 2^55, no overflow:
      // acc*131 < 2^62). The first-draft alternative (materialize each
      // 8-token gram STRING, md5 it) measured 11.2 s of string building
      // alone at the 100x probe vs 6.3 s for this whole hash pass, and
      // 2^55 collides ~6000x less than a 32-bit gram hash at
      // billion-gram scale. DuckDB's list_reduce seeds acc with the
      // first element where Spark's aggregate seeds 0L — identical
      // sequences, since 0*131 + h1 = h1 (parity probe-pinned).
      // sequence(1, size-7) would be DESCENDING for short docs (the m07
      // lesson) — guard to an empty gram list below n tokens.
      // barrier: 3 reads + the inferred filter, 1 hash array (BENCH_NOTES "Barrier sites")
      val grams = docs
        .select(col("doc_id"),
          pushdownBarrier(transform(col("toks"), t => TextFns.md5Hash32(t))).as("hs"))
        .select(col("doc_id"),
          explode(when(size(col("hs")) >= n,
            expr(s"transform(sequence(1, size(hs) - ${n - 1}), " +
              s"i -> aggregate(slice(hs, i, $n), 0L, " +
              s"(acc, x) -> (acc * 131 + x) % ${1L << 55}))"))
            .otherwise(array().cast("array<bigint>"))).as("gh"))
      // ONE materialization of the exploded gram stream: collapse to
      // (gh, doc_id) -> occurrence count (map-side combined), then
      // localCheckpoint the pair frame — it feeds THREE consumers
      // (flagged-set derivation, per-doc totals, the dup semi-join) and
      // without the checkpoint each consumer re-runs the
      // tokenize/explode/hash pipeline (probe-verified: 7 parquet scans,
      // 1 ReusedExchange — the semi-join's isnotnull pushdown breaks
      // canonical matching, the w04 lesson). Same shared-subplan
      // pattern, registry, and Bench reset discipline as d02/d07's
      // verified pairs.
      val pairs = SharedFrames.shared(s, dir, "d15") { _ =>
        grams.groupBy(col("gh"), col("doc_id"))
          .agg(count(lit(1)).as("occ"))
      }
      val flagged = pairs
        .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("gh"))
      val totals = pairs.groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n_grams"))
      val dup = pairs.join(flagged, Seq("gh"), "left_semi")
        .groupBy(col("doc_id")).agg(sum(col("occ")).as("n_dup_grams"))
      docs.select(col("doc_id"), col("source"))
        .join(totals, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          round(when(coalesce(col("n_grams"), lit(0L)) === 0, 0d)
            .otherwise(coalesce(col("n_dup_grams"), lit(0L)) /
              col("n_grams")), 6).as("dup_frac"))
    },

    // Semantic dedup (SemDeDup, Abbas et al., arXiv:2303.09540): cluster
    // the embedding corpus, then look for near-duplicate pairs ONLY
    // inside a cluster — the production answer to d05's by-contract
    // O(n²) when the near-dup signal is semantic (paraphrases,
    // re-encodes) rather than the bit-locality d11's sign-LSH exploits.
    // Total work = n·k (assignment cosines) + n²/k (within-cluster
    // pairs), minimized at k = √n → 2·n^1.5 — so k auto-sizes to
    // floor(√n), NOT a fixed per-cluster occupancy (n/256 would make
    // the assignment itself O(n²/256), the exact quadratic this query
    // exists to avoid). Both engines floor an IEEE sqrt of the same
    // exact count, so the oracle sizes identically. Parallelism GROWS
    // with the corpus on both phases (assignment is map-side; the
    // pair-join key is the cluster id, √n keys of √n rows each).
    // Deterministic seeding (centroids = vectors 0..k-1, one assignment
    // pass — s06 is the Lloyd step that refines them) keeps the oracle
    // exact. Keep-rule: a vector is dropped iff a LOWER-id vector sits
    // within τ in its cluster — deterministic and order-free, SemDeDup's
    // keep-one-per-similarity-group intent without iterative peeling.
    //
    // Assignment shape at scale: the naive form (cross join k broadcast
    // centroids, window-rank per vec_id — s03/s06's shape, fine at their
    // FIXED k=8) would shuffle n×k rows carrying the 64-float payload
    // once k auto-sizes (156 M wide rows at the 100× probe). Instead the
    // argmin is a map-side min over (distance, cid) PACKED INTO ONE LONG
    // (micro-distance << 42 | cid) — min_by/min over a struct ordering
    // key plans as a SortAggregate (struct buffers aren't mutable in
    // UnsafeRow), which would SORT the n×k exploded stream; a long min
    // is a codegen HashAggregate, so the ×k explosion never leaves its
    // codegen stage, partial agg combines map-side, and the shuffle
    // carries ONE (vec_id, packed) row per vector — with the embedding
    // payload re-joined by id afterwards (d11's payload-re-join lesson).
    // The distance key is 1 − round(cos, 6), not −round(cos, 6):
    // cosines hit exactly 1.0 and negating 0.0 would order −0.0 vs 0.0
    // — 1−x stays in [0, 2], so micro-distance ∈ [0, 2e6] (21 bits) and
    // the packed ordering is exactly (dist asc, cid asc) lexicographic.
    "d16" -> { (s, dir) =>
      val tau = 0.4 // synthetic-corpus scale; real embedding stacks ~0.95
      val e = Tables.loadSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // same column-less O(footers) count d05's guard and d11's
      // auto-size pay; √(Long.MaxValue) < 2^32, so cid always fits the
      // packed key's 42 low bits
      val k = math.max(8L, math.sqrt(e.count().toDouble).toLong)
      val cents = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val microDist = round((lit(1d) -
        round(VectorFns.cosine(col("embedding"), col("cv")), 6)) * 1e6)
        .cast("long")
      val assignedIds = e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          (shiftleft(microDist, 42) + col("cid")).as("packed"))
        .groupBy(col("vec_id"))
        .agg(min(col("packed")).as("packed"))
        .select(col("vec_id"),
          col("packed").bitwiseAND(lit((1L << 42) - 1)).as("cid"))
      val assigned = assignedIds.join(e, Seq("vec_id"))
      // both directions in one self-join (x.vec_id =!= y.vec_id) so the
      // per-vector verdict needs no union re-running the pipeline; each
      // unordered pair costs two cosines, but assigned's cid exchange is
      // reused across the two sides instead of recomputing the assignment
      val pairs = assigned.as("x").join(assigned.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
        .filter(VectorFns.cosine(col("x.embedding"), col("y.embedding")) >= tau)
        .select(col("x.cid").as("cid"), col("x.vec_id").as("vec_id"),
          col("y.vec_id").as("partner"))
      pairs.groupBy(col("cid"), col("vec_id"))
        .agg(count(lit(1)).as("n_partners"),
          (min(col("partner")) > col("vec_id")).as("keep"))
    },

    // The capstone composite: one corpus-cleaning pass emitting a verdict
    // per document with the FIRST failing gate — the query a pipeline
    // user actually ships, and the shape that matters at 100 TB: the
    // row-local gates (length, language, quality) are free codegen
    // predicates on the scan; only the corpus-level gates pay joins
    // (keeper semi-structure on the content hash, decontamination overlap
    // against the eval slice), and both join SMALL derived frames. Gate
    // order is part of the contract (cheap and local before joined) and
    // is encoded identically in the oracle's CASE chain.
    // Corpus referential-integrity + payload-validity audit — the check a
    // multimodal pipeline runs BEFORE training: every document should
    // have exactly one embedding and vice versa (left-anti probes both
    // ways), and every embedding must be structurally sound (expected
    // dim count, no NaN elements, non-zero norm — a zero vector poisons
    // cosine math downstream in s01/s07/s09). 100 TB shape: the orphan
    // probes shuffle bare ids only; the validity checks are map-side
    // column predicates (the NaN scan is one codegen `exists`, the norm
    // is the pinned left-to-right dot); five 1-row aggregates broadcast
    // into the single output row.
    "c02" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val e = Tables.loadSpread(s, dir, "embeddings")
      val checked = e.select(col("vec_id"),
        (size(col("embedding")) === 64).as("dim_ok"),
        exists(col("embedding"), x => isnan(x)).as("has_nan"),
        (VectorFns.dot(col("embedding"), col("embedding")) === 0.0)
          .as("zero_norm"))
      val orphanVec = checked
        .join(d, col("vec_id") === col("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_vecs_without_doc"))
      val orphanDoc = d
        .join(e.select(col("vec_id")), col("doc_id") === col("vec_id"),
          "left_anti")
        .agg(count(lit(1)).as("n_docs_without_vec"))
      val stats = checked.agg(count(lit(1)).as("n_vecs"),
        count(when(col("dim_ok"), 1)).as("n_dim_ok"),
        count(when(col("has_nan"), 1)).as("n_nan"),
        count(when(col("zero_norm"), 1)).as("n_zero_norm"))
      d.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(stats))
        .crossJoin(broadcast(orphanDoc))
        .crossJoin(broadcast(orphanVec))
    },

    "c01" -> { (s, dir) =>
      // null text gets a coalesced hash sentinel + the 'empty' verdict:
      // a null join key would silently drop the document from the output
      // entirely (inner join on h), violating the one-verdict-per-doc
      // contract — and both engines' oracles would agree on the omission,
      // so the gate could never catch it
      val h = coalesce(md5(col("text")), lit("<null>"))
      val alphaRatio =
        (length(col("text")) -
          length(regexp_replace(col("text"), "[a-z]", ""))).cast("double") /
          length(col("text"))
      val contam = evalOverlap(s, dir)
        .select(col("doc_id")).distinct()
        .withColumn("contam", lit(1))
      // Keeper (r22; guide §2.4 "share one exchange" vs §6 "narrow the
      // scan"): EVERY verdict input is derived MAP-SIDE into a narrow row
      // (~60 B: id, lang, token count, hash, two gate booleans — the text
      // column never survives the scan), then keeper = min(doc_id) over
      // a window partitioned by h. ONE corpus scan and ONE narrow
      // exchange. The r21 groupBy+join form degrades structurally at
      // 100 TB: `keep` is one row per DISTINCT hash (corpus-sized, cannot
      // broadcast), so the join re-shuffles full text rows by h AND pays
      // a second corpus scan+md5 for the keeper aggregate. Measured
      // (interleaved min-of-N, BENCH_NOTES "Retired probes"): ×10 rung
      // (500k docs) window 4.03 s vs join 6.19 s (−35%); sf0.1 window
      // 1.11 s vs join 1.48 s (−25%).
      val base = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).as("n_tokens"), h.as("h"),
          // gate inputs precomputed BEFORE the exchange so the window
          // shuffles ~60 B/row, never the document body. Null text →
          // null gate values, exactly what the inline expressions
          // produced — and the when-chain's 'empty' arm catches those
          // rows first either way.
          col("text").isNull.as("no_text"),
          (alphaRatio < 0.7).as("alpha_low"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      base.withColumn("keeper", min(col("doc_id")).over(w))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("verdict",
          when(col("no_text"), "empty")
            .when(col("n_tokens") < 5, "too_short")
            .when(col("lang") =!= "en", "lang")
            .when(col("alpha_low"), "low_quality")
            .when(col("doc_id") =!= col("keeper"), "duplicate")
            .when(col("contam").isNotNull, "contaminated")
            .otherwise("kept"))
        .select(col("doc_id"), col("verdict"))
    })

  private val toksSql = "regexp_split_to_array(trim(text), '\\s+')"

  // distinct 3-shingles per doc, built with lead() windows (same strings as
  // TextFns.shingles).
  private def shdSql() =
    s"""tk AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |         generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |shd AS (
       |  SELECT DISTINCT doc_id,
       |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS s
       |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(tok, 2) OVER w IS NOT NULL)""".stripMargin

  // the MinHash+LSH pair chain (mirror of minhashPairs) as a reusable CTE
  // block ending in pairs(doc_a, doc_b, j)
  private def pairsSqlCtes =
    s"""${shdSql()},
       |hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shd),
       |sig AS (
       |  SELECT doc_id, band,
       |    min((h * (1000003 + band*7919) + band*104729) % 2147483647) AS mh
       |  FROM hs CROSS JOIN (SELECT unnest([1,2,3,4,5,6]) AS band)
       |  GROUP BY doc_id, band),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN shd x ON x.doc_id = c.doc_a
       |  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (
       |  SELECT doc_a, doc_b, i::DOUBLE / (ca.c + cb.c - i) AS j
       |  FROM inter
       |  JOIN cnt ca ON doc_a = ca.doc_id
       |  JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE i::DOUBLE / (ca.c + cb.c - i) >= 0.5)""".stripMargin

  // the SimHash signature chain (mirror of simhashes) ending in
  // sims(doc_id, simhash)
  // 64-bit simhash as two overflow-safe 32-bit halves: hv_hi from md5 hex
  // chars 1-8, hv_lo from chars 9-16, vote bits per half — mirrors
  // SimHash64F exactly (a single 64-bit value would sign-overflow BIGINT
  // on bit 63 in this pow/%-arithmetic formulation).
  private def simhashSqlCtes =
    s"""tk AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv_hi,
       |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hv_lo FROM tk),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (hv_hi // pow(2, b)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vh,
       |    sum(CASE WHEN (hv_lo // pow(2, b)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vl
       |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS b)
       |  GROUP BY doc_id, b),
       |sims AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN vh > 0 THEN pow(2, b)::BIGINT ELSE 0 END)::BIGINT AS simhash_hi,
       |    sum(CASE WHEN vl > 0 THEN pow(2, b)::BIGINT ELSE 0 END)::BIGINT AS simhash_lo
       |  FROM bits GROUP BY doc_id)""".stripMargin

  // the 4×16-bit band split shared by the d08 and d20 oracles: bands 0/1
  // slice the lo half, 2/3 the hi half — same layout as the Spark side.
  private def simhashBandSql(simsRel: String) =
    s"""SELECT doc_id, simhash_hi, simhash_lo, b,
       |    CASE b WHEN 0 THEN simhash_lo % 65536
       |           WHEN 1 THEN (simhash_lo // 65536) % 65536
       |           WHEN 2 THEN simhash_hi % 65536
       |           ELSE (simhash_hi // 65536) % 65536 END AS bv
       |  FROM $simsRel CROSS JOIN (SELECT unnest(range(4)) AS b)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d01" ->
      """SELECT source, count(1)::BIGINT AS n_docs,
        | count(DISTINCT md5(text))::BIGINT AS n_distinct,
        | min(doc_id)::BIGINT AS min_doc_id
        |FROM documents GROUP BY source""".stripMargin,

    "d02" ->
      s"""WITH $pairsSqlCtes
         |SELECT doc_a, doc_b, floor(j * 10000) / 10000 AS jaccard
         |FROM pairs""".stripMargin,

    "d07" ->
      s"""WITH RECURSIVE $pairsSqlCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(n, m) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m)
         |SELECT n AS doc_id, min(m) AS cluster_id,
         |  n = min(m) AS is_representative
         |FROM reach GROUP BY n""".stripMargin,

    "d03" ->
      s"""WITH $simhashSqlCtes
         |SELECT doc_id, simhash_hi, simhash_lo FROM sims""".stripMargin,

    // the minhash chain (pairsSqlCtes) supplies tk/shd, which the simhash
    // and exact-ngram chains below reuse (their own tk would clash)
    "d20" ->
      s"""WITH $pairsSqlCtes,
         |h2 AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv_hi,
         |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hv_lo FROM tk),
         |bits2 AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (hv_hi // pow(2, b)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vh,
         |    sum(CASE WHEN (hv_lo // pow(2, b)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vl
         |  FROM h2 CROSS JOIN (SELECT unnest(range(32)) AS b)
         |  GROUP BY doc_id, b),
         |sims2 AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN vh > 0 THEN pow(2, b)::BIGINT ELSE 0 END)::BIGINT AS simhash_hi,
         |    sum(CASE WHEN vl > 0 THEN pow(2, b)::BIGINT ELSE 0 END)::BIGINT AS simhash_lo
         |  FROM bits2 GROUP BY doc_id),
         |bands2 AS (
         |  ${simhashBandSql("sims2")}),
         |scand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash_hi AS ha, a.simhash_lo AS la,
         |    b.simhash_hi AS hb, b.simhash_lo AS lb
         |  FROM bands2 a JOIN bands2 b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |spairs AS (
         |  SELECT doc_a, doc_b FROM scand
         |  WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3),
         |ghsh AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS s FROM shd),
         |ginter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM ghsh a JOIN ghsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |gpairs AS (
         |  SELECT doc_a, doc_b FROM ginter
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE i::DOUBLE / (ca.c + cb.c - i) >= 0.5),
         |votes AS (
         |  SELECT doc_a, doc_b, 'd02' AS method FROM pairs
         |  UNION ALL SELECT doc_a, doc_b, 'd08' FROM spairs
         |  UNION ALL SELECT doc_a, doc_b, 'd04' FROM gpairs)
         |SELECT doc_a, doc_b, count(*)::BIGINT AS n_votes,
         |  max(CASE WHEN method = 'd02' THEN 1 ELSE 0 END)::INT AS via_minhash,
         |  max(CASE WHEN method = 'd08' THEN 1 ELSE 0 END)::INT AS via_simhash,
         |  max(CASE WHEN method = 'd04' THEN 1 ELSE 0 END)::INT AS via_ngram
         |FROM votes GROUP BY 1, 2""".stripMargin,

    "d19" ->
      s"""WITH ${shdSql()},
         |hs AS (
         |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shd),
         |sig AS (
         |  SELECT doc_id, band,
         |    min((h * (1000003 + band*7919) + band*104729) % 2147483647) AS mh
         |  FROM hs CROSS JOIN (SELECT unnest([1,2,3,4,5,6]) AS band)
         |  GROUP BY doc_id, band),
         |ag AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*)::BIGINT AS n_agree
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT g.doc_a, g.doc_b, count(*) AS i
         |  FROM ag g
         |  JOIN shd x ON x.doc_id = g.doc_a
         |  JOIN shd y ON y.doc_id = g.doc_b AND y.s = x.s
         |  GROUP BY 1, 2)
         |SELECT g.doc_a, g.doc_b, g.n_agree,
         |  round(g.n_agree / 6, 4) AS j_est,
         |  round(coalesce(i, 0)::DOUBLE
         |        / (ca.c + cb.c - coalesce(i, 0)), 4) AS j_exact,
         |  round(abs(g.n_agree / 6 - coalesce(i, 0)::DOUBLE
         |        / (ca.c + cb.c - coalesce(i, 0))), 4) AS abs_err
         |FROM ag g
         |LEFT JOIN inter ON g.doc_a = inter.doc_a AND g.doc_b = inter.doc_b
         |JOIN cnt ca ON g.doc_a = ca.doc_id
         |JOIN cnt cb ON g.doc_b = cb.doc_id""".stripMargin,

    "d21" ->
      s"""WITH RECURSIVE $pairsSqlCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(n, m) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n),
         |sz AS (SELECT component, count(*)::BIGINT AS cluster_size
         |       FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         |  ((cluster_size - 1) * count(*))::BIGINT AS docs_dropped
         |FROM sz GROUP BY 1""".stripMargin,

    "d18" ->
      s"""WITH RECURSIVE $pairsSqlCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(n, m) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |cl AS (SELECT n AS doc_id, min(m) AS comp FROM reach GROUP BY n)
         |SELECT d.doc_id, d.source,
         |  coalesce(cl.comp, d.doc_id)::BIGINT AS keeper_id,
         |  CASE WHEN coalesce(cl.comp, d.doc_id) = d.doc_id THEN 'keep'
         |       ELSE 'drop' END AS action
         |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin,

    "d08" ->
      s"""WITH $simhashSqlCtes,
         |bands AS (
         |  ${simhashBandSql("sims")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash_hi AS ha, a.simhash_lo AS la,
         |    b.simhash_hi AS hb, b.simhash_lo AS lb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  (bit_count(xor(ha, hb)) + bit_count(xor(la, lb)))::INT AS hamming
         |FROM cand
         |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3""".stripMargin,

    "d04" ->
      s"""WITH ${shdSql()},
         |hsh AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS s FROM shd),
         |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM hsh a JOIN hsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  floor(i::DOUBLE / (ca.c + cb.c - i) * 10000) / 10000 AS jaccard
         |FROM inter
         |JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE i::DOUBLE / (ca.c + cb.c - i) >= 0.5""".stripMargin,

    "d09" ->
      s"""WITH ${shdSql()}
         |SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
         |       count(*)::BIGINT AS n_shared
         |FROM shd c JOIN shd b ON c.s = b.s
         |WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin,

    "d17" ->
      s"""WITH ${shdSql()},
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('2:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'train'
         |         WHEN ('0x' || substr(md5('2:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |tr AS (SELECT shd.doc_id, s FROM shd JOIN sp USING (doc_id)
         |       WHERE split = 'train'),
         |hd AS (SELECT shd.doc_id AS held_id, s FROM shd JOIN sp USING (doc_id)
         |       WHERE split <> 'train'),
         |pr AS (
         |  SELECT tr.doc_id, held_id, count(*) AS n_shared
         |  FROM tr JOIN hd USING (s) GROUP BY 1, 2 HAVING count(*) >= 2),
         |lk AS (SELECT doc_id, count(*)::BIGINT AS n_leak_partners
         |       FROM pr GROUP BY 1)
         |SELECT sp.doc_id, sp.split,
         |  coalesce(lk.n_leak_partners, 0)::BIGINT AS n_leak_partners,
         |  (coalesce(lk.n_leak_partners, 0) > 0) AS leaky
         |FROM sp LEFT JOIN lk USING (doc_id)""".stripMargin,

    "c01" ->
      s"""WITH ${shdSql()},
         |contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT c.doc_id FROM shd c
         |    JOIN shd b ON c.s = b.s
         |    WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
         |    GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2)),
         |d AS (
         |  SELECT doc_id, lang, text,
         |    len($toksSql)::INT AS n_tokens,
         |    coalesce(md5(text), '<null>') AS h
         |  FROM documents),
         |k AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY h)
         |SELECT d.doc_id,
         |  CASE WHEN text IS NULL THEN 'empty'
         |       WHEN n_tokens < 5 THEN 'too_short'
         |       WHEN lang <> 'en' THEN 'lang'
         |       WHEN (length(text) -
         |             length(regexp_replace(text, '[a-z]', '', 'g')))::DOUBLE
         |            / length(text) < 0.7 THEN 'low_quality'
         |       WHEN d.doc_id <> k.keeper THEN 'duplicate'
         |       WHEN d.doc_id IN (SELECT doc_id FROM contam)
         |         THEN 'contaminated'
         |       ELSE 'kept' END AS verdict
         |FROM d JOIN k USING (h)""".stripMargin,

    // NOT EXISTS, not NOT IN: a null hash (null text) must match Spark's
    // anti-join semantics — null keys never match, so null-hash batch rows
    // are KEPT, and a null in history must not vacuously empty the result
    // the way NOT IN's three-valued logic would
    "d13" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT * FROM d WHERE doc_id % 10 = 9),
        |f AS (SELECT * FROM b WHERE NOT EXISTS
        |        (SELECT 1 FROM d hh
        |         WHERE hh.doc_id % 10 <> 9 AND hh.h = b.h))
        |SELECT min(doc_id) AS doc_id, h, count(*)::BIGINT AS n_batch_copies
        |FROM f GROUP BY h""".stripMargin,

    // DuckDB list slicing l[1:16] is 1-based with INCLUSIVE ends (16
    // elements, shorter lists pass through whole) — the same window
    // Spark's slice(arr, 1, 16) takes
    "d14" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('14:' || array_to_string(
        |       regexp_split_to_array(trim(text), '\s+')[1:16], ' ')),
        |     1, 8))::BIGINT AS prefix_h
        |  FROM documents)
        |SELECT prefix_h, count(1)::BIGINT AS n_docs,
        |  min(doc_id) AS keep_doc_id, max(doc_id) AS max_doc_id
        |FROM p GROUP BY 1 HAVING count(1) > 1""".stripMargin,

    "d15" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |hh AS (
        |  SELECT doc_id,
        |    list_transform(a,
        |      t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
        |  FROM d),
        |g AS (
        |  SELECT doc_id,
        |    list_reduce(hs[i:i+7],
        |      (acc, x) -> (acc * 131 + x) % 36028797018963968) AS gh
        |  FROM (SELECT doc_id, hs, unnest(range(1, len(hs) - 6)) AS i
        |        FROM hh) t),
        |flagged AS (
        |  SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
        |  GROUP BY gh HAVING count(1) >= 2),
        |tot AS (SELECT doc_id, count(1)::BIGINT AS n_grams
        |        FROM g GROUP BY doc_id),
        |dup AS (
        |  SELECT doc_id, count(1)::BIGINT AS n_dup_grams FROM g
        |  WHERE gh IN (SELECT gh FROM flagged) GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  coalesce(tot.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(dup.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |  round(CASE WHEN coalesce(tot.n_grams, 0) = 0 THEN 0
        |        ELSE coalesce(dup.n_dup_grams, 0) / tot.n_grams END, 6)
        |    AS dup_frac
        |FROM d LEFT JOIN tot USING (doc_id)
        |       LEFT JOIN dup USING (doc_id)""".stripMargin,

    // the row_number formulation here is the min_by-over-(dist, cid)
    // struct's semantics spelled relationally: rank 1 of (round(cs,6)
    // DESC, cid ASC) == argmin of (1 - round(cs,6), cid)
    "d16" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |kk AS (SELECT greatest(8, floor(sqrt(count(1)))::BIGINT) AS k FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id < (SELECT k FROM kk)),
        |a AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT e.vec_id, c.cid, e.v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c) WHERE rn = 1),
        |p AS (
        |  SELECT x.cid, x.vec_id, y.vec_id AS partner
        |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id <> y.vec_id
        |  WHERE list_dot_product(x.v, y.v) /
        |    (sqrt(list_dot_product(x.v, x.v)) *
        |     sqrt(list_dot_product(y.v, y.v))) >= 0.4)
        |SELECT cid, vec_id, count(1)::BIGINT AS n_partners,
        |  (min(partner) > vec_id) AS keep
        |FROM p GROUP BY 1, 2""".stripMargin,

    // identical to d09 on purpose: the bloom prefilter has no false
    // negatives, so the exact confirm join yields d09's output bit-for-bit
    // — the oracle doesn't need to model the bloom at all
    "d12" ->
      s"""WITH ${shdSql()}
         |SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
         |       count(*)::BIGINT AS n_shared
         |FROM shd c JOIN shd b ON c.s = b.s
         |WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin,

    "d10" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    array_to_string(toks[(u.i*5+1):(u.i*5+5)], ' ') AS win
         |  FROM d, unnest(range(0, len(toks)//5)) AS u(i))
         |SELECT win, count(*)::BIGINT AS n_occurrences,
         |       count(DISTINCT doc_id)::BIGINT AS n_docs
         |FROM w GROUP BY win
         |HAVING count(DISTINCT doc_id) > 1""".stripMargin,

    "d06" ->
      """SELECT min(doc_id)::BIGINT AS doc_id, count(1)::BIGINT AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "d05" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cs
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(cs, 4) AS cosine FROM p WHERE cs >= 0.4""".stripMargin,

    "d11" ->
      """WITH bk AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN embedding[t*8 + i + 1] > 0
        |        THEN pow(2, i)::BIGINT ELSE 0 END)::BIGINT AS bkt
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(range(4)) AS t)
        |  CROSS JOIN (SELECT unnest(range(8)) AS i)
        |  GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bk a JOIN bk b
        |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT vec_a, vec_b,
        |    list_dot_product(ea.v, eb.v) /
        |      (sqrt(list_dot_product(ea.v, ea.v)) *
        |       sqrt(list_dot_product(eb.v, eb.v))) AS cs
        |  FROM cand
        |  JOIN e ea ON vec_a = ea.vec_id
        |  JOIN e eb ON vec_b = eb.vec_id)
        |SELECT vec_a, vec_b, round(cs, 4) AS cosine FROM p WHERE cs >= 0.4""".stripMargin,

    "c02" ->
      """WITH chk AS (
        |  SELECT vec_id,
        |    len(embedding) = 64 AS dim_ok,
        |    len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0
        |      AS zero_norm
        |  FROM embeddings),
        |ov AS (
        |  SELECT count(*)::BIGINT AS n_vecs_without_doc FROM chk
        |  WHERE vec_id NOT IN (SELECT doc_id FROM documents)),
        |od AS (
        |  SELECT count(*)::BIGINT AS n_docs_without_vec FROM documents
        |  WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)),
        |st AS (
        |  SELECT count(*)::BIGINT AS n_vecs,
        |    count(CASE WHEN dim_ok THEN 1 END)::BIGINT AS n_dim_ok,
        |    count(CASE WHEN has_nan THEN 1 END)::BIGINT AS n_nan,
        |    count(CASE WHEN zero_norm THEN 1 END)::BIGINT AS n_zero_norm
        |  FROM chk),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
        |SELECT nd.n_docs, st.n_vecs, st.n_dim_ok, st.n_nan, st.n_zero_norm,
        |  od.n_docs_without_vec, ov.n_vecs_without_doc
        |FROM nd, st, od, ov""".stripMargin)
}
