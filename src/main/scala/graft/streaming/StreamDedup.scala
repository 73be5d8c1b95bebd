package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFns

/** Streaming near-dup candidate generation — the continuous-ingest
  * counterpart of the batch d02 MinHash+LSH pass (SURVEY LLM extension,
  * §2.9 state family).
  *
  * Signatures are computed map-side by the same codegen `minhash_sig`
  * kernel the batch path uses (one row in, one signature out — no
  * shuffle, no shingle explode), then each of the 6 LSH bands becomes a
  * state key: the FIRST document ever seen in a (band, bucket) owns it, and
  * every later arrival is emitted as a candidate pair against that owner —
  * classic any-band-collision LSH semantics, evaluated incrementally with
  * one `flatMapGroupsWithState` pass. Downstream, candidates flow into the
  * same exact-similarity verify the batch d02 runs; this operator's job is
  * only to shrink the stream to the candidate set.
  *
  * State sizing at scale: one `BucketOwner` (8 bytes + key) per distinct
  * non-empty (band, bucket) — the LSH bucket space, which grows with
  * CONTENT diversity, not stream length (re-sent near-dups hit existing
  * buckets). For an unbounded stream where even that is too much, bound
  * retention with `dropDuplicatesWithinWatermark` on (band, bucket) before
  * this operator (the watermark-bounded contract StreamOpsSpec pins) —
  * candidates then only reach back one watermark window, which is the
  * trade every streaming dedup at 100 TB makes. The function also runs in
  * BATCH mode unchanged (state starts empty per group), keeping the
  * stream/batch single-source-of-truth contract of this module.
  */
object StreamDedup {

  // Public case classes: Catalyst encoders require publicly accessible
  // types (same constraint Watcher.GateState documents).
  case class BandHit(doc_id: Long, band: Int, bucket: Long)
  case class BucketOwner(firstDoc: Long)
  case class Candidate(doc_id: Long, band: Int, dup_of: Long)

  /** docs: (doc_id: long, text: string) — streaming or batch. Emits one
    * Candidate per (later doc, colliding band); a doc colliding on k bands
    * emits k rows (downstream dedups per pair — keeping the per-band rows
    * preserves the collision-strength signal, as batch d02's band count
    * does). Documents too short for a 3-shingle have a null signature and
    * drop out before keying.
    */
  def lshCandidates(docs: DataFrame): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = TextFns.minhashSig(col("text"))
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(slice(sig, 2, 6)).as(Seq("band", "bucket")))
      .as[BandHit]
      .groupByKey(h => (h.band, h.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), hits: Iterator[BandHit],
         state: GroupState[BucketOwner]) => {
          // sort for deterministic within-batch ownership and output order
          val ds = hits.map(_.doc_id).toArray.sorted
          val owner = state.getOption match {
            case Some(o) => o.firstDoc
            case None =>
              state.update(BucketOwner(ds.head))
              ds.head
          }
          ds.iterator.filter(_ != owner).map(Candidate(_, key._1, owner))
        })
  }

  /** Streaming decontamination — the continuous-ingest counterpart of
    * batch d09/d12: flag stream documents sharing >= `minShared` distinct
    * shingles with a STATIC eval set. Stream-static equi-join: the static
    * side is (re)planned per micro-batch by Structured Streaming's
    * contract, so it is explicitly broadcast — eval sets are small by
    * nature (the premise of decontamination), and the broadcast keeps the
    * per-batch work map-side + one update-mode aggregation. The overlap
    * count is cumulative across batches (stateful agg keyed by
    * (doc_id, bench_id)): a document whose shingles straddle micro-batch
    * boundaries still reaches its true shared count. Runs unchanged in
    * batch mode (where it reproduces the d09 shape against any eval
    * frame).
    *
    * n_shared counts DISTINCT shared shingles, batch d09's semantics: a
    * stateful dropDuplicates on (doc, bench, shingle) sits before the
    * count, so at-least-once source replay and re-chunked documents
    * (the same shingle arriving in two micro-batches) don't double-count
    * — without it, one replayed shingle could push a clean document over
    * `minShared`. State cost: one entry per distinct matched triple —
    * bounded by (matched docs x eval shingles), i.e. by the contamination
    * actually found, not the stream; bound it harder with a watermarked
    * variant (`dropDuplicatesWithinWatermark`) when flags are only
    * actioned within a window.
    *
    * evalShingles: (bench_id: long, s: string) — pre-distinct per bench_id.
    */
  def decontaminate(docs: DataFrame, evalShingles: DataFrame,
                    minShared: Int = 2): DataFrame = {
    val sh = docs.select(col("doc_id").cast("long").as("doc_id"),
      explode(array_distinct(
        TextFns.shingles(col("text"), graft.functions.TextKernels.ShingleK))).as("s"))
    val hits =
      sh.join(broadcast(evalShingles.select(col("bench_id"), col("s"))), Seq("s"))
    // the stateful replay-dedup only exists for streams: in batch the
    // triples are already distinct (array_distinct per doc x pre-distinct
    // eval shingles) and the extra exchange would double the shuffles
    val once = if (docs.isStreaming)
      hits.dropDuplicates("doc_id", "bench_id", "s") else hits
    once
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
