package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the `documents` table, all built from
  * codegen'd `org.apache.spark.sql.functions` (no UDFs) so a 100 TB text
  * sweep stays inside whole-stage codegen.
  *
  * Portability contract: every primitive here has an exact ANSI-SQL (DuckDB)
  * equivalent used by the oracle queries — md5 for hashing (identical hex in
  * both engines), whitespace tokenization via regex split, shingling via
  * consecutive-token concat.
  */
object TextFns {

  /** Whitespace tokenization. `split` on \s+ after trim; matches DuckDB
    * regexp_split_to_array(trim(text), '\s+'). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** `size(tokens(text))` without the regex or the token array — the
    * native [[TextKernels.token_count]] kernel, for counting-ONLY call sites
    * (packing/shard/budget/mixture token sums). Value-identical to the
    * composed form by its property-tested parity contract. Returns int,
    * like `size`. */
  def tokenCount(text: Column): Column = TextKernels.TokenCount(text)

  /** Word k-shingles as space-joined strings: one per window of k
    * consecutive tokens. Empty when the document has fewer than k tokens. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    // guard: sequence(1, n) with n < 1 would generate a DESCENDING sequence
    // in Spark, not an empty array.
    when(size(toks) < k, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** [[md5Hash32]] with a COLUMN key (e.g. the CMS hash-row index): the
    * same portable first-8-hex-chars construction over "<key>:<s>" —
    * DuckDB: ('0x'||substr(md5(key||':'||s),1,8))::BIGINT. Built with
    * `concat` (NOT `concat_ws`, which silently SKIPS null arguments) so a
    * null key or string propagates to a null hash, exactly like the DuckDB
    * form and [[md5Hash32]]. */
  def md5Hash32Keyed(key: Column, s: Column): Column =
    hash32(concat(key.cast("string"), lit(":"), s))

  /** Portable 32-bit hash of a string: first 8 hex chars of md5 as a long.
    * Identical in DuckDB as ('0x' || substr(md5(s),1,8))::BIGINT (verified).
    * Seeded variant prefixes the seed so hash families are independent. */
  def md5Hash32(s: Column, seed: Int = 0): Column =
    hash32(if (seed == 0) s else concat(lit(s"$seed:"), s))

  /** The 60-bit corpus-scale JOIN-KEY hash — the native
    * [[TextKernels.md5_60]] kernel (first 15 md5 hex chars; see its
    * Scaladoc for the 60-vs-32-vs-64 bit rationale). DuckDB:
    * ('0x'||substr(md5(s),1,15))::BIGINT. */
  def md5Hash60(s: Column): Column = TextKernels.Md5_60(s)

  /** The hash kernel behind both forms: the native [[TextKernels.md5_32]]
    * kernel (digest bytes 0–3 big-endian, no 32-char hex materialization +
    * re-parse per call — the composed `conv(substring(md5(s),1,8),16,10)`
    * chain it replaces, value-identical by construction and property-tested
    * against it). */
  private def hash32(s: Column): Column = TextKernels.Md5_32(s)

  /** MinHash signature value for one hash family: min over shingles of the
    * seeded portable hash. Null-safe: empty shingle set -> null. */
  def minHash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5Hash32(s, seed)))

  /** Full per-document MinHash signature in one map-side pass — the native
    * [[TextKernels.minhash_sig]] kernel: array<long> of
    * [distinct_shingle_count, band minima 1..6], null when the document
    * has no 3-shingles. Value-identical to the explode + md5Hash32 +
    * groupBy chain (the DuckDB oracle's formulation). */
  def minhashSig(text: Column): Column = TextKernels.MinhashSig(text)

  /** 32-bit Charikar SimHash in one map-side pass — the native
    * [[TextKernels.simhash32]] kernel. Value-identical to the explode +
    * md5Hash32 + 32-conditional-sum groupBy chain (the DuckDB oracle's
    * formulation) and to [[simHash32]]'s HOF form. */
  def simhashNative(text: Column): Column = TextKernels.Simhash32(text)

  /** 64-bit Charikar SimHash as two unsigned 32-bit halves
    * `[simhash_hi, simhash_lo]` in one map-side pass — the native
    * [[TextKernels.simhash64]] kernel (the d08-scale signature; see its
    * Scaladoc for the band-space rationale). Value-identical to the
    * explode + two-md5-hex-slice + 64-conditional-sum groupBy chain (the
    * DuckDB oracle's formulation). */
  def simhash64Native(text: Column): Column = TextKernels.Simhash64(text)

  /** 32-bit SimHash over a token array. For each bit b, sum +1/-1 according
    * to bit b of each token's hash; bit set in the result when the sum is
    * positive. Duplicate tokens are weighted by their count (classic
    * Charikar construction).
    */
  def simHash32(toks: Column): Column = {
    val hashes = transform(toks, t => md5Hash32(t))
    val n = size(toks).cast("long")
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) => {
        // 2^b as long; bit b of h extracted arithmetically ((h / 2^b) % 2)
        // so the identical formula runs in the DuckDB oracle (h // (2**b)).
        // Division by a power of two is exact in double for h < 2^32.
        val p = pow(lit(2.0), b).cast("long")
        val ones = aggregate(hashes, lit(0L), (s, h) => s + (h / p).cast("long") % 2)
        acc + when(ones * 2 > n, p).otherwise(lit(0L))
      })
  }

  /** Jaccard similarity of two string arrays as |A∩B| / |A∪B| over distinct
    * elements — integer counts divided in double, exact in both engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Character-level quality heuristics. Ratio of characters matched by
    * `pattern` (a Java/RE2-portable character class) to total length. */
  def charClassRatio(text: Column, pattern: String): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, pattern, ""))).cast("double") /
        length(text).cast("double"))

  /** Fraction of tokens found in `words`. */
  def tokenSetRatio(toks: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(wordArr, t))).cast("double") /
        size(toks).cast("double"))
  }
}
