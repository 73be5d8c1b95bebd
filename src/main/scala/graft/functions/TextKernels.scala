package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The text and hash kernels, each a [[Kernel]] run by [[KernelExpr]]: one
  * string in, one value out, computed map-side inside whole-stage codegen.
  * The entry points below are named by their SQL names (`GraftExtensions`
  * registers [[all]]) and are the generated code's call targets.
  *
  * Each replaces a composed chain that is also the DuckDB oracle's
  * formulation, and is value-identical to it (property-tested against it as
  * a brute-force oracle). Tokenizing and hashing go through the shared
  * [[TextHash]] core. A null input gives a null output, as in the composed
  * chains where md5(null) and split(null) are null.
  */
object TextKernels {

  /** Shingle width of the MinHash signature, and of d02/d04's shingle
    * arrays, which must agree with it. */
  val ShingleK = 3
  /** LSH bands of the MinHash signature. */
  val NumBands = 6
  private val Mod = 2147483647L

  private val Owner = getClass.getName.stripSuffix("$")
  private def str(v: Any) = v.asInstanceOf[UTF8String]
  private val Longs = ArrayType(LongType, containsNull = false)

  case object Md5_32 extends Kernel(Owner, "md5_32", Seq(StringType), LongType) {
    def call(a: Array[Any]): Any = md5_32(str(a(0)))
  }
  case object Md5_60 extends Kernel(Owner, "md5_60", Seq(StringType), LongType) {
    def call(a: Array[Any]): Any = md5_60(str(a(0)))
  }
  case object TokenCount extends Kernel(Owner, "token_count", Seq(StringType), IntegerType) {
    def call(a: Array[Any]): Any = token_count(str(a(0)))
  }
  case object MinhashSig extends Kernel(Owner, "minhash_sig", Seq(StringType), Longs) {
    def call(a: Array[Any]): Any = minhash_sig(str(a(0)))
  }
  case object Simhash32 extends Kernel(Owner, "simhash32", Seq(StringType), LongType) {
    override def nullable(args: Seq[Expression]): Boolean = args.head.nullable
    def call(a: Array[Any]): Any = simhash32(str(a(0)))
  }
  case object Simhash64 extends Kernel(Owner, "simhash64", Seq(StringType), Longs) {
    override def nullable(args: Seq[Expression]): Boolean = args.head.nullable
    def call(a: Array[Any]): Any = simhash64(str(a(0)))
  }

  /** Every text kernel, as registered for SQL. Lazy: each kernel's
    * constructor reads this object's fields, so a strict list built while a
    * kernel is still being initialized would hold null in its place. */
  lazy val all: Seq[Kernel] = Seq(Md5_32, Md5_60, TokenCount, MinhashSig, Simhash32, Simhash64)

  // ----------------------------------------- entry points (generated code)

  /** The portable 32-bit hash: the first 8 hex chars of md5(s) as an
    * unsigned 32-bit value, read straight from digest bytes 0–3 instead of
    * `conv(substring(md5(s), 1, 8), 16, 10)`, which builds a 32-char hex
    * string per call and re-parses its prefix. DuckDB:
    * `('0x'||substr(md5(s),1,8))::BIGINT`. Seeded and keyed variants stay in
    * [[TextFns]] as `concat` prefixes: the prefix is part of the oracle
    * contract, not of the kernel. */
  def md5_32(u: UTF8String): Long = TextHash.md5_32bytes(u.getBytes)

  /** The 60-bit corpus-scale join-key hash: the first 15 hex chars of
    * md5(s). 32 bits collide at ~2¹⁶ keys, fine for sampling gates, fatal
    * for join identity over 10⁸⁺ distinct keys; shipping this hash instead
    * of the shingle string through d04's inverted-index shuffle cuts its
    * bytes ~5×. 60 bits, not 64: bit 63 is BIGINT's sign in the DuckDB
    * oracle, so 15 chars is the widest prefix for which
    * `('0x'||substr(md5(s),1,15))::BIGINT` never overflows. Equals the top
    * 60 bits of the packed [[TextHash.md5_64]] value. */
  def md5_60(u: UTF8String): Long = TextHash.md5_64bytes(u.getBytes) >>> 4

  /** Java-regex `\s`: the six ASCII whitespace bytes. All are < 0x80, so
    * byte-wise scanning of UTF-8 is exact — multi-byte code points never
    * contain these byte values in UTF-8. */
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The whitespace token count `size(split(trim(text), "\\s+", -1))` in one
    * pass over the bytes, with no regex and no token array. Parity contract:
    *  - trim strips 0x20 only (Spark `trim`);
    *  - `\s` is the ASCII class {space, \t, \n, \x0B, \f, \r}: unicode
    *    whitespace (NBSP etc.) is token content;
    *  - the split keeps an empty leading field when the trimmed string
    *    starts with non-space whitespace, an empty trailing field when it
    *    ends with one, and the empty string is one empty field. Hence
    *    count = #(non-ws runs) + (starts ws ? 1 : 0) + (ends ws ? 1 : 0),
    *    with the empty string special-cased to 1. */
  def token_count(text: UTF8String): Int = {
    val t = text.trim() // strips 0x20 only, Spark's `trim`
    val n = t.numBytes()
    if (n == 0) return 1 // split("", -1) -> [""]
    var fields = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val ws = isWs(t.getByte(i)) // no byte-array copy per row
      if (!ws && !inRun) { fields += 1; inRun = true }
      else if (ws) inRun = false
      i += 1
    }
    if (isWs(t.getByte(0))) fields += 1 // empty leading field
    if (isWs(t.getByte(n - 1))) fields += 1 // empty trailing field
    fields
  }

  /** The per-document MinHash signature in one pass, instead of explode(
    * array_distinct(shingles)) -> md5 per shingle -> groupBy(doc_id), which
    * shuffles a frame larger than the corpus. Returns array<long>
    * `[distinct_shingle_count, mh1..mh6]`, or null for a document with fewer
    * than [[ShingleK]] tokens (the rows the explode form never emits).
    * Parity clause by clause:
    *  - tokens: [[TextHash.tokenize]];
    *  - shingles: [[ShingleK]] consecutive tokens joined with ' '
    *    (`concat_ws`), distinct by exact string equality (`array_distinct`);
    *  - band b in 1..6 takes min((h * (1000003 + 7919 b) + 104729 b) mod
    *    2147483647) over the shingles' [[TextHash.md5_32]]; products stay
    *    under 2^52, exact in Long in both engines. */
  def minhash_sig(text: UTF8String): ArrayData = {
    val toks = TextHash.tokenize(text)
    if (toks.length < ShingleK) return null
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder
    var c = 0L
    val mins = Array.fill(NumBands)(Long.MaxValue)
    var i = 0
    while (i + ShingleK - 1 < toks.length) {
      sb.setLength(0)
      var k = 0
      while (k < ShingleK) { // body derives from ShingleK too — the
        if (k > 0) sb.append(' ') // constant is the single source of truth
        sb.append(toks(i + k)) // for d02/d04's shared shingle width
        k += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        c += 1
        val h = TextHash.md5_32(sh)
        var b = 1
        while (b <= NumBands) {
          val v = (h * (1000003L + b * 7919L) + b * 104729L) % Mod
          if (v < mins(b - 1)) mins(b - 1) = v
          b += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](NumBands + 1)
    out(0) = c
    System.arraycopy(mins, 0, out, 1, NumBands)
    new GenericArrayData(out)
  }

  /** The 32-bit Charikar SimHash in one pass, instead of explode(tokens) ->
    * md5 per token -> groupBy(doc_id) with 32 conditional sums. All
    * [[TextHash.tokenize]] tokens vote, duplicates weighted, and an empty or
    * whitespace-only document votes with its one empty token, as the
    * explode form does. Bit b is set iff strictly more tokens have bit b of
    * their [[TextHash.md5_32]] set than clear. The compact-signature API; no
    * catalogue query calls it. */
  def simhash32(text: UTF8String): Long = {
    val toks = TextHash.tokenize(text)
    val votes = new Array[Int](32)
    var i = 0
    while (i < toks.length) {
      val h = TextHash.md5_32(toks(i)).toInt
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) r |= 1L << b
      b += 1
    }
    r
  }

  /** The 64-bit Charikar SimHash as two unsigned 32-bit halves
    * `[simhash_hi, simhash_lo]` in one pass: d03/d08/d20's near-dup
    * signature (`DedupQueries.simhashes`).
    *
    * Why 64 bits: a banded Hamming search's band-key space is fixed by the
    * signature width. 32 bits banded 4×8 give 1,024 keys at any corpus
    * size (~2×10¹¹ candidate pairs at 5M docs, BENCH_NOTES "Round 16");
    * 64 bits banded 4×16 keep the pigeonhole guarantee (Hamming ≤ 3 agrees
    * on ≥ 1 band) with 4×65,536 keys. Why two halves: bit 63 of a single
    * value would be BIGINT's sign for half the documents in the DuckDB
    * oracle; each half stays in [0, 2³²).
    *
    * Parity with `DedupQueries.simhashSqlCtes`: tokens as in [[simhash32]];
    * hex chars 1-8 of md5(token) vote the hi half, chars 9-16 the lo half
    * ([[TextHash.md5_64]]); bit b of a half is set iff strictly more tokens
    * have that bit set than clear. Bits 0..31 of the packed md5_64 value
    * are the lo half, 32..63 the hi half; the vote array mirrors that
    * layout. */
  def simhash64(text: UTF8String): ArrayData = {
    val toks = TextHash.tokenize(text)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = TextHash.md5_64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 32) {
      if (votes(b + 32) > 0) hi |= 1L << b
      if (votes(b) > 0) lo |= 1L << b
      b += 1
    }
    new GenericArrayData(Array(hi, lo))
  }
}
