package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** The single shared tokenize/hash core behind the [[TextKernels]]: exactly
  * one copy of the oracle-parity contract — `split(trim(text), "\\s+")`
  * tokenization and the md5-hex-prefix hashes ([[TextFns.md5Hash32]]) — so
  * the kernels cannot drift apart, and one MessageDigest per thread instead
  * of a provider lookup per row on the scan hot path. */
private[functions] object TextHash {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** `split(trim(text), "\\s+")` — UTF8String.trim() strips 0x20 only
    * (Spark's `trim` semantics, NOT Java's `String.trim`), then Java
    * regex split with limit -1, the same regex engine Spark's `split`
    * uses. An empty/whitespace-only input yields one empty token. */
  def tokenize(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)

  /** First 8 hex chars of md5(s) as an unsigned 32-bit value in a Long —
    * [[TextFns.md5Hash32]]'s column formulation, byte-exact. `digest()`
    * leaves the instance reset for the next call. */
  def md5_32(s: String): Long =
    md5_32bytes(s.getBytes(StandardCharsets.UTF_8))

  /** [[md5_32]] over UTF-8 bytes: a UTF8String already IS the bytes md5
    * consumes, so the `md5_32`/`md5_60` kernels hash it without a Java
    * String round-trip. */
  def md5_32bytes(bytes: Array[Byte]): Long = {
    val d = digest.get().digest(bytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** First SIXTEEN hex chars of md5(s) as two unsigned 32-bit halves in a
    * packed Long: bits 32..63 = hex chars 1-8 (bytes 0-3), bits 0..31 =
    * hex chars 9-16 (bytes 4-7). The two halves are what the 64-bit
    * simhash votes over — carried separately downstream
    * (`simhash_hi`/`simhash_lo`) because a single 64-bit hash value would
    * sign-overflow BIGINT/LongType on the top bit in the DuckDB oracle;
    * packed here only because one return value is cheaper than two calls
    * per token on the scan hot path. */
  def md5_64(s: String): Long =
    md5_64bytes(s.getBytes(StandardCharsets.UTF_8))

  /** [[md5_64]] over UTF-8 bytes. */
  def md5_64bytes(bytes: Array[Byte]): Long = {
    val d = digest.get().digest(bytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }
}
