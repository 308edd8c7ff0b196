package graft.core

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** The one deterministic hash shared by Spark, its DuckDB replays and the
  * JVM: a string hashes to the first `hex` hex digits of its md5, read as
  * an unsigned big-endian integer. Every sketch, sample, split and planted
  * rule of the LLM-data operators (MinHash, SimHash, HLL/KMV, Count-Min,
  * bootstrap weights, train/test buckets) keys on it, so each engine
  * spells it once, here, and the oracles hash-match Spark bit for bit.
  * Salts (`'split:' || doc_id` and the like) stay at the callers.
  *
  * `hex` is at most 15: 15 hex digits are 60 bits, which fit a signed
  * 64-bit BIGINT on both engines. At 16 digits half of all values exceed
  * `Long.MaxValue`: Spark's cast of the `conv` string to long then fails
  * (or gives null without ANSI mode) and DuckDB's `::BIGINT` overflows.
  */
object Hash {

  /** The hash of a string column in Spark; null in, null out. */
  def prefix(c: Column, hex: Int = 8): Column =
    conv(substring(md5(c), 1, hex), 16, 10).cast("long")

  /** [[prefix]] in DuckDB, for the oracles, over a VARCHAR expression. */
  def prefixSql(x: String, hex: Int = 8): String =
    s"('0x' || substr(md5($x), 1, $hex))::BIGINT"

  /** [[prefix]] on the JVM, over the UTF-8 bytes of `s`. */
  def prefixOf(s: String, hex: Int = 8): Long = {
    val digest = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    new BigInteger(1, digest).shiftRight(128 - 4 * hex).longValue
  }
}
