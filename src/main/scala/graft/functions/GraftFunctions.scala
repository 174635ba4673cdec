package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared column-level building blocks.
  *
  * Everything here is built from `org.apache.spark.sql.functions._`
  * so it stays inside whole-stage codegen, and every function is
  * deterministic and reproducible in ANSI SQL (the DuckDB oracle
  * computes the identical values — see SparkEntry.oracleSql).
  */
object GraftFunctions {

  /** Exact money arithmetic: the test data carries <= 2 decimal
    * digits, so per-row products have <= 6; casting each row to
    * DECIMAL(18,6) recovers the exact decimal value from the double,
    * the decimal sum is exact (order-independent), and the final
    * cast back to double is exact for totals < 2^53 ULP-scale.
    * This makes double aggregates bit-reproducible across engines.
    */
  val Money: DecimalType = DecimalType(18, 6)
  def money(c: Column): Column = c.cast(Money)
  def msum(c: Column): Column = sum(money(c)).cast("double")

  /** dumpty's normalize_str (reference util.py:9): non-alphanumerics
    * to '_', lowercased. Used for column/table name normalization.
    */
  def normalizeStr(s: String): String =
    s.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
  def normalize(c: Column): Column =
    lower(regexp_replace(c, "[^a-zA-Z0-9]", "_"))

  /** Deterministic 48-bit token hash shared with the SQL oracle:
    * first 12 hex digits of md5. (A non-oracle xxhash64 fast path
    * exists for production use; this one is cross-engine exact.)
    */
  def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Scalar twin of `tokenHash` (first 6 md5 bytes, big-endian) for
    * driver-side constant generation (LSH hyperplanes, test refs).
    */
  def tokenHashLong(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** tokenHash reduced mod 1e9+7 (keeps a*h+b inside 2^63). */
  val HashP = 1000000007L

  /** Whitespace tokens of trimmed, lowercased text. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Hashed shingles via the native ShingleHash48 expression.
    *
    * NOTE: do NOT express this as a `tokenHash` lambda over an
    * indexed `transform` + `filter` shingle array — Spark 4.1
    * mis-binds a lambda applied over the output of a chained
    * indexed-transform + filter (observed: md5 of the element returns
    * the wrong digest), and even hashing post-explode of the HOF's
    * strings read corrupted UTF8String buffers. The native expression hashes inside one per-row loop
    * (also ~10x faster than the interpreted lambda chain).
    */
  def shingleHashes(toks: Column, n: Int): Column =
    TextExpressions.shingleHash48(toks, n)

  /** Quantize an array<float> to array<bigint> at 1e6 scale: exact,
    * order-independent integer dot products (cross-engine stable).
    */
  def quantize(vec: Column): Column =
    transform(vec, e => round(e.cast("double") * lit(1000000.0), 0).cast("long"))

  /** Exact int64 dot product via a native codegen Expression (the
    * aggregate(zip_with(...)) HOF form is interpreted and allocates
    * an intermediate array per row — see LongArrayDot).
    */
  def dotQ(a: Column, b: Column): Column =
    VecExpressions.longArrayDot(a, b)

  def normQ(a: Column): Column = dotQ(a, a)
}
