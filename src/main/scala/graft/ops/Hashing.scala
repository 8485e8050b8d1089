package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic, cross-engine-reproducible hashing primitives.
  *
  * Every hash bottoms out in md5 so the DuckDB oracle can reproduce values
  * bit-for-bit (`('0x' || substr(md5(s),1,15))::BIGINT` ≡
  * `conv(substr(md5(s),1,15),16,10)`): 60 bits, always non-negative, fits a
  * signed 64-bit long in both engines. Spark's own `xxhash64`/`hash` would
  * be faster but are not reproducible outside Spark; md5 is codegen'd
  * (`Md5` expression) and stays inside whole-stage codegen, so the cost at
  * scale is one digest per value — acceptable for fingerprint/sketch ops
  * whose alternative is shipping raw text through a shuffle.
  */
object Hashing {

  /** Modulus for permutation hashing: largest 9-digit prime keeps
    * `a*h + b` products well under 2^63 (no overflow in either engine). */
  val P = 1000000007L

  /** 60-bit content hash: first 15 hex chars of md5, as a long. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Driver-side (plan-construction-time) twin of [[hash60]] for deriving
    * deterministic constants such as LSH hyperplane components. */
  def longHash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** Driver-side full 32-hex-char md5 — the Merkle node combiner
    * ([[Profile.merkleTree]]); same rendering as Spark/DuckDB `md5()`. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-side twin of the Merkle 256-bit row hash: sha-256 of the
    * UTF-8 string, split into 8 unsigned 32-bit limbs (the additive
    * leaf-digest components — see [[Profile.merkleTree]]). */
  def sha256Limbs(s: String): Array[Long] = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    Array.tabulate(8) { j =>
      ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
        ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)
    }
  }

  /** hash60 reduced mod [[P]] — the domain for MinHash permutations. */
  def hashP(c: Column): Column = hash60(c) % P

  /** The i-th universal-hash permutation of an already-mod-P hash value:
    * `(a_i * h + b_i) mod P`. Constants are small odd affine coefficients;
    * mirrored verbatim in [[graft.Oracles]]. */
  def permute(i: Int, h: Column): Column =
    (lit(37L * i + 11L) * h + lit(101L * i + 7L)) % P

  /** Polynomial rolling hash (base 31, mod P) over an array of string
    * tokens — order-sensitive document fingerprint. Folds left in element
    * order; DuckDB mirror: `list_reduce(list_prepend(0, hs), …)`. */
  def polyFingerprint(tokens: Column): Column =
    aggregate(
      transform(tokens, t => hashP(t)),
      lit(0L),
      (acc, h) => (acc * 31L + h) % P)
}
