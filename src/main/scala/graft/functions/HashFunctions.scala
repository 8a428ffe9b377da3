package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-derived column expressions: the engine-portable md5-prefix
  * family, shingle-set Jaccard and the SimHash banding/Hamming helpers
  * (shingles, MinHash bands and SimHash fingerprints are the native
  * [[graft.plans.NativeExpressions]] kernels).
  *
  * Design for scale: everything is per-row — no explode, no shuffle, no
  * UDF. The only shuffles in the dedup pipelines built on these are the
  * LSH bucket `groupBy`/join, which is the theoretically-required one.
  */
object HashFunctions {

  /** First `hexChars` hex chars of `md5(salt || key)` parsed as a
    * NON-NEGATIVE long — the engine-portable gate/derivation family
    * (DuckDB twin: `('0x' || substr(md5(salt || key), 1, hexChars))
    * ::UBIGINT`). Capped at 15 hex chars (60 bits) so the value always
    * fits a signed long without sign wrap; callers gating by `% stride`
    * get a uniform sample for any stride below 2^(4*hexChars). Shared by
    * the IVF centroid gate and the multimodal metadata derivation so the
    * portability convention cannot drift between them (the
    * `graft.ext.Sampling` gates are the string-comparison members of the
    * same family). */
  def md5PrefixLong(salt: String, key: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15, s"hexChars must be 1..15, got $hexChars")
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, hexChars), 16, 10)
      .cast("long")
  }

  /** Exact Jaccard over two shingle-set columns — the fused one-pass
    * native form ([[graft.plans.NativeExpressions.arrayJaccard]]):
    * value-identical to the previous
    * `size(array_intersect)/size(array_union)` composition (duplicates
    * collapse, empty/empty = 1.0, null input → null, same int/int IEEE
    * division), but builds one hash set per side instead of two
    * independent set passes plus two materialized result arrays — this
    * sits in the per-candidate verify loop of every exact-dedup family. */
  def jaccard(a: Column, b: Column): Column =
    graft.plans.NativeExpressions.arrayJaccard(a, b)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit bands of a 64-bit fingerprint — pigeonhole LSH for SimHash:
    * fingerprints within Hamming distance 3 share at least one of 4 bands. */
  def simhashBands(fp: Column): Column =
    transform(sequence(lit(0), lit(3)),
      b => call_function("shiftright", fp, b * 16).bitwiseAND(lit(0xFFFFL)))
}
