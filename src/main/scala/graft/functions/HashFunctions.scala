package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shingling / SimHash column expressions (MinHash signatures and bands
  * are the native [[graft.plans.MinHashBands]]).
  *
  * Design for scale: signatures are computed per-row from an array column
  * with `transform`/`aggregate` — no explode, no shuffle, no UDF. The only
  * shuffles in the dedup pipelines built on these are the LSH bucket
  * `groupBy`/join, which is the theoretically-required one.
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

  /** Distinct character n-grams of `c` (lowercased). Strings shorter than
    * `n` yield their whole text as the single shingle. */
  def charShingles(c: Column, n: Int): Column = {
    val s = lower(c)
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(s) - lit(n - 1), lit(1))),
        i => s.substr(i, lit(n))))
  }

  /** Distinct word n-grams over whitespace tokens. Empty/whitespace-only
    * input yields an empty array (matching the native twin in
    * graft.plans.NativeExpressions). */
  def wordShingles(c: Column, n: Int): Column = {
    val t = TextFunctions.tokens(lower(c))
    filter(
      array_distinct(
        transform(
          sequence(lit(0), greatest(size(t) - lit(n), lit(0))),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))),
      s => s =!= "")
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

  /** 64-bit SimHash over a token array: each token votes ±1 on every bit of
    * its xxhash64; fingerprint bit j is 1 iff the vote sum is positive.
    * Single fold per row, fully codegen'd. */
  def simhash64(tokensCol: Column): Column = {
    val votes = aggregate(
      tokensCol,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(
          acc,
          transform(sequence(lit(0), lit(63)),
            j => when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))),
          (a, v) => a + v)
      })
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (fp, j) => fp + when(element_at(votes, j + 1) > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit bands of a 64-bit fingerprint — pigeonhole LSH for SimHash:
    * fingerprints within Hamming distance 3 share at least one of 4 bands. */
  def simhashBands(fp: Column): Column =
    transform(sequence(lit(0), lit(3)),
      b => call_function("shiftright", fp, b * 16).bitwiseAND(lit(0xFFFFL)))
}
