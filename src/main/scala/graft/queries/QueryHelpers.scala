package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by more than one query family (a helper used by one
  * family lives in that family's file).
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - double sums are rounded per-row to integer cents with explicit IEEE
  *    arithmetic and summed as longs (exact, order-independent; see `dsum`);
  *  - per-row double arithmetic is written identically on both sides
  *    (single IEEE ops are bit-deterministic);
  *  - ranks always carry an id tie-breaker;
  *  - dedup representatives are `min(id)`, never "keep any".
  */
object QueryHelpers {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** Integer cents via explicit IEEE arithmetic — the determinism-critical
    * rounding every money aggregate is built on (identical on any engine,
    * unlike double→decimal casts whose rounding differs between Spark and
    * DuckDB). */
  private[graft] def cents(c: org.apache.spark.sql.Column) =
    floor(c * lit(100.0d) + lit(0.5d)).cast("long")

  /** Exact order-independent money sum: sum cents as long, emit double. */
  private[graft] def dsum(c: org.apache.spark.sql.Column) =
    sum(cents(c)).cast("double") / lit(100.0d)

  /** Exact char-`n`-gram shingle sets per doc — the DuckDB twin of
    * [[graft.plans.CharShingles]] (lowercase, distinct, whole-string shingle
    * when 0 < len ≤ n, empty set for empty text). Shared by the ground-truth
    * oracles of every char-shingle LSH query: the LSH pipelines are verified
    * against exact all-pairs Jaccard, so their output must EQUAL the exact
    * ≥-threshold pair set (hash-match ⇒ precision and recall both 1.0). */
  private[graft] def charShingleSql(src: String): String =
    s"""sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN len(s) = 0 THEN []
      |         WHEN len(s) <= 5 THEN [s]
      |         ELSE list_distinct(list_transform(range(1, len(s) - 3), i -> s[i:i+4]))
      |    END AS sh
      |  FROM (SELECT doc_id, lower(text) AS s FROM $src))""".stripMargin
}
