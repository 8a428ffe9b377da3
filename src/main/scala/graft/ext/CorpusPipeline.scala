package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Normalize
import graft.functions.{TextFunctions => T}

/** The composite training-data cleaning pipeline — the operators of this
  * engine composed the way a 100 TB corpus prep actually runs:
  *
  *   sanitize → quality filter → exact dedup → near-dup cluster removal
  *
  * Each stage is the already-scale-shaped operator (single scan, bounded
  * LSH shuffle, GraphX transitive closure on the tiny pair set); the
  * composition adds no extra shuffles beyond the stages' own. [[funnel]]
  * builds each stage exactly once and feeds it forward — its near-dup
  * stage derives from its own `exact` frame rather than re-running the
  * whole prefix.
  */
object CorpusPipeline {

  /** Keep documents whose heuristic quality score clears `minQuality`. */
  def filterByQuality(df: DataFrame, textCol: String, minQuality: Double): DataFrame =
    df.where(T.qualityScore(col(textCol)) >= minQuality)

  /** Stage 3: MinHash-LSH near-dup pairs over the exact-deduped frame,
    * resolved to clusters and dropped down to one keeper each. */
  private def nearStage(
      exact: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      nearDupThreshold: Double): DataFrame = {
    val pairs = Dedup.minhashNearDuplicates(
      exact, idCol, textCol, shingleSize, numHashes, bands, nearDupThreshold)
    Dedup.dropNearDuplicates(exact, idCol, pairs)
  }

  /** Per-stage survivor counts — the funnel report a pipeline run logs.
    * The `exact` frame is cached for the duration: the near-dup stage
    * reads it four times (LSH candidates, two verify sides, final drop)
    * and the stage-2 count a fifth. Stages 0 and 1 are NOT separate scans:
    * an `observe` node on the sanitized input collects both counts as a
    * side effect of materializing the exact-dedup stage (quality is a row
    * filter over the same scan), so the whole funnel reads the raw corpus
    * exactly once. */
  def funnel(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.2,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      nearDupThreshold: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val sanitized = Normalize.sanitizeStrings(docs).observe(obs,
      count(lit(1)).as("n_input"),
      count(when(T.qualityScore(col(textCol)) >= minQuality, 1)).as("n_quality"))
    val quality = filterByQuality(sanitized, textCol, minQuality)
    val exact = Dedup.exactDedup(quality, idCol, Seq(textCol)).cache()
    try {
      val nExact = exact.count() // fires the observation with the same scan
      val metrics = obs.get
      val cleaned = nearStage(exact, idCol, textCol, shingleSize, numHashes, bands,
        nearDupThreshold)
      Seq(
        ("0_input", metrics("n_input").asInstanceOf[Long]),
        ("1_quality", metrics("n_quality").asInstanceOf[Long]),
        ("2_exact_dedup", nExact),
        ("3_near_dedup", cleaned.count())
      ).toDF("stage", "n_docs")
    } finally exact.unpersist()
  }
}
