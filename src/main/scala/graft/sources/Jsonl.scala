package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON-lines source/sink — the de-facto interchange format for LLM
  * training corpora (one JSON object per line; THE PILE / RedPajama /
  * Dolma all ship this way), next to the parquet/CSV paths the engine
  * already has.
  *
  * Scale rules encoded here rather than left to callers:
  *  - READS TAKE AN EXPLICIT SCHEMA. `spark.read.json` without one runs a
  *    full inference pass over the data — at 100 TB that silently doubles
  *    the scan. Infer once (sampled, explicit: `spark.read.option(
  *    "samplingRatio", r).json(path).schema`), save the schema, and pass
  *    it to every subsequent [[read]].
  *  - JSONL is splittable only uncompressed or with a splittable codec;
  *    gzip makes each FILE one task. Default writes are uncompressed
  *    (shard count = parallelism); pass zstd for cold storage.
  *  - corrupt lines land in the standard `_corrupt_record` column under
  *    PERMISSIVE mode instead of killing the job. */
object Jsonl {

  /** Write one JSON object per line. `compression`: "none" (default,
    * splittable), "zstd", "gzip" (one task per file on read — cold
    * storage only). */
  def write(df: DataFrame, path: String, compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** Schema-explicit read — the only read shape that scales (see object
    * doc). Malformed lines are PERMISSIVE-nulled. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
