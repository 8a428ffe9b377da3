package graft.operators

import org.apache.spark.sql.{DataFrame, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Normalization pipeline applied by the staging context before any write.
  *
  * Re-expresses the reference's Polars normalization chain
  * (reference: graph_etl/context.py:121-127 for nodes, 224-231 for edges)
  * as declarative Spark column expressions so Catalyst can fuse them into a
  * single whole-stage-codegen'd projection over the scan:
  *
  *   1. join every `List[Utf8]` column with `|`   (context.py:122)
  *   2. scrub `\r` `\n` `\` from every string col (context.py:123)
  *   3. dedup on key                              (context.py:124)
  *   4. drop null keys                            (context.py:125)
  *
  * The reference's last step, sequential row ids -> chunk = id / size
  * (context.py:126-127), is not part of [[normalize]]: staging chunks in
  * `graft.etl.Context.stageChunkedCsv`, from per-partition sizes plus a
  * Catalyst chunk expression, and [[withChunkIds]] serves only the
  * `q_chunk` query.
  *
  * Scale notes (100 TB posture): steps 1-2 are narrow (no shuffle); step 3
  * is one hash-shuffle on the key.
  */
object Normalize {

  /** Characters the reference scrubs so `;`-CSV and Cypher stay parseable. */
  val ScrubPattern = "[\\r\\n\\\\]"

  /** Apply `f` to every column whose type satisfies `p`, keep others as-is.
    * Dtype-driven column selection — the Spark analogue of
    * `pl.col(pl.Utf8)` / `pl.col(pl.List(pl.Utf8))` (context.py:122-123). */
  def mapColumnsOfType(df: DataFrame)(p: DataType => Boolean)(f: Column => Column): DataFrame = {
    val cols = df.schema.fields.map { fld =>
      if (p(fld.dataType)) f(col(fld.name)).as(fld.name) else col(fld.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Scrub CR/LF/backslash from every string column (context.py:123,226). */
  def sanitizeStrings(df: DataFrame): DataFrame =
    mapColumnsOfType(df)(_ == StringType)(regexp_replace(_, ScrubPattern, ""))

  /** Flatten every array column to a `sep`-joined string. The reference
    * only supports `List[Utf8]` (context.py:122,225: `list.join('|')`);
    * non-string element types are cast to string first — leaving them
    * through would crash the CSV stage write ("CSV data source does not
    * support array<...>") far from the cause. */
  def joinStringArrays(df: DataFrame, sep: String = "|"): DataFrame =
    mapColumnsOfType(df)(_.isInstanceOf[ArrayType]) { c =>
      array_join(c.cast(ArrayType(StringType)), sep)
    }

  /** Keep one row per key — reference `unique(subset=keys)` keeps an
    * arbitrary row (context.py:124,227); `dropDuplicates` matches that
    * nondeterminism, so tests compare key-sets, not rows. */
  def dedupByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Drop rows with a null in any of `keys` (context.py:125,228-229). */
  def dropNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.na.drop("any", keys)

  /** Faithful sequential chunk ids: global 0..n-1 row numbering followed by
    * integer division (context.py:126-127 `with_row_count` + `//`).
    *
    * Spark has no implicit total order, so this uses `zipWithIndex` — it
    * runs one lightweight job to learn partition sizes, then assigns
    * contiguous ids without shuffling data. Preferred at scale over
    * `row_number().over(Window.orderBy(...))`, which would sort everything
    * into a single partition.
    */
  def withChunkIds(df: DataFrame, chunkSize: Long, chunkCol: String = "chunk"): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val spark = df.sparkSession
    val schema = df.schema.add(StructField(chunkCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx / chunkSize))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** The full node/edge normalization chain in reference order. */
  def normalize(df: DataFrame, keys: Seq[String]): DataFrame =
    dropNullKeys(dedupByKeys(sanitizeStrings(joinStringArrays(df)), keys), keys)
}
