package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Readers for the test-data star schema.
  *
  * `events.ts` RESOLUTION CONTRACT: the fixture has shipped `ts` as both
  * TIMESTAMP(NANOS) (earlier rounds) and `timestamp[us]`/isAdjustedToUTC=
  * false (current — Spark reads it as TIMESTAMP_NTZ). Nothing here may
  * assume one of the two: [[normalizeEventTs]] dispatches on the type that
  * actually arrived, and the streaming reader takes its schema from a batch
  * footer read of the same directory (EventsStream.readStream) instead of
  * hardcoding. Round 5 hardcoded the nanos shape and silently shrank every
  * streamed event time 1000x — any new code touching `ts` goes through
  * these two helpers. */
object Tables {

  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** JVM-local cache of INFERRED parquet schemas, keyed by path (r16).
    *
    * `spark.read.parquet(path)` without a user schema runs a driver-side
    * footer-read JOB (~20 ms) on every call — and the engine re-reads
    * the same immutable fixture tables on every query construction, so a
    * 254-query bench session paid THOUSANDS of footer jobs (JobProfile:
    * q_fk_sketch alone opened with 8 × 20 ms "parquet at Tables.scala"
    * jobs before any data work). Passing the once-inferred schema back
    * via `.schema(...)` skips inference entirely; the DATA is still read
    * from parquet at execution, every run — this caches metadata the way
    * any catalog does, never rows or results.
    *
    * Safety: the cache is per-JVM and keyed by the absolute path. Raw
    * fixture tables are immutable during a run; a staged artifact's path
    * is named by its input content and code digest and is written once,
    * so anything that could alter the written schema also changes the
    * cache key. The one conf that shapes inference (`nanosAsLong`) is
    * fixed at session build by every entry point, before any read. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Read a parquet path with the cached inferred schema (see
    * [[schemaCache]]); first access per path pays the one footer job. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Exact integer micros-since-epoch for an event-time column of ANY of
    * the shapes `ts` can arrive in (TIMESTAMP, TIMESTAMP_NTZ). The session
    * time zone is pinned UTC in every entry point, so the NTZ->LTZ cast is
    * value-preserving; `unix_micros` directly on an NTZ column is a
    * DATATYPE_MISMATCH analysis error (what broke q_event_dedup in r5). */
  def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** Persist a table bucketed (and sorted) by the join key. Two tables
    * bucketed the same way join with ZERO exchanges — the co-location
    * replaces the shuffle, the sort order replaces the sort. This is the
    * staging layout for repeated big-big joins at scale (e.g. edge tables
    * repeatedly resolved against the same node key). Requires a session
    * catalog (`spark.sql.warehouse.dir`); bucketBy only writes managed
    * tables. */
  def writeBucketed(
      df: DataFrame, tableName: String, key: String, buckets: Int,
      path: Option[String] = None): Unit =
    // repartition on the SAME hash the bucketing uses, so every writer
    // task holds exactly one bucket and each bucket lands in ONE file:
    // multi-file buckets forfeit the scan's outputOrdering (Spark only
    // trusts the in-bucket sort when a bucket is a single file), which
    // would re-insert a per-partition sort under every downstream
    // sort-merge join. One exchange, paid once at staging time.
    //
    // SIZING CONTRACT: because one bucket = one file = one writer task,
    // `buckets` is simultaneously the write's parallelism and the file
    // granularity — it must SCALE WITH DATA VOLUME. The fixture layouts
    // (16-32) are sized for the test SFs; at 100 TB the same call wants
    // buckets in the thousands (healthy file sizes of ~256MB-1GB AND a
    // non-serialized write), which keeps the single-file-per-bucket
    // sorted-scan guarantee intact. The knob is this explicit parameter;
    // what must NOT change is the one-file-per-bucket invariant.
    {
      // an explicit `path` makes the table EXTERNAL at that location: a
      // later DROP TABLE (catalog reset, test harness) detaches metadata
      // without deleting the staged files — the property cross-JVM
      // staging reuse depends on. Default stays managed.
      val w = df.repartition(buckets, col(key))
        .write
        .bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
      path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
    }

  /** `ts` normalization shared by the batch and streaming event readers,
    * dispatched on the type that ACTUALLY arrived (see the resolution
    * contract above). A LongType `ts` can only mean TIMESTAMP(NANOS): the
    * `nanosAsLong` conf is the single mechanism that surfaces a parquet
    * timestamp as Long, and it applies to nanos columns alone — so the
    * integral `div 1000` (a double roundtrip would lose precision at 1e18
    * magnitudes) converts losslessly to micros. A native TIMESTAMP or
    * TIMESTAMP_NTZ (the current fixture) passes through untouched —
    * downstream micros arithmetic uses [[tsMicros]], which is safe for
    * both. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(parquet(spark, s"$dir/events.parquet"))
}
