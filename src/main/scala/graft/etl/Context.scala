package graft.etl

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, LocalDirBridge, ThreadBridge}
import graft.operators.Normalize

/** Shared mutable state for one ETL run (the reference's singleton
  * `StoreInfo`, graph_etl/utils.py:44-190): catalog, registered ID
  * mappings, accumulated stats, resume logs. Driver-side only. */
final class StoreInfo(val outputDir: String, val spark: SparkSession) {
  var catalog: Catalog = Catalog()
  /** "{Label}:{prop}" -> mapping DataFrame(old_value, new_value) (utils.py:77-78). */
  val mappings: mutable.Map[String, DataFrame] = mutable.LinkedHashMap.empty
  var callbacks: Seq[SchemaCallback] = Nil
  var filter: Option[GraphFilter] = None
  val stats: mutable.Map[String, Long] = mutable.LinkedHashMap.empty

  def nodesDir: Path = Paths.get(outputDir, "nodes")
  def edgesDir: Path = Paths.get(outputDir, "edges")
  def configsDir: Path = Paths.get(outputDir, "configs")
  def configsPath: Path = configsDir.resolve("configs.json")

  def initDirs(): Unit =
    Seq(nodesDir, edgesDir, configsDir).foreach(Files.createDirectories(_))

  def persistCatalog(): Unit = {
    Files.createDirectories(configsDir)
    Files.writeString(configsPath, Catalog.toJson(catalog))
  }

  def loadCatalog(): Unit =
    if (Files.exists(configsPath))
      catalog = Catalog.fromJson(Files.readString(configsPath))

  // -- append-only resume logs (utils.py:26-42, 96-97) -------------------
  private def logPath(kind: String): Path = Paths.get(outputDir, s"log_$kind.txt")
  def logAppend(kind: String, entry: String): Unit = {
    Files.createDirectories(Paths.get(outputDir))
    Files.writeString(logPath(kind),
      entry + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
  def logEntries(kind: String): Set[String] = {
    val p = logPath(kind)
    if (Files.exists(p))
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala.toSet
    else Set.empty
  }
  def clearLogs(): Unit =
    Seq("parser", "mapper", "loader").foreach(k => Files.deleteIfExists(logPath(k)))
}

/** The Spark halves of one batch of staging work, started on the
  * [[org.apache.spark.sql.graftbridge.ThreadBridge]] daemon pool in call
  * order. Each writes into its own temp dir under Spark's local scratch
  * dir, never under the output dir, so a reader of the output dir only
  * ever sees published files. At most `defaultParallelism` jobs run at
  * once: a submit past the bound waits for the oldest job still running.
  * The caller takes results in call order and publishes them; `close()`
  * then waits for every job (their failures were already surfaced or are
  * superseded) and deletes every temp dir, on success and failure alike.
  * Driver-side, one caller thread. */
private[etl] final class StagingQueue[T](spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer.empty[(Path, ThreadBridge.Pending[T])]
  private val bound = math.max(1, spark.sparkContext.defaultParallelism)
  private lazy val scratch = Paths.get(LocalDirBridge.localDir(spark))

  def submit(prefix: String)(stage: Path => T): ThreadBridge.Pending[T] = {
    val running = jobs.map(_._2).filterNot(_.isDone)
    if (running.size >= bound) running.head.await()
    val tmp = Files.createTempDirectory(scratch, prefix)
    val job = ThreadBridge.async(spark)(stage(tmp))
    jobs += tmp -> job
    job
  }

  def all: Seq[ThreadBridge.Pending[T]] = jobs.map(_._2).toSeq

  def close(): Unit = {
    jobs.foreach(j => scala.util.Try(j._2.await()))
    jobs.foreach(j => Context.deleteRecursively(j._1))
    jobs.clear()
  }
}

/** Per-parser staging context — the Spark re-expression of
  * graph_etl/context.py. Each `saveNodes`/`saveEdges` call splits in two:
  *   - the Spark half (normalize, size, write chunk files into a private
  *     temp dir in Spark's scratch space) starts at once on a daemon pool,
  *     so a parser's tables are staged as concurrent Spark jobs — at most
  *     `defaultParallelism` in flight, a save past the bound waits for the
  *     oldest one ([[StagingQueue]]);
  *   - the publish half (chunk index from the context counter, rename into
  *     the reference layout, catalog and stats update) runs in call order
  *     when the parser body returns ([[GraphEtl]] calls `publish()`).
  * So a parser's staged files and catalog entries become visible when its
  * body returns, in call order. If the body or any save throws, nothing is
  * published and every temp dir is removed.
  * The catalog is updated from arithmetic on the counts (no per-chunk
  * driver collect — SURVEY §2.5 A3's `collect` replaced).
  *
  * Chunk-file layout matches the reference:
  *   nodes: FILE_{uuid}_{label}_{n}.csv         (context.py:149)
  *   edges: FILE_{uuid}_{start}{TYPE}{end}_{n}.csv (context.py:244)
  * `;`-separated, header, arrays flattened with `|`.
  */
final class Context(
    val store: StoreInfo,
    val metadatas: Map[String, String],
    val uuid: String,
    nodeChunkSize: Long = Context.NodeChunkSize,
    edgeChunkSize: Long = Context.EdgeChunkSize,
    fastStaging: Boolean = false) {

  /** Each save's Spark half returns its publish half. */
  private val saves = new StagingQueue[() => Unit](store.spark)

  /** Start staging `df`; `publish` later gets its chunk files, in chunk
    * order with their row counts. */
  private def stage(df: DataFrame, chunkSize: Long)(publish: Seq[(Path, Long)] => Unit): Unit =
    saves.submit("graft-staging-") { tmp =>
      val chunks =
        if (fastStaging) Context.stageChunkedCsvFast(df, tmp, chunkSize)
        else Context.stageChunkedCsv(df, tmp, chunkSize)
      () => publish(chunks)
    }

  // per-context monotonically increasing chunk counters so file suffixes
  // stay unique across multiple save_* calls (context.py:15-16,155,250);
  // advanced at publish, in call order
  private var lastNodeChunk: Long = 0L
  private var lastEdgeChunk: Long = 0L

  /** Rename a save's chunk files into `dir` as `fileName(start + i)`. */
  private def rename(
      chunks: Seq[(Path, Long)], dir: Path, fileName: Long => String, start: Long): Seq[(String, Long)] =
    chunks.zipWithIndex.map { case ((part, count), i) =>
      val name = fileName(start + i)
      Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      (name, count)
    }

  /** Normalize, chunk, and stage a node table (context.py:61-155). */
  def saveNodes(
      nodes: DataFrame,
      label: String,
      primaryKey: String = "id",
      constraints: Seq[String] = Nil,
      indexs: Seq[String] = Nil): Unit = {
    // primary key is always a uniqueness constraint (context.py:134 —
    // without the reference's caller-visible list mutation, SURVEY §2.12.7)
    val allConstraints = (constraints :+ primaryKey).distinct.toList
    store.callbacks.foreach(_.onSaveNodes(
      label, Catalog.schemaTypes(nodes.schema), metadatas, primaryKey, allConstraints, indexs))

    // catalog types come from the PRE-flatten schema (context.py:112 runs
    // before the normalize chain): array columns are recorded List(Utf8)
    // so the Neo4j/TigerGraph loaders emit arraySep/LIST<STRING> handling
    val propTypes = Catalog.schemaTypes(nodes.schema)
    stage(Normalize.normalize(nodes, Seq(primaryKey)), nodeChunkSize) { chunks =>
      val written = rename(chunks, store.nodesDir, n => s"FILE_${uuid}_${label}_$n.csv", lastNodeChunk)
      lastNodeChunk += written.size
      written.foreach { case (fname, count) =>
        store.catalog = store.catalog.withNodeFile(
          label, primaryKey, allConstraints, indexs.toList, propTypes, fname, metadatas, count)
      }
      store.stats("nodes") = store.stats.getOrElse("nodes", 0L) + written.map(_._2).sum
    }
  }

  /** Normalize, chunk, and stage an edge table (context.py:157-250).
    * `startId`/`endId` address endpoints as `"{Label}:{property}"`
    * (split at context.py:210-211); the frame must carry `start`/`end`. */
  def saveEdges(
      edges: DataFrame,
      edgeType: String,
      startId: String,
      endId: String,
      ignoreMapping: Boolean = false): Unit = {
    // fail fast: the mapping passes destructure "{Label}:{property}" — a
    // colonless spec would otherwise crash mid-mapping after staging
    require(startId.contains(":") && endId.contains(":"),
      s"""saveEdges($edgeType): endpoint specs must be "Label:property", got startId="$startId", endId="$endId"""")
    val startLabel = startId.split(":")(0)
    val endLabel = endId.split(":")(0)
    store.callbacks.foreach(_.onSaveEdges(
      edgeType, startLabel, endLabel, metadatas, Catalog.schemaTypes(edges.schema)))

    // pre-flatten schema, like saveNodes (context.py:222)
    val propTypes = Catalog.schemaTypes(edges.schema)
    stage(Normalize.normalize(edges, Seq("start", "end")), edgeChunkSize) { chunks =>
      val written = rename(chunks, store.edgesDir,
        n => s"FILE_${uuid}_${startLabel}$edgeType${endLabel}_$n.csv", lastEdgeChunk)
      lastEdgeChunk += written.size
      written.foreach { case (fname, count) =>
        store.catalog = store.catalog.withEdgeFile(
          edgeType, fname, startId, endId, propTypes, ignoreMapping, metadatas, count)
      }
      store.stats("edges") = store.stats.getOrElse("edges", 0L) + written.map(_._2).sum
    }
  }

  /** Register an explicit ID mapping for `idToMap` = `"{Label}:{prop}"`
    * (context.py:18-59; stored at utils.py:77-78). The frame must carry
    * `old_value`/`new_value`; duplicate `old_value` rows are kept — they
    * fan out at join time and collapse in the post-mapping dedup, matching
    * the reference (SURVEY §2.12.5). */
  def mapIds(mapping: DataFrame, idToMap: String): Unit = {
    require(mapping.columns.contains("old_value") && mapping.columns.contains("new_value"),
      s"mapIds($idToMap): mapping must have columns old_value/new_value, got ${mapping.columns.mkString(",")}")
    store.mappings(idToMap) = mapping.select(col("old_value"), col("new_value"))
  }

  /** Wait for every save of this context and publish them in call order.
    * If a save failed, its own exception is rethrown and nothing is
    * published. Called once, after the parser body returned; `discard()`
    * must follow either way. */
  private[etl] def publish(): Unit = saves.all.map(_.await()).foreach(_())

  /** Wait for the running saves and delete every temp dir. */
  private[etl] def discard(): Unit = saves.close()
}

object Context {
  val NodeChunkSize = 200000L // context.py:127
  val EdgeChunkSize = 500000L // context.py:231
  private val ChunkCol = "__graft_chunk"

  /** Write `df` into the empty dir `tmp` as `;`-separated CSV files of at
    * most `chunkSize` rows with deterministic sequential chunk membership:
    * every file but the last holds exactly `chunkSize` rows. Returns the
    * files in chunk order with their row counts.
    *
    * About three jobs: the input is persisted and sized by one
    * per-partition count job (which also fills the cache); a row's chunk is
    * `(offset of its partition + its index in the partition) div chunkSize`,
    * evaluated as Catalyst expressions over the cached partitions;
    * `repartition(n, chunk)` then co-locates each chunk in exactly one task
    * so `partitionBy("chunk")` emits one part file per chunk. A table that
    * fits one chunk skips that shuffle and is written by one task. Counts
    * come from arithmetic on the partition sizes, not a per-chunk collect.
    */
  def stageChunkedCsv(df: DataFrame, tmp: Path, chunkSize: Long): Seq[(Path, Long)] = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a fresh plan over the cached relation: `input` may have been
      // planned before the persist, and the sizing must read the very
      // partitions the chunk ids are computed over
      val cached = input.toDF(input.columns.toIndexedSeq: _*)
      val sizes = cached.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      val total = sizes.sum
      if (total == 0) return Nil
      val nChunks = ((total + chunkSize - 1) / chunkSize).toInt
      val csv = (d: DataFrame) => d.write
        .option("sep", ";").option("header", "true").mode("overwrite")
      if (nChunks == 1) {
        csv(cached.coalesce(1)).csv(tmp.toString)
        Seq(partFile(tmp) -> total)
      } else {
        val offsets = sizes.scanLeft(0L)(_ + _).init.toSeq
        val pid = spark_partition_id()
        val row = element_at(typedLit(offsets), pid + 1) +
          (monotonically_increasing_id() - shiftleft(pid.cast("long"), 33))
        val chunk = ColumnBridge.column(IntegralDivide(
          ColumnBridge.expression(row), Literal(chunkSize)))
        csv(cached.withColumn(ChunkCol, chunk).repartition(nChunks, col(ChunkCol)))
          .partitionBy(ChunkCol).csv(tmp.toString)
        (0 until nChunks).map { i =>
          val count = if (i < nChunks - 1) chunkSize else total - chunkSize * (nChunks - 1)
          partFile(tmp.resolve(s"$ChunkCol=$i")) -> count
        }
      }
    } finally input.unpersist()
  }

  /** Performance-path staging (SURVEY §2.6 W1 option (a)): one write pass
    * bounded by `maxRecordsPerFile` — no sizing job, no repartition
    * shuffle. File sizes are bounded-but-uneven rather than exactly-chunked
    * (task boundaries also split files), and per-file counts come from one
    * distributed line-count pass over the written files. Preferred at scale;
    * the faithful path keeps the reference's exact chunk geometry. */
  def stageChunkedCsvFast(df: DataFrame, tmp: Path, chunkSize: Long): Seq[(Path, Long)] = {
    df.write
      .option("maxRecordsPerFile", chunkSize)
      .option("sep", ";")
      .option("header", "true")
      .mode("overwrite")
      .csv(tmp.toString)
    val parts = listDir(tmp).filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
    if (parts.isEmpty) return Nil
    // one distributed pass for per-file counts (minus the header line each)
    import org.apache.spark.sql.functions.{input_file_name, count => cnt, lit}
    val counts = df.sparkSession.read.text(parts.map(_.toString): _*)
      .groupBy(input_file_name().as("f")).agg(cnt(lit(1)).as("n"))
      .collect()
      .map(r => {
        // input_file_name() is a URI (percent-encoded) — decode before
        // matching against the on-disk file names
        val f = r.getString(0)
        val path = try new java.net.URI(f).getPath catch { case _: Exception => f }
        path.substring(path.lastIndexOf('/') + 1) -> (r.getLong(1) - 1)
      }).toMap
    parts.map { p =>
      val n = p.getFileName.toString
      p -> counts.getOrElse(n, throw new IllegalStateException(s"no line count for staged file $n"))
    }
  }

  private def partFile(dir: Path): Path =
    listDir(dir).find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $dir"))

  /** Directory listing that closes its stream (a bare `Files.list` leaks a
    * directory fd until finalization). */
  private[etl] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try scala.jdk.CollectionConverters.ListHasAsScala(
      s.collect(java.util.stream.Collectors.toList[Path])).asScala.toSeq
    finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
