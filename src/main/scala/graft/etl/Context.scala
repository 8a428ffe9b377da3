package graft.etl

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge, ThreadBridge}
import graft.operators.Normalize

/** Shared mutable state for one ETL run (the reference's singleton
  * `StoreInfo`, graph_etl/utils.py:44-190): catalog, accumulated stats.
  * Driver-side only.
  *
  * A run writes only under `outputDir`: staged files in `nodes/`, `edges/`
  * and `mappings/`, Spark scratch in `graft-staging-*`/`graft-rewrite-*`.
  * `configs.json` is the one durable record of what is staged and mapped,
  * and [[persistCatalog]]'s rename is the one commit: a staged file is
  * published when a committed catalog lists it, never by landing in a
  * staging dir. Files are moved in under fresh names before the commit and
  * superseded files deleted after it, so a crash leaves the old state or
  * the new one plus unlisted files and scratch, which [[sweepUncommitted]]
  * deletes on resume. The output dir has one writer. */
final class StoreInfo(val outputDir: String, val spark: SparkSession) {
  var catalog: Catalog = Catalog()
  var callbacks: Seq[SchemaCallback] = Nil
  var filter: Option[GraphFilter] = None
  val stats: mutable.Map[String, Long] = mutable.LinkedHashMap.empty

  def nodesDir: Path = Paths.get(outputDir, "nodes")
  def edgesDir: Path = Paths.get(outputDir, "edges")
  def mappingDir: Path = Paths.get(outputDir, "mappings")
  def configsDir: Path = Paths.get(outputDir, "configs")
  def configsPath: Path = configsDir.resolve("configs.json")

  def initDirs(): Unit =
    Seq(nodesDir, edgesDir, mappingDir, configsDir).foreach(Files.createDirectories(_))

  /** Commit the in-memory catalog: write `configs.json.tmp-<uuid>`, then
    * rename it over `configs.json` in one atomic move. */
  def persistCatalog(): Unit = {
    Files.createDirectories(configsDir)
    val tmp = configsDir.resolve(s"configs.json.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, Catalog.toJson(catalog))
    Files.move(tmp, configsPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def loadCatalog(): Unit =
    if (Files.exists(configsPath))
      catalog = Catalog.fromJson(Files.readString(configsPath))

  /** Delete what a crash between a write and its commit leaves: every
    * staged `FILE_*.csv` the catalog does not list, every catalog temp and
    * every [[StagingQueue]] scratch dir. */
  def sweepUncommitted(): Unit = {
    val listed = catalog.nodes.values.flatMap(_.files.keys).toSet ++
      catalog.edges.values.flatMap(_.keys) ++ catalog.mappings.values.flatMap(_.files)
    (Seq(nodesDir, edgesDir, mappingDir).flatMap(Context.listDir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("FILE_") && n.endsWith(".csv") && !listed.contains(n)
    } ++ Context.listDir(configsDir).filter(_.getFileName.toString.startsWith("configs.json.tmp-")) ++
      Context.listDir(Paths.get(outputDir)).filter(_.getFileName.toString.matches("graft-(staging|rewrite)-.*")))
      .foreach(Context.deleteRecursively)
  }

  // -- loader resume log (utils.py:26-42, 96-97): the files an external
  // database already holds; in-session loaders neither read nor write it
  private def loaderLog: Path = Paths.get(outputDir, "log_loader.txt")
  def logLoaded(fname: String): Unit = {
    Files.createDirectories(Paths.get(outputDir))
    Files.writeString(loaderLog,
      fname + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
  def loadedFiles: Set[String] =
    if (Files.exists(loaderLog))
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(loaderLog)).asScala.toSet
    else Set.empty
  def clearLoaderLog(): Unit = Files.deleteIfExists(loaderLog)
}

/** Spark jobs started on the
  * [[org.apache.spark.sql.graftbridge.ThreadBridge]] daemon pool in call
  * order, at most `defaultParallelism` in flight: a submit past the bound
  * waits for the oldest job still running (and rethrows its failure). The
  * caller takes results in call order; `close()` then waits for every job
  * (their failures were already surfaced or are superseded), on success and
  * failure alike. Driver-side, one caller thread. */
private[etl] final class BoundedJobs[T](spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer.empty[ThreadBridge.Pending[T]]
  private val bound = math.max(1, spark.sparkContext.defaultParallelism)

  def submit(body: => T): ThreadBridge.Pending[T] = {
    val running = jobs.filterNot(_.isDone)
    if (running.size >= bound) running.head.await()
    val job = ThreadBridge.async(spark)(body)
    jobs += job
    job
  }

  def close(): Unit = {
    jobs.foreach(j => scala.util.Try(j.await()))
    jobs.clear()
  }
}

/** The Spark halves of one batch of staging work, run as [[BoundedJobs]].
  * Each writes into its own temp dir directly under the output dir (so a
  * publish is a same-filesystem rename), which a reader ignores: it sees
  * only the files a committed catalog lists. `close()` waits for every job
  * and deletes every temp dir, on success and failure alike. */
private[etl] final class StagingQueue[T](store: StoreInfo) {
  private val jobs = new BoundedJobs[T](store.spark)
  private val dirs = mutable.ArrayBuffer.empty[Path]

  def submit(prefix: String)(stage: Path => T): ThreadBridge.Pending[T] = {
    val tmp = Files.createTempDirectory(Paths.get(store.outputDir), prefix)
    dirs += tmp
    jobs.submit(stage(tmp))
  }

  def close(): Unit = {
    jobs.close()
    dirs.foreach(Context.deleteRecursively)
    dirs.clear()
  }
}

/** Per-parser staging context — the Spark re-expression of
  * graph_etl/context.py. Each `saveNodes`/`saveEdges` call splits in two:
  *   - the Spark half (normalize, size, write chunk files into a private
  *     scratch dir under the output dir) starts on a daemon pool when the
  *     parser body returns (so no Spark commit renames files under a reader
  *     of the output dir mid-body), as concurrent Spark jobs — at most
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
  * `;`-separated, header, arrays flattened with `|`. A `mapIds` frame is
  * staged the same way, unnormalized, as mappings/FILE_{uuid}_{Label}_{prop}_{n}.csv.
  */
final class Context(
    val store: StoreInfo,
    val metadatas: Map[String, String],
    val uuid: String,
    nodeChunkSize: Long = Context.NodeChunkSize,
    edgeChunkSize: Long = Context.EdgeChunkSize) {

  /** Each save's Spark half, in call order; it returns its publish half. */
  private val halves = mutable.ArrayBuffer.empty[Path => () => Unit]
  private val saves = new StagingQueue[() => Unit](store)

  /** Committed files this context's publish replaced; deleted once the
    * parser's commit lists their replacements. */
  private[etl] val superseded = mutable.ArrayBuffer.empty[Path]

  /** Queue staging `df`; `publish` later gets its chunk files, in chunk
    * order with their row counts. */
  private def stage(df: DataFrame, chunkSize: Long)(publish: Seq[(Path, Long)] => Unit): Unit =
    halves += { tmp =>
      val chunks = Context.stageChunkedCsv(df, tmp, chunkSize)
      () => publish(chunks)
    }

  // per-context monotonically increasing chunk counters so file suffixes
  // stay unique across multiple save_* calls (context.py:15-16,155,250);
  // advanced at publish, in call order
  private var lastNodeChunk: Long = 0L
  private var lastEdgeChunk: Long = 0L
  private var lastMappingChunk: Long = 0L

  /** Move a save's chunk files into `dir` as `fileName(start + i)`. The
    * names carry this context's fresh uuid, so no live file is replaced;
    * they are published by the parser's catalog commit. */
  private def rename(
      chunks: Seq[(Path, Long)], dir: Path, fileName: Long => String, start: Long): Seq[(String, Long)] =
    chunks.zipWithIndex.map { case ((part, count), i) =>
      val name = fileName(start + i)
      Files.move(part, dir.resolve(name))
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
    * (context.py:18-59). The frame must carry `old_value`/`new_value`;
    * duplicate `old_value` rows are kept — they fan out at join time and
    * collapse in the post-mapping dedup, matching the reference (SURVEY
    * §2.12.5). The frame is staged like a save and committed with the
    * parser, so a resumed run still applies it; the reference keeps it in
    * memory (utils.py:77-78). A later mapping for the same spec replaces
    * this one. */
  def mapIds(mapping: DataFrame, idToMap: String): Unit = {
    require(mapping.columns.contains("old_value") && mapping.columns.contains("new_value"),
      s"mapIds($idToMap): mapping must have columns old_value/new_value, got ${mapping.columns.mkString(",")}")
    val pair = mapping.select(col("old_value"), col("new_value"))
    val propTypes = Catalog.schemaTypes(pair.schema)
    stage(pair, nodeChunkSize) { chunks =>
      val written = rename(chunks, store.mappingDir,
        n => s"FILE_${uuid}_${idToMap.replace(':', '_')}_$n.csv", lastMappingChunk)
      lastMappingChunk += written.size
      store.catalog.mappings.get(idToMap).foreach(superseded ++= _.files.map(store.mappingDir.resolve))
      store.catalog = store.catalog.copy(mappings = store.catalog.mappings +
        (idToMap -> MappingConfig(propTypes, written.map(_._1).toList)))
    }
  }

  /** Start every save of this context, wait for them and publish them in
    * call order. If a save failed, its own exception is rethrown and nothing
    * is published. Called once, after the parser body returned; `discard()`
    * must follow either way. */
  private[etl] def publish(): Unit =
    halves.toSeq.map(h => saves.submit("graft-staging-")(h)).map(_.await()).foreach(_())

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
    * files in chunk order with their row counts; an empty `df` writes none.
    * This is the ETL's one CSV writer. Strings are written verbatim: the
    * writer's default trim of leading and trailing whitespace is off, as in
    * the reference's `write_csv`, so keys that differ only in whitespace
    * stay distinct.
    *
    * The planned rows run once, into an RDD persisted at the block level
    * (no columnar cache, so no encode/decode and no cache-stage job). One
    * per-partition count job over it fills the cache and sizes the
    * partitions; the write reads the same cached partitions through a frame
    * over that RDD, so the sizing reads the very partitions the chunk ids
    * are computed over. A row's chunk is `(offset of its partition + its
    * index in the partition) div chunkSize`, evaluated as Catalyst
    * expressions; `repartition(n, chunk)` then co-locates each chunk in
    * exactly one task so `partitionBy("chunk")` emits one part file per
    * chunk. A table that fits one chunk skips that shuffle and is written
    * by one task. Counts come from arithmetic on the partition sizes, not a
    * per-chunk collect. So a save runs two jobs (three for more than one
    * chunk) past the shuffle stages of `df`'s own plan.
    */
  def stageChunkedCsv(df: DataFrame, tmp: Path, chunkSize: Long): Seq[(Path, Long)] = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = rows.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      val total = sizes.sum
      if (total == 0) return Nil
      // (total - 1) / chunkSize cannot overflow, even for Long.MaxValue
      val nChunks = ((total - 1) / chunkSize + 1).toInt
      val cached = DatasetBridge.fromInternalRows(df.sparkSession, rows, df.schema)
      val csv = (d: DataFrame) => d.write
        .option("sep", ";").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false").option("ignoreTrailingWhiteSpace", "false")
        .mode("overwrite")
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
    } finally rows.unpersist()
  }

  /** The one `part-*` file Spark wrote into `dir`. */
  private[graft] def partFile(dir: Path): Path =
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
