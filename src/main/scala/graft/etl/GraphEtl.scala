package graft.etl

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ThreadBridge
import graft.operators.Mapping

/** Registered parser metadata + body — the reference's `@Parser` decorator
  * surface (graph_etl/utils.py:192-303). Scala has no decorators; the
  * registration form is `etl.parser(name, metadata)(ctx => ...)` and the
  * eager form `etl.withParser(name, metadata)(ctx => ...)`. */
final case class RegisteredParser(
    name: String,
    metadatas: Map[String, String],
    sourcesPath: Seq[String],
    ignore: Boolean,
    body: Context => Unit)

/** Top-level orchestration: init / parse / load / clear
  * (graph_etl/pipeline.py + utils.py control plane).
  *
  * One instance per ETL run; holds the driver-side store (catalog, stats).
  * All data movement is Spark jobs; everything here is metadata.
  * The committed catalog is the one resume record ([[StoreInfo]]).
  *
  * When a parser's body returns, its saves run as concurrent Spark jobs (at
  * most `defaultParallelism` in flight, see [[Context]]); its staged files,
  * their catalog entries and its name in `Catalog.parsed` are then
  * committed together by one catalog rename. A body
  * or save that throws publishes nothing. The mapping rewrites of
  * [[mapProperties]] likewise run concurrently and commit in catalog order.
  *
  * Two departures from the reference, which deletes its resume logs at
  * load (pipeline.py:193-199) and so re-runs every parser after it:
  *   - `parsed` and the `mapped` marks outlive `load()`, so a later
  *     `parse()` or `withParser` skips the parsers already parsed and
  *     re-maps no file;
  *   - an in-session loader is offered every catalog file on every
  *     `load()`, so a resumed load counts every file in `loaded_*` stats.
  *
  * @param strictCompat reproduce the reference's full-outer ghost-edge
  *   mapping joins bug-for-bug (SURVEY §2.12.1); default fixed (left-outer).
  */
final class GraphEtl(
    val spark: SparkSession,
    val outputDir: String = "./output",
    val strictCompat: Boolean = false,
    nodeChunkSize: Long = Context.NodeChunkSize,
    edgeChunkSize: Long = Context.EdgeChunkSize) {

  val store = new StoreInfo(outputDir, spark)
  private val parsers = mutable.LinkedHashMap.empty[String, RegisteredParser]
  private var initialized = false
  private var parsed = false

  /** Register a deferred parser (utils.py:234-252, 285-303). The body is
    * arity-1 over Context by construction (the reference arity-checks at
    * utils.py:286-292; the Scala type system does it here). */
  def parser(
      name: String,
      metadatas: Map[String, String] = Map.empty,
      sourcesPath: Seq[String] = Nil,
      ignore: Boolean = false)(body: Context => Unit): Unit =
    parsers(s"FUNCTION_$name") = RegisteredParser(name, metadatas, sourcesPath, ignore, body)

  /** init (utils.py:129-133 → pipeline.py:20-29): create output dirs, wire
    * filters/callbacks, optionally resume from the committed catalog,
    * deleting the staged files and catalog temps it does not list. */
  def init(
      filter: Option[GraphFilter] = None,
      callbacks: Seq[SchemaCallback] = Nil,
      loadConfigs: Boolean = false): Unit = {
    store.initDirs()
    store.filter = filter
    store.callbacks = callbacks
    if (loadConfigs) { store.loadCatalog(); store.sweepUncommitted() }
    initialized = true
  }

  /** Skip/resume guard (utils.py:255-269): skip when already parsed (in
    * `Catalog.parsed`), explicitly ignored, or a declared source path is missing.
    * Resume keys on the parser *name* (stable across JVMs) rather than the
    * reference's per-instance uuid. */
  private def shouldSkip(p: RegisteredParser): Boolean =
    p.ignore ||
      store.catalog.parsed.contains(p.name) ||
      p.sourcesPath.exists(sp => !Files.exists(Paths.get(sp)))

  /** parse (utils.py:135-153 → pipeline.py:32-46): run every registered
    * parser not filtered/skipped, then the mapping passes. */
  def parse(useMapper: Boolean = true): Unit = {
    if (!initialized) init()
    val t0 = System.nanoTime()
    parsers.values.foreach { p =>
      val filtered = store.filter.exists(_.skipParse(p.metadatas))
      if (!filtered && !shouldSkip(p)) runParser(p.name, p.metadatas, p.body)
    }
    if (useMapper) mapProperties()
    store.stats("parse_time_ms") = (System.nanoTime() - t0) / 1000000
    store.persistCatalog()
    parsed = true
  }

  /** Eager context-manager form (`with Parser(...) as ctx`,
    * utils.py:271-283): body runs immediately; mapping runs at block exit
    * over the files not yet `mapped`. Honors the
    * FULL `_should_skip` guard (utils.py:255-269) exactly like the deferred
    * form: `parsed`, explicit `ignore`, and any missing declared source
    * path all skip the body (and the mapping pass). */
  def withParser(
      name: String,
      metadatas: Map[String, String] = Map.empty,
      sourcesPath: Seq[String] = Nil,
      ignore: Boolean = false)(body: Context => Unit): Unit = {
    if (!initialized) init()
    if (!shouldSkip(RegisteredParser(name, metadatas, sourcesPath, ignore, body))) {
      runParser(name, metadatas, body)
      mapProperties()
    }
  }

  /** Run one parser body, then publish its saves in call order and commit
    * them with the parser's name in `parsed` — only on success: a parser
    * whose body or save threw must re-run on resume, not be skipped as
    * complete. (The reference's __exit__ runs these even on exception,
    * utils.py:278-283; that marks half-staged parsers done, which we
    * deliberately fix.) */
  private def runParser(name: String, metadatas: Map[String, String], body: Context => Unit): Unit = {
    val ctx = new Context(store, metadatas, java.util.UUID.randomUUID().toString.take(8),
      nodeChunkSize, edgeChunkSize)
    val tp = System.nanoTime()
    try { body(ctx); ctx.publish() } finally ctx.discard()
    // per-parser wall time (utils.py:80-97 save_parser_infos logging)
    store.stats(s"parser_time_ms_$name") = (System.nanoTime() - tp) / 1000000
    store.catalog = store.catalog.copy(parsed = store.catalog.parsed :+ name)
    store.persistCatalog()
    ctx.superseded.foreach(Files.delete)
  }

  // ------------------------------------------------------------------
  // Mapping passes (pipeline.py:48-122)
  // ------------------------------------------------------------------

  /** Read a staged edge file with the catalog-recorded schema — no second
    * inference pass (improvement over pipeline.py:53's 100k-row re-infer). */
  private[etl] def readStagedEdges(fname: String, cfg: EdgeFileConfig): DataFrame =
    StagedCsv.readAll(spark, Seq(store.edgesDir.resolve(fname)), cfg.properties_type)

  /** Both mapping passes over every staged edge file not yet `mapped`
    * (pipeline.py:48-122).
    *
    * Pass A — explicit `mapIds` mappings: endpoints whose `"{Label}:{prop}"`
    * spec has a mapping in `Catalog.mappings` are rewritten via
    * join+coalesce; the staged mapping is read once per spec.
    * Pass B — automatic pk resolution: endpoints addressing a non-primary
    * property are rewritten to the node primary key; the catalog endpoint is
    * repointed to `Label:{pk}` and the column retyped (pipeline.py:110-111).
    *
    * Every unmapped file is planned on this thread (the pass A/B frames are
    * lazy); the dirty files' dedup and staging then run as concurrent Spark
    * jobs, each into a temp dir (Spark cannot overwrite its own input —
    * SURVEY §2.2 K3), at most `defaultParallelism` at once. Each rewrite
    * is moved in under a fresh name and swapped into the catalog by its own
    * commit, in catalog order; the superseded file is deleted after it. One
    * last commit marks the files that needed no rewrite.
    */
  def mapProperties(): Unit = {
    // pass-B auto-mappings are identical for every edge file addressing the
    // same (label, prop) — build each once, not per file
    val autoMappings = mutable.Map.empty[(String, String), DataFrame]
    val explicitMappings = mutable.Map.empty[String, DataFrame]
    val rewrites = new StagingQueue[() => Unit](store)
    try {
      val planned = for {
        (edgeType, files) <- store.catalog.edges.toSeq
        (fname, cfg0) <- files.toSeq if !cfg0.mapped
      } yield {
        var cfg = cfg0
        var df = readStagedEdges(fname, cfg)
        var dirty = false

        // -- pass A: explicit mappings (pipeline.py:49-72), gated on
        // ignore_mapping like the reference (pipeline.py:52). The
        // reference keeps the pre-mapping values under `mapped_from`
        // (pipeline.py:64); we suffix per-endpoint so mapping both
        // endpoints can't collide.
        if (!cfg.ignore_mapping) {
          Seq(("start", cfg.start), ("end", cfg.end)).foreach { case (colName, spec) =>
            store.catalog.mappings.get(spec).foreach { m =>
              val mapping = explicitMappings.getOrElseUpdate(spec,
                StagedCsv.readAll(spark, m.files.map(store.mappingDir.resolve), m.properties_type))
              df = Mapping.applyMapping(df, mapping, colName, strictCompat)
                .withColumnRenamed("mapped_from", s"${colName}_mapped_from")
              dirty = true
            }
          }
        }

        // -- pass B: auto pk resolution (pipeline.py:75-111); guard quirk
        // SURVEY §2.12.2: runs for any endpoint whose addressed property is
        // not the node's primary key, unless ignore_mapping
        if (!cfg.ignore_mapping) {
          Seq(("start", cfg.start), ("end", cfg.end)).foreach { case (colName, spec) =>
            val Array(label, prop) = spec.split(":", 2)
            store.catalog.nodes.get(label) match {
              case Some(nodeCfg) if prop != nodeCfg.primary_key =>
                val mapping = autoMappings.getOrElseUpdate((label, prop),
                  Mapping.autoMapping(readStagedNodes(label, nodeCfg), nodeCfg.primary_key, prop))
                // pass B drops the pre-mapping column (pipeline.py:106)
                df = Mapping.applyMapping(df, mapping, colName, strictCompat)
                  .drop("mapped_from")
                dirty = true
                // catalog endpoint repointed to the primary key (pipeline.py:110-111)
                cfg = if (colName == "start") cfg.copy(start = s"$label:${nodeCfg.primary_key}")
                      else cfg.copy(end = s"$label:${nodeCfg.primary_key}")
              case Some(_) => // already keyed by the primary key
              case None => // reference raises KeyError (pipeline.py:94); fixed: warn+skip
                System.err.println(s"[graft] auto-mapping: node label '$label' not in catalog; skipping $fname/$colName")
            }
          }
        }

        if (dirty) Some(rewrites.submit("graft-rewrite-")(stageRewrite(edgeType, fname, df, cfg)))
        else None
      }
      planned.foreach(_.foreach(_.await()()))
    } finally rewrites.close()
    // every file unmapped at the start is now rewritten or needed no rewrite
    store.catalog = store.catalog.copy(edges = store.catalog.edges.map { case (t, files) =>
      t -> files.map { case (f, cfg) => f -> cfg.copy(mapped = true) }
    })
    store.persistCatalog()
  }

  /** The Spark half of one edge file's rewrite: dedup the mapped frame and
    * stage it into `tmp` as one chunk ([[Context.stageChunkedCsv]], the
    * writer and row cache the saves use). Returns the commit, which runs on
    * the caller thread in catalog order: it moves the file in under the
    * reference name with a fresh uuid and the same chunk index, swaps it for
    * `fname` in the catalog, and deletes `fname` once that is committed. A
    * mapped frame with no rows (only an empty staged file gives one) keeps
    * `fname` and commits its new catalog entry alone. */
  private def stageRewrite(edgeType: String, fname: String, df: DataFrame, cfg: EdgeFileConfig)(
      tmp: Path): () => Unit = {
    val deduped = Mapping.dedupEndpoints(df)
    val staged = Context.stageChunkedCsv(deduped, tmp, Long.MaxValue)
    // record the post-mapping schema (pipeline.py:69,110 retype)
    val mappedCfg = cfg.copy(count = staged.map(_._2).sum,
      properties_type = Catalog.schemaTypes(deduped.schema), mapped = true)
    val newName = if (staged.isEmpty) fname else s"FILE_${java.util.UUID.randomUUID().toString.take(8)}" +
      fname.stripPrefix("FILE_").dropWhile(_ != '_')
    () => {
      staged.foreach { case (part, _) => Files.move(part, store.edgesDir.resolve(newName)) }
      store.catalog = store.catalog.copy(edges = store.catalog.edges +
        (edgeType -> (store.catalog.edges(edgeType) - fname + (newName -> mappedCfg))))
      store.persistCatalog()
      if (newName != fname) Files.delete(store.edgesDir.resolve(fname))
    }
  }

  /** Every staged node file of a label, one multi-file scan per header
    * ([[StagedCsv.readAll]]); pass B's auto-mappings read it. */
  private[etl] def readStagedNodes(label: String, cfg: NodeConfig): DataFrame =
    StagedCsv.readAll(spark, cfg.files.keys.toSeq.map(store.nodesDir.resolve), cfg.properties_type)

  // ------------------------------------------------------------------
  // load (utils.py:156-175 → pipeline.py:125-199)
  // ------------------------------------------------------------------

  /** Iterate the catalog and hand every staged file to `loader`, honoring
    * the filter, then clear the loader log.
    *
    * The loader log lists the files an external database already holds,
    * so a resumed load skips them. It is read and written only for loaders
    * whose state lives outside the JVM (Neo4j, TigerGraph), which load file
    * by file, inline, in catalog order. An [[InSessionLoader]] holds
    * nothing from an earlier run and is offered every catalog file, a
    * label's (an edge type's) files at once: each is merged on this thread,
    * in catalog order (so results never depend on thread timing), and its
    * rows are counted by one concurrent Spark job
    * ([[InSessionLoader.count]]), at most `defaultParallelism` in flight
    * ([[BoundedJobs]]). `loaded_nodes_<label>` is then the label's file
    * rows before the merge's dedup on `id`, and `loaded_edges_<type>` the
    * type's rows whose endpoints resolved. The counts are added to the
    * stats in catalog order; a failed count is rethrown and records
    * nothing, and no count is still running when `load` returns or throws.
    *
    * Dead-parameter parity note: the reference's `load` also declares a
    * `clear_source` flag (utils.py:156) that its own implementation never
    * reads (pipeline.py:125 — declared, unused; staged CSVs are never
    * deleted on load). Matching observable behavior, this API omits the
    * parameter rather than carrying a no-op argument. */
  def load(loader: Loader): Unit = {
    if (!parsed && !Files.exists(store.configsPath)) parse()
    if (store.catalog.nodes.isEmpty) store.loadCatalog()
    def record(stat: String, n: Long): Unit =
      store.stats(stat) = store.stats.getOrElse(stat, 0L) + n
    def skipNode(label: String, info: NodeFileInfo): Boolean =
      store.filter.exists(_.skipLoadNode(info.metadatas, label))
    def skipEdge(edgeType: String, cfg: EdgeFileConfig): Boolean =
      store.filter.exists(_.skipLoadEdge(cfg.metadatas, edgeType))

    loader match {
      case l: InSessionLoader =>
        val counts = new BoundedJobs[Long](spark)
        val pending = mutable.ArrayBuffer.empty[(String, ThreadBridge.Pending[Long])]
        def count(stat: String, rows: DataFrame): Unit =
          pending += stat -> counts.submit(InSessionLoader.count(rows))
        try {
          store.catalog.nodes.foreach { case (label, cfg) =>
            val (skipped, kept) = cfg.files.toSeq.partition { case (_, info) => skipNode(label, info) }
            // a deliberately-excluded label is not a missing one: let the
            // loader treat later match-strategy edge references to it as
            // empty (external-DB parity) instead of failing fast
            if (skipped.nonEmpty) l.markNodesSkipped(label)
            if (kept.nonEmpty) count(s"loaded_nodes_$label", l.ingestNodes(
              kept.map { case (f, info) => store.nodesDir.resolve(f).toString -> info.metadatas },
              label, cfg.primary_key, cfg.properties_type))
          }
          // a label referenced by edges but absent from the node catalog (e.g.
          // its source produced zero rows) is not a load-order bug: declare it
          // so match-strategy loads treat it as MATCH-finds-nothing
          store.catalog.edges.values.flatten.foreach { case (_, cfg) =>
            Seq(cfg.start, cfg.end).map(_.split(":")(0)).foreach { label =>
              if (!store.catalog.nodes.contains(label)) l.markNodesSkipped(label)
            }
          }
          store.catalog.edges.foreach { case (edgeType, files) =>
            val kept = files.toSeq.filterNot { case (_, cfg) => skipEdge(edgeType, cfg) }
            if (kept.nonEmpty) count(s"loaded_edges_$edgeType", l.ingestEdges(
              kept.map { case (f, cfg) => store.edgesDir.resolve(f).toString -> cfg }, edgeType))
          }
          pending.foreach { case (stat, job) => record(stat, job.await()) }
        } finally counts.close()
      case _ =>
        val loaded = store.loadedFiles
        def loadedInline(stat: String, fname: String, n: Long): Unit = {
          record(stat, n)
          store.logLoaded(fname)
        }
        store.catalog.nodes.foreach { case (label, cfg) =>
          cfg.files.foreach { case (fname, info) =>
            if (!skipNode(label, info) && !loaded.contains(fname))
              loadedInline(s"loaded_nodes_$label", fname, loader.loadNodes(store.nodesDir.resolve(fname).toString,
                label, cfg.primary_key, info.metadatas, cfg.properties_type, cfg.constraints, cfg.indexs))
          }
        }
        store.catalog.edges.foreach { case (edgeType, files) =>
          files.foreach { case (fname, cfg) =>
            if (!skipEdge(edgeType, cfg) && !loaded.contains(fname))
              loadedInline(s"loaded_edges_$edgeType", fname, loader.loadEdges(store.edgesDir.resolve(fname).toString,
                edgeType, cfg.start, cfg.end, cfg.metadatas, cfg.properties_type))
          }
        }
    }
    store.callbacks.foreach(_.save(store.catalog, outputDir))
    store.clearLoaderLog()
  }

  /** clear (utils.py:177-189): remove the whole staging area. */
  def clear(): Unit = {
    Context.deleteRecursively(Paths.get(outputDir))
    store.catalog = Catalog()
    store.stats.clear()
    initialized = false
    parsed = false
  }
}
