package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * One instance per ETL run; holds the driver-side store (catalog, mappings,
  * logs). All data movement is Spark jobs; everything here is metadata.
  *
  * A parser's saves run as concurrent Spark jobs (at most
  * `defaultParallelism` in flight, see [[Context]]); its staged files and
  * catalog entries become visible when its body returns, in call order,
  * before the parser is resume-logged. A body or save that throws
  * publishes nothing and is not logged complete. The mapping rewrites of
  * [[mapProperties]] likewise run concurrently and commit in catalog order.
  *
  * @param strictCompat reproduce the reference's full-outer ghost-edge
  *   mapping joins bug-for-bug (SURVEY §2.12.1); default fixed (left-outer).
  */
final class GraphEtl(
    val spark: SparkSession,
    val outputDir: String = "./output",
    val strictCompat: Boolean = false,
    nodeChunkSize: Long = Context.NodeChunkSize,
    edgeChunkSize: Long = Context.EdgeChunkSize,
    /** bounded-but-uneven chunk files via maxRecordsPerFile — one write
      * pass, no shuffle; the default keeps the reference's exact geometry */
    fastStaging: Boolean = false) {

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
    * filters/callbacks, optionally resume from a persisted catalog. */
  def init(
      filter: Option[GraphFilter] = None,
      callbacks: Seq[SchemaCallback] = Nil,
      loadConfigs: Boolean = false): Unit = {
    store.initDirs()
    store.filter = filter
    store.callbacks = callbacks
    if (loadConfigs) store.loadCatalog()
    initialized = true
  }

  /** Skip/resume guard (utils.py:255-269): skip when already parsed (resume
    * log), explicitly ignored, or a declared source path is missing.
    * Resume keys on the parser *name* (stable across JVMs) rather than the
    * reference's per-instance uuid. */
  private def shouldSkip(p: RegisteredParser): Boolean =
    p.ignore ||
      store.logEntries("parser").contains(p.name) ||
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
    * utils.py:271-283): body runs immediately; mapping runs at block exit —
    * incremental and idempotent-by-rewrite, like the reference. Honors the
    * FULL `_should_skip` guard (utils.py:255-269) exactly like the deferred
    * form: resume log, explicit `ignore`, and any missing declared source
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

  /** Run one parser body, then publish its saves in call order. The
    * resume marker is written only on success — a parser whose body or
    * save threw must re-run on resume, not be skipped as complete. (The
    * reference's __exit__ runs these even on exception, utils.py:278-283;
    * that marks half-staged parsers done, which we deliberately fix.) */
  private def runParser(name: String, metadatas: Map[String, String], body: Context => Unit): Unit = {
    val ctx = new Context(store, metadatas, java.util.UUID.randomUUID().toString.take(8),
      nodeChunkSize, edgeChunkSize, fastStaging)
    val tp = System.nanoTime()
    try { body(ctx); ctx.publish() } finally ctx.discard()
    // per-parser wall time (utils.py:80-97 save_parser_infos logging)
    store.stats(s"parser_time_ms_$name") = (System.nanoTime() - tp) / 1000000
    store.logAppend("parser", name)
    store.persistCatalog()
  }

  // ------------------------------------------------------------------
  // Mapping passes (pipeline.py:48-122)
  // ------------------------------------------------------------------

  /** Read a staged edge file with the catalog-recorded schema — no second
    * inference pass (improvement over pipeline.py:53's 100k-row re-infer). */
  private[etl] def readStagedEdges(fname: String, cfg: EdgeFileConfig): DataFrame =
    StagedCsv.readFile(spark, store.edgesDir.resolve(fname), cfg.properties_type)

  /** Both mapping passes over every staged edge file (pipeline.py:48-122).
    *
    * Pass A — explicit `mapIds` mappings: endpoints whose `"{Label}:{prop}"`
    * spec has a registered mapping are rewritten via join+coalesce.
    * Pass B — automatic pk resolution: endpoints addressing a non-primary
    * property are rewritten to the node primary key; the catalog endpoint is
    * repointed to `Label:{pk}` and the column retyped (pipeline.py:110-111).
    *
    * Every unmapped file is planned on this thread (the pass A/B frames are
    * lazy); the dirty files' dedup/count/write then run as concurrent Spark
    * jobs, each into a temp dir (Spark cannot overwrite its own input —
    * SURVEY §2.2 K3), at most `defaultParallelism` at once. Commits happen
    * in catalog order: per file the rename over the staged file, then the
    * catalog persist, then the mapper-log line.
    */
  def mapProperties(): Unit = {
    val mapped = store.logEntries("mapper")
    // pass-B auto-mappings are identical for every edge file addressing the
    // same (label, prop) — build each once, not per file
    val autoMappings = mutable.Map.empty[(String, String), DataFrame]
    val rewrites = new StagingQueue[() => Unit](spark)
    try {
      val planned = for {
        (edgeType, files) <- store.catalog.edges.toSeq
        (fname, cfg0) <- files.toSeq if !mapped.contains(fname)
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
            store.mappings.get(spec).foreach { mapping =>
              val target = s"${colName}_mapped_from"
              val remapped = Mapping.applyMapping(df, mapping, colName, strictCompat)
              // idempotent re-map: a crash between load() (which clears
              // the mapper log) and the next parse() re-enters this pass
              // on an already-mapped file — overwrite the provenance
              // column instead of duplicating it
              df = (if (remapped.columns.contains(target)) remapped.drop(target) else remapped)
                .withColumnRenamed("mapped_from", target)
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

        val rewrite =
          if (dirty) Some(rewrites.submit("graft-rewrite-")(stageRewrite(edgeType, fname, df, cfg)))
          else None
        (fname, rewrite)
      }

      planned.foreach { case (fname, rewrite) =>
        rewrite.foreach(_.await()())
        store.logAppend("mapper", fname)
      }
    } finally rewrites.close()
    store.persistCatalog()
  }

  /** The Spark half of one edge file's rewrite: dedup, count and write the
    * mapped frame into `tmp`. Returns the commit, which runs on the caller
    * thread in catalog order. */
  private def stageRewrite(edgeType: String, fname: String, df: DataFrame, cfg: EdgeFileConfig)(
      tmp: Path): () => Unit = {
    val deduped = Mapping.dedupEndpoints(df).cache()
    try {
      val newCount = deduped.count()
      deduped.coalesce(1).write
        .option("sep", ";").option("header", "true")
        .mode("overwrite").csv(tmp.toString)
      val part = Context.listDir(tmp).find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"rewrite of $fname produced no file"))
      // record the post-mapping schema (pipeline.py:69,110 retype)
      val mappedCfg = cfg.copy(count = newCount, properties_type = Catalog.schemaTypes(deduped.schema))
      () => {
        Files.move(part, store.edgesDir.resolve(fname), StandardCopyOption.REPLACE_EXISTING)
        store.catalog = store.catalog.copy(edges = store.catalog.edges +
          (edgeType -> (store.catalog.edges(edgeType) + (fname -> mappedCfg))))
        // persist BEFORE the resume marker: a crash between the file
        // rewrite and here is recovered by the idempotent re-map; a
        // marker without a persisted catalog would strand a mapped file
        // behind a stale schema forever
        store.persistCatalog()
      }
    } finally deduped.unpersist()
  }

  /** Concatenated staged node table for a label (used by pass B and the
    * in-session loader). Files are grouped by IDENTICAL header first, so a
    * label staged as thousands of same-shape chunk files becomes a handful
    * of multi-file scans united by name — not a thousands-deep unionByName
    * plan (linear analysis cost, and Spark parallelizes within a multi-file
    * scan). Per-group schemas still follow each group's own header order:
    * different parsers may stage the same label with different column
    * orders, and a shared positional schema would silently misbind them.
    * The header probe reads one line per file on the driver — metadata-
    * scale, and already the price of the previous per-file plan. */
  private[etl] def readStagedNodes(label: String, cfg: NodeConfig): DataFrame =
    cfg.files.keys.toList
      .map(f => store.nodesDir.resolve(f))
      .groupBy(p => StagedCsv.header(p, cfg.properties_type.keys.toList))
      .toList
      .sortBy(_._2.head.toString) // deterministic union order
      .map { case (cols, paths) => StagedCsv.read(spark, cols, cfg.properties_type, paths) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  // ------------------------------------------------------------------
  // load (utils.py:156-175 → pipeline.py:125-199)
  // ------------------------------------------------------------------

  /** Iterate the catalog and hand every staged file to `loader`, honoring
    * filter and resume semantics; clears the resume logs on success.
    *
    * Dead-parameter parity note: the reference's `load` also declares a
    * `clear_source` flag (utils.py:156) that its own implementation never
    * reads (pipeline.py:125 — declared, unused; staged CSVs are never
    * deleted on load). Matching observable behavior, this API omits the
    * parameter rather than carrying a no-op argument. */
  def load(loader: Loader): Unit = {
    if (!parsed && !Files.exists(store.configsPath)) parse()
    if (store.catalog.nodes.isEmpty) store.loadCatalog()
    val loaded = store.logEntries("loader")

    store.catalog.nodes.foreach { case (label, cfg) =>
      cfg.files.foreach { case (fname, info) =>
        val filtered = store.filter.exists(_.skipLoadNode(info.metadatas, label))
        if (filtered) loader match {
          // a deliberately-excluded label is not a missing one: let the
          // in-session loader treat later match-strategy edge references to
          // it as empty (external-DB parity) instead of failing fast
          case l: InSessionLoader => l.markNodesSkipped(label)
          case _ => ()
        }
        if (!filtered && !loaded.contains(fname)) {
          val n = loader.loadNodes(
            store.nodesDir.resolve(fname).toString, label, cfg.primary_key,
            info.metadatas, cfg.properties_type, cfg.constraints, cfg.indexs)
          store.stats(s"loaded_nodes_$label") = store.stats.getOrElse(s"loaded_nodes_$label", 0L) + n
          store.logAppend("loader", fname)
        } else if (!filtered) loader match {
          // resume: the file is already in the external store, but an
          // in-session loader holds node frames only in memory — rebuild
          // them (no re-count) or match-strategy edge loads on this run
          // would find no endpoints and drop edges
          case l: InSessionLoader => l.restoreNodes(
            store.nodesDir.resolve(fname).toString, label, cfg.primary_key,
            info.metadatas, cfg.properties_type)
          case _ => ()
        }
      }
    }
    // a label referenced by edges but absent from the node catalog (e.g.
    // its source produced zero rows) is not a load-order bug: declare it
    // so match-strategy loads treat it as MATCH-finds-nothing
    loader match {
      case l: InSessionLoader =>
        store.catalog.edges.values.flatten.foreach { case (_, cfg) =>
          Seq(cfg.start, cfg.end).map(_.split(":")(0)).foreach { label =>
            if (!store.catalog.nodes.contains(label)) l.markNodesSkipped(label)
          }
        }
      case _ => ()
    }
    store.catalog.edges.foreach { case (edgeType, files) =>
      files.foreach { case (fname, cfg) =>
        val filtered = store.filter.exists(_.skipLoadEdge(cfg.metadatas, edgeType))
        if (!filtered && !loaded.contains(fname)) {
          val n = loader.loadEdges(
            store.edgesDir.resolve(fname).toString, edgeType, cfg.start, cfg.end,
            cfg.metadatas, cfg.properties_type)
          store.stats(s"loaded_edges_$edgeType") = store.stats.getOrElse(s"loaded_edges_$edgeType", 0L) + n
          store.logAppend("loader", fname)
        } else if (!filtered) loader match {
          // resume: same rebuild as restoreNodes, for edge files (an
          // external DB still holds them; in-session frames do not)
          case l: InSessionLoader => l.restoreEdges(
            store.edgesDir.resolve(fname).toString, edgeType, cfg.start, cfg.end,
            cfg.metadatas, cfg.properties_type)
          case _ => ()
        }
      }
    }
    store.callbacks.foreach(_.save(store.catalog, outputDir))
    store.clearLogs()
  }

  /** clear (utils.py:177-189): remove the whole staging area. */
  def clear(): Unit = {
    Context.deleteRecursively(Paths.get(outputDir))
    store.catalog = Catalog()
    store.mappings.clear()
    store.stats.clear()
    initialized = false
    parsed = false
  }
}
