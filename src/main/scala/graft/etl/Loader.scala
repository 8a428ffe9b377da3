package graft.etl

import java.nio.file.Paths
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

/** Bulk-load extension point — same shape as the reference's `Loader` ABC
  * (graph_etl/loader.py:5-37). Returns rows loaded. */
trait Loader {
  def loadNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String],
      constraints: Seq[String], indexs: Seq[String]): Long

  def loadEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Long
}

/** A loader whose loaded state lives only in this JVM session (no external
  * database holds the nodes between runs). `GraphEtl.load` neither reads
  * nor writes the loader resume log for it: it is offered every catalog
  * file on every load, a label's (or an edge type's) loadable files at
  * once. `ingestNodes`/`ingestEdges` merge them into the loaded graph on the
  * caller thread, in catalog order, and return rows whose count is the
  * label's (type's) loaded count; `load` counts those rows as a concurrent
  * Spark job with [[InSessionLoader.count]] (`loadNodes`/`loadEdges` are
  * the two steps for one file, run inline). */
trait InSessionLoader { self: Loader =>
  /** Record that a node label's files were deliberately excluded (store
    * filter), so a later match-strategy edge load referencing it means
    * "endpoints absent" (empty result, external-DB parity) rather than a
    * load-order bug (fail fast). */
  def markNodesSkipped(label: String): Unit

  /** Merge a label's files, given as (path, metadatas) in catalog order;
    * returns their rows before any dedup on `id`, whose count is the
    * label's loaded count. */
  def ingestNodes(
      files: Seq[(String, Map[String, String])], label: String, primaryKey: String,
      propertiesType: Map[String, String]): DataFrame

  /** Merge an edge type's files, given as (path, catalog entry) in catalog
    * order; returns the loaded rows, whose count is the type's loaded
    * count. */
  def ingestEdges(files: Seq[(String, EdgeFileConfig)], edgeType: String): DataFrame
}

object InSessionLoader {
  /** The number of `rows` in one Spark job: a zero-column projection has no
    * aggregate, so no partial-count stage, and a pinned `rows` is filled by
    * that same job. */
  def count(rows: DataFrame): Long = rows.select().queryExecution.toRdd.count()
}

/** Executable in-session loader: staged files become two governed DataFrame
  * tables, `nodes(label, id, …props)` and `edges(type, src, dst, …props)`,
  * ready for GraphX materialization (graft.graph.GraphOps).
  *
  * Replaces the reference's server-side bulk load (neo4j_loader.py /
  * tigergraph_loader.py) with the Spark-native equivalent: executors read
  * the staged files directly — the same "don't ship rows through the
  * driver/API" rationale as the reference's `file:/` URLs (setup.py:16).
  *
  * A label (an edge type) is ingested as a whole: its files with one
  * header (and, for the metadata strategies that read it, one metadata
  * map) are one multi-file scan ([[StagedCsv.readAll]]), so a label staged
  * as N chunk files is a handful of scans, not an N-deep union. The staged
  * files are read once. Like the reference's database, which every later
  * query reads instead of the CSVs (pipeline.py:134-188), the loaded graph
  * is pinned in Spark's cache (`Dataset.persist`, MEMORY_AND_DISK):
  *   - a label's rows are deduplicated on `id` (MERGE-on-id upsert, unique
  *     constraint K8) only where they can repeat one: the label has more
  *     than one file, new files merge into an earlier load, or the key is a
  *     timestamp, which staging writes at millisecond precision. Otherwise
  *     the pin is the plain scan, returned for counting, so one job reads
  *     the files, fills the pin and counts it. A deduplicated label is
  *     pinned at its first use after its last change;
  *   - an edge type's loaded rows are one pin, planned without adaptive
  *     execution and returned for counting, so one job past its endpoint
  *     broadcasts fills and counts it.
  * `nodes`, `edges`, `nodeTable`, `edgeTable` and the match-strategy
  * semi-joins all read these pins. A pin lives until its label changes or
  * `spark.catalog.clearCache()`; after that the same frames re-read the
  * files and give the same rows.
  *
  * Reference-quirk parity (SURVEY §2.12.3): the primary-key *value* is
  * canonicalized under the property name `id` regardless of `primaryKey`
  * (neo4j_loader.py:161,170 hardcodes `{id: row.{primary_key}}`).
  *
  * @param edgeStrategy `"match"` drops edges whose endpoints are missing
  *   (Neo4j MATCH, neo4j_loader.py:265-268); `"create"` synthesizes missing
  *   endpoint nodes marked `BlankNode` (MERGE … :BlankNode, :270-276).
  */
final class SparkGraphLoader(
    spark: SparkSession,
    edgeStrategy: String = "match",
    /** "as_property": metadata keys become literal node columns (the
      * reference's `SET n += {metadatas}`, neo4j_loader.py:162-165);
      * "as_edge": one `Metadata` node per distinct metadata map plus a
      * `HAS_METADATA` edge from every loaded node (:168-175);
      * "ignore": drop metadata (default — keeps node schemas narrow). */
    metadataStrategy: String = "ignore") extends Loader with InSessionLoader {

  /** Each label's merged node frame, unique on `id`; written only through
    * [[setNodes]]. */
  private val nodeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  /** The persisted node frame of each label used since its last change. */
  private val nodePins = mutable.Map.empty[String, DataFrame]
  private val edgeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  private val skippedLabels = mutable.Set.empty[String]

  /** Files already merged into this instance's frames; an edge file maps to
    * the pin that holds its loaded rows. Makes load() idempotent per loader
    * instance: `GraphEtl.load` offers every catalog file on each call, so a
    * second load() on the same loader would otherwise re-union every file's
    * rows (nodes survive via dropDuplicates("id"); edges and as_edge
    * HAS_METADATA edges would not). */
  private val ingestedNodeFiles = mutable.Set.empty[String]
  private val ingestedEdgeFiles = mutable.Map.empty[String, DataFrame]

  /** This session's conf with adaptive execution off; the edge pins are
    * planned there, so a type's count is one job past its endpoint
    * broadcasts. */
  private lazy val nonAdaptive = GraphOps.confClone(spark, "spark.sql.adaptive.enabled" -> "false")

  override def markNodesSkipped(label: String): Unit = skippedLabels += label

  private def setNodes(label: String, frame: DataFrame): Unit = {
    nodeFrames(label) = frame
    nodePins.remove(label).foreach(_.unpersist())
  }

  private def union(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  override def loadNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String],
      constraints: Seq[String], indexs: Seq[String]): Long =
    InSessionLoader.count(ingestNodes(Seq(filePath -> metadatas), label, primaryKey, propertiesType))

  /** The staged rows of `files` with the canonical `id`, one part per
    * metadata map the strategy reads (as_property adds it as literal
    * columns), each part one scan per header. */
  private def nodeRows(
      files: Seq[(String, Map[String, String])], primaryKey: String,
      propertiesType: Map[String, String]): Seq[(Map[String, String], DataFrame)] =
    files.groupBy { case (_, m) => if (metadataStrategy == "ignore") Map.empty[String, String] else m }
      .toSeq.sortBy(_._2.head._1)
      .map { case (metadatas, part) =>
        val rows = StagedCsv.readAll(spark, part.map(f => Paths.get(f._1)), propertiesType)
          .withColumn("id", col(primaryKey).cast(StringType)) // §2.12.3 canonical id
        metadatas -> (if (metadataStrategy != "as_property") rows
          else metadatas.foldLeft(rows) { case (d, (k, v)) => d.withColumn(k, lit(v)) })
      }

  /** as_edge: one Metadata node for `metadatas` and a HAS_METADATA edge from
    * every row of `rows`; values stringified like the reference
    * (neo4j_loader.py:155-156). */
  private def linkMetadata(label: String, metadatas: Map[String, String], rows: DataFrame): Unit = {
    val metaId = metadatas.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|")
    val metaNode = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(metaId)), StructType(Seq(StructField("id", StringType))))
    val withProps = metadatas.foldLeft(metaNode) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
    setNodes("Metadata", nodeFrames.get("Metadata") match {
      case Some(prev) => prev.unionByName(withProps, allowMissingColumns = true).dropDuplicates("id")
      case None => withProps
    })
    val metaEdges = rows.select(
      col("id").as("src"), lit(metaId).as("dst"),
      lit(label).as("start_label"), lit("Metadata").as("end_label"))
    edgeFrames("HAS_METADATA") = edgeFrames.get("HAS_METADATA") match {
      case Some(prev) => prev.unionByName(metaEdges, allowMissingColumns = true)
      case None => metaEdges
    }
  }

  /** Merge the label's files this instance has not merged yet. Files it
    * already merged (a prior load()) are only counted: their rows are
    * returned and nothing changes. */
  override def ingestNodes(
      files: Seq[(String, Map[String, String])], label: String, primaryKey: String,
      propertiesType: Map[String, String]): DataFrame = {
    val fresh = files.filterNot { case (f, _) => ingestedNodeFiles.contains(f) }
    if (fresh.isEmpty) return union(nodeRows(files, primaryKey, propertiesType).map(_._2))
    val parts = nodeRows(fresh, primaryKey, propertiesType)
    if (metadataStrategy == "as_edge")
      parts.foreach { case (metadatas, rows) => if (metadatas.nonEmpty) linkMetadata(label, metadatas, rows) }
    val rows = union(parts.map(_._2))
    ingestedNodeFiles ++= fresh.map(_._1)
    // a staged file is unique on its key (`Normalize` dedups before
    // chunking, and strings stage verbatim): only a second file or a key
    // whose staged text is lossy can repeat an id
    val mayRepeat = fresh.size > 1 || propertiesType.get(primaryKey).exists(SparkGraphLoader.LossyKeyTypes)
    nodeFrames.get(label) match {
      case None if !mayRepeat =>
        val pin = rows.persist(StorageLevel.MEMORY_AND_DISK)
        setNodes(label, pin)
        nodePins(label) = pin
        pin
      case prev =>
        setNodes(label, prev.fold(rows)(_.unionByName(rows, allowMissingColumns = true)).dropDuplicates("id"))
        rows
    }
  }

  override def loadEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Long =
    InSessionLoader.count(ingestEdges(
      Seq(filePath -> EdgeFileConfig(start, end, propertiesType, metadatas = metadatas)), edgeType))

  /** One group of an edge type's files (one endpoint-label pair and one
    * catalog schema), scanned and resolved against the loaded nodes. */
  private def resolvedEdges(
      edgeType: String, startLabel: String, endLabel: String,
      propertiesType: Map[String, String], paths: Seq[String]): DataFrame = {
    val df = StagedCsv.readAll(spark, paths.map(Paths.get(_)), propertiesType)
      .where(col("start").isNotNull && col("end").isNotNull &&
        col("start").cast(StringType) =!= "" && col("end").cast(StringType) =!= "") // P8
      .withColumn("src", col("start").cast(StringType))
      .withColumn("dst", col("end").cast(StringType))
    val resolved = edgeStrategy match {
      case "match" =>
        // both endpoints must exist (neo4j MATCH): two semi-joins against
        // the pinned label tables (unique on id), broadcast when their size
        // estimate is small (the pin is planned without adaptive execution)
        val srcIds = nodeTable(startLabel).map(_.select(col("id").as("src")))
        val dstIds = nodeTable(endLabel).map(_.select(col("id").as("dst")))
        (srcIds, dstIds) match {
          case (Some(s), Some(d)) =>
            df.join(s, Seq("src"), "left_semi").join(d, Seq("dst"), "left_semi")
          case _ =>
            val missing = Seq(startLabel -> srcIds, endLabel -> dstIds)
              .collect { case (l, None) => l }
            if (missing.forall(skippedLabels.contains)) {
              // the label's node files were deliberately filter-skipped:
              // external-DB parity is MATCH-finds-nothing
              df.limit(0)
            } else {
              // In an external DB, MATCH against an absent label just finds
              // nothing; in-session there is no out-of-band node store, so
              // an unexplained missing frame means a load-order bug that
              // would silently drop every edge in this file. Fail fast.
              throw new IllegalStateException(
                s"edge load '$edgeType' with strategy=match references node label(s) " +
                  s"[${missing.mkString(", ")}] with no loaded node frame — load the node " +
                  "files first (filter-skipped labels must be declared via markNodesSkipped)")
            }
        }
      case "create" => df
      case other => throw new IllegalArgumentException(s"unknown edge strategy '$other'")
    }
    resolved.withColumn("start_label", lit(startLabel)).withColumn("end_label", lit(endLabel))
  }

  /** create: synthesize the endpoints of `pin` that `label` lacks as
    * BlankNodes (left-anti + union), reading the pin. */
  private def ensureEndpoints(label: String, pin: DataFrame, labelCol: String, idCol: String): Unit = {
    val ids = pin.where(col(labelCol) === label).select(col(idCol).as("id")).distinct()
    val missing = nodeFrames.get(label) match {
      case Some(existing) => ids.join(existing.select("id"), Seq("id"), "left_anti")
      case None => ids
    }
    val blanks = missing.withColumn("is_blank_node", lit(true))
    setNodes(label, nodeFrames.get(label) match {
      case Some(existing) => existing.unionByName(blanks, allowMissingColumns = true).dropDuplicates("id")
      case None => blanks
    })
  }

  /** Merge the type's files this instance has not merged yet as one pin.
    * Returns the pins that hold `files`, so a file this instance already
    * merged is counted again and nothing changes. */
  override def ingestEdges(files: Seq[(String, EdgeFileConfig)], edgeType: String): DataFrame = {
    val fresh = files.filterNot { case (f, _) => ingestedEdgeFiles.contains(f) }
    if (fresh.nonEmpty) {
      def labelOf(spec: String): String = spec.split(":")(0)
      val groups = fresh.groupBy { case (_, c) => (labelOf(c.start), labelOf(c.end), c.properties_type) }
        .toSeq.sortBy(_._2.head._1)
      val pin = union(groups.map { case ((startLabel, endLabel, types), part) =>
        resolvedEdges(edgeType, startLabel, endLabel, types, part.map(_._1))
      })
      // cached through the non-adaptive clone (the cache is shared, so
      // `pin` reads it): an adaptive cached plan would make every read of
      // the pin, its count included, run a cache-stage job first, and wrap
      // each node pin its semi-joins read in a cache stage of its own
      DatasetBridge.ofRows(nonAdaptive, pin.queryExecution.analyzed).persist(StorageLevel.MEMORY_AND_DISK)
      if (edgeStrategy == "create")
        groups.flatMap { case ((s, e, _), _) => Seq((s, "start_label", "src"), (e, "end_label", "dst")) }
          .distinct.foreach { case (label, labelCol, idCol) => ensureEndpoints(label, pin, labelCol, idCol) }
      edgeFrames(edgeType) = edgeFrames.get(edgeType).fold(pin)(_.unionByName(pin, allowMissingColumns = true))
      fresh.foreach { case (f, _) => ingestedEdgeFiles(f) = pin }
    }
    union(files.map { case (f, _) => ingestedEdgeFiles(f) }.distinct)
  }

  /** All loaded nodes as one frame: (label, id, …union of props). */
  def nodes: Option[DataFrame] = nodeFrames.keys.toSeq.map { l =>
    nodeTable(l).get.withColumn("label", lit(l))
  }.reduceOption(_.unionByName(_, allowMissingColumns = true))

  /** All loaded edges as one frame: (type, src, dst, …props). */
  def edges: Option[DataFrame] = edgeFrames.map { case (t, df) =>
    df.withColumn("type", lit(t))
  }.reduceOption(_.unionByName(_, allowMissingColumns = true))

  /** The label's node frame, pinned at its first use after its last change. */
  def nodeTable(label: String): Option[DataFrame] = nodeFrames.get(label).map(frame =>
    nodePins.getOrElseUpdate(label, frame.persist(StorageLevel.MEMORY_AND_DISK)))

  def edgeTable(edgeType: String): Option[DataFrame] = edgeFrames.get(edgeType)
}

object SparkGraphLoader {
  /** Catalog key types whose staged text can repeat for distinct values:
    * staging writes timestamps at millisecond precision. */
  private val LossyKeyTypes = Set("Datetime", "timestamp_ntz")
}
