package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

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
  * file on every load. It offers each file in two steps: `ingestNodes` /
  * `ingestEdges` merge the file into the loaded graph on the caller thread,
  * in catalog order, and return the file's rows; `load` counts those rows
  * as a concurrent Spark job (`loadNodes`/`loadEdges` are the two steps
  * run inline). */
trait InSessionLoader { self: Loader =>
  /** Record that a node label's files were deliberately excluded (store
    * filter), so a later match-strategy edge load referencing it means
    * "endpoints absent" (empty result, external-DB parity) rather than a
    * load-order bug (fail fast). */
  def markNodesSkipped(label: String): Unit

  /** Merge one node file; returns its rows, whose count is its loaded count. */
  def ingestNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): DataFrame

  /** Merge one edge file; returns its loaded rows, whose count is its loaded
    * count. */
  def ingestEdges(
      filePath: String, edgeType: String, start: String, end: String,
      propertiesType: Map[String, String]): DataFrame
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
  * The staged files are read once. Like the reference's database, which
  * every later query reads instead of the CSVs (pipeline.py:134-188), the
  * loaded graph is pinned in Spark's cache (`Dataset.persist`,
  * MEMORY_AND_DISK): each label's merged node frame from its first use
  * after its last change, and each edge file's loaded rows from its count.
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

  /** Each label's merged node frame, deduplicated on `id`; written only
    * through [[setNodes]]. */
  private val nodeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  /** The persisted node frame of each label used since its last change. */
  private val nodePins = mutable.Map.empty[String, DataFrame]
  private val edgeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  private val skippedLabels = mutable.Set.empty[String]

  /** Files already merged into this instance's frames; an edge file maps to
    * its persisted loaded rows. Makes load() idempotent per loader
    * instance: `GraphEtl.load` offers every catalog file on each call, so a
    * second load() on the same loader would otherwise re-union every file's
    * rows (nodes survive via dropDuplicates("id"); edges and as_edge
    * HAS_METADATA edges would not). */
  private val ingestedNodeFiles = mutable.Set.empty[String]
  private val ingestedEdgeFiles = mutable.Map.empty[String, DataFrame]

  override def markNodesSkipped(label: String): Unit = skippedLabels += label

  private def setNodes(label: String, frame: DataFrame): Unit = {
    nodeFrames(label) = frame
    nodePins.remove(label).foreach(_.unpersist())
  }

  override def loadNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String],
      constraints: Seq[String], indexs: Seq[String]): Long =
    ingestNodes(filePath, label, primaryKey, metadatas, propertiesType).count()

  /** Merge one node file into the label's frame; returns the per-file
    * frame (pre-merge), whose count is this file's loaded count. */
  override def ingestNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): DataFrame = {
    val df0 = StagedCsv.readFile(spark, java.nio.file.Paths.get(filePath), propertiesType)
      .withColumn("id", col(primaryKey).cast(StringType)) // §2.12.3 canonical id
    // already merged by this instance (a prior load()): report the
    // per-file frame for counting, mutate nothing
    if (ingestedNodeFiles.contains(filePath)) return df0
    val df = metadataStrategy match {
      case "as_property" =>
        metadatas.foldLeft(df0) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
      case "as_edge" if metadatas.nonEmpty =>
        // one Metadata node per distinct metadata map; values stringified
        // like the reference (neo4j_loader.py:155-156)
        val metaId = metadatas.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|")
        val metaNode = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(metaId)),
          org.apache.spark.sql.types.StructType(Seq(StructField("id", StringType))))
        val withProps = metadatas.foldLeft(metaNode) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
        setNodes("Metadata", nodeFrames.get("Metadata") match {
          case Some(prev) => prev.unionByName(withProps, allowMissingColumns = true).dropDuplicates("id")
          case None => withProps
        })
        val metaEdges = df0.select(
          col("id").cast(StringType).as("src"), lit(metaId).as("dst"),
          lit(label).as("start_label"), lit("Metadata").as("end_label"))
        edgeFrames("HAS_METADATA") = edgeFrames.get("HAS_METADATA") match {
          case Some(prev) => prev.unionByName(metaEdges, allowMissingColumns = true)
          case None => metaEdges
        }
        df0
      case _ => df0
    }
    val merged = nodeFrames.get(label) match {
      case Some(prev) => prev.unionByName(df, allowMissingColumns = true)
        .dropDuplicates("id") // MERGE-on-id upsert semantics (unique constraint K8)
      case None => df.dropDuplicates("id")
    }
    setNodes(label, merged)
    ingestedNodeFiles += filePath
    df
  }

  override def loadEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Long =
    ingestEdges(filePath, edgeType, start, end, propertiesType).count()

  /** Merge one edge file into its type's frame; returns the file's loaded
    * rows, persisted, so its count fills the pin the edge frame reads. A
    * file this instance already merged returns the same pin and mutates
    * nothing. */
  override def ingestEdges(
      filePath: String, edgeType: String, start: String, end: String,
      propertiesType: Map[String, String]): DataFrame = {
    if (ingestedEdgeFiles.contains(filePath)) return ingestedEdgeFiles(filePath)
    val startLabel = start.split(":")(0)
    val endLabel = end.split(":")(0)
    val df = StagedCsv.readFile(spark, java.nio.file.Paths.get(filePath), propertiesType)
      .where(col("start").isNotNull && col("end").isNotNull &&
        col("start").cast(StringType) =!= "" && col("end").cast(StringType) =!= "") // P8
      .withColumn("src", col("start").cast(StringType))
      .withColumn("dst", col("end").cast(StringType))

    val resolved = (edgeStrategy match {
      case "match" =>
        // both endpoints must exist (neo4j MATCH): two semi-joins against
        // the pinned label tables (deduped on id) — broadcast when small via AQE
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
      case "create" =>
        // synthesize missing endpoints as BlankNodes (left-anti + union);
        // once `df` is pinned below, the blanks read its pin
        def ensure(label: String, idCol: String): Unit = {
          val ids = df.select(col(idCol).as("id")).distinct()
          val missing = nodeFrames.get(label) match {
            case Some(existing) => ids.join(existing.select("id"), Seq("id"), "left_anti")
            case None => ids
          }
          val blanks = missing.withColumn("is_blank_node", lit(true))
          setNodes(label, nodeFrames.get(label) match {
            case Some(existing) =>
              existing.unionByName(blanks, allowMissingColumns = true).dropDuplicates("id")
            case None => blanks
          })
        }
        ensure(startLabel, "src")
        ensure(endLabel, "dst")
        df
      case other => throw new IllegalArgumentException(s"unknown edge strategy '$other'")
    }).persist(StorageLevel.MEMORY_AND_DISK)

    val tagged = resolved
      .withColumn("start_label", lit(startLabel))
      .withColumn("end_label", lit(endLabel))
    edgeFrames(edgeType) = edgeFrames.get(edgeType) match {
      case Some(prev) => prev.unionByName(tagged, allowMissingColumns = true)
      case None => tagged
    }
    ingestedEdgeFiles(filePath) = resolved
    resolved
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
