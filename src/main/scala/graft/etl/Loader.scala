package graft.etl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * database holds the nodes between runs). On resume, `GraphEtl.load` skips
  * files listed in the loader resume log — correct for an external DB that
  * already has them, but an in-session loader must rebuild its node frames
  * for those files or `match`-strategy edge loads find no endpoints.
  * `restoreNodes` re-ingests a node file without re-counting it (the
  * catalog already has its stats). */
trait InSessionLoader { self: Loader =>
  def restoreNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Unit

  /** Record that a node label's files were deliberately excluded (store
    * filter), so a later match-strategy edge load referencing it means
    * "endpoints absent" (empty result, external-DB parity) rather than a
    * load-order/resume bug (fail fast). */
  def markNodesSkipped(label: String): Unit

  /** Re-ingest an already-loaded (resume-logged) edge file without
    * re-counting — the edge counterpart of [[restoreNodes]]: an external
    * DB still holds those edges across runs, an in-session loader must
    * rebuild them. */
  def restoreEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Unit
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

  private val nodeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  private val edgeFrames = mutable.LinkedHashMap.empty[String, DataFrame]
  private val skippedLabels = mutable.Set.empty[String]

  /** Files already merged into this instance's frames. Makes load()/restore
    * idempotent per loader instance: `GraphEtl.load` clears the resume log on
    * success, so a second load() on the same loader would otherwise re-union
    * every file's rows (nodes survive via dropDuplicates("id"); edges and
    * as_edge HAS_METADATA edges would not). */
  private val ingestedFiles = mutable.Set.empty[String]

  override def markNodesSkipped(label: String): Unit = skippedLabels += label

  override def loadNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String],
      constraints: Seq[String], indexs: Seq[String]): Long =
    ingestNodes(filePath, label, primaryKey, metadatas, propertiesType).count()

  /** Rebuild the in-memory frame for an already-loaded (resume-logged) node
    * file: same merge as [[loadNodes]], no count action. */
  override def restoreNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Unit =
    ingestNodes(filePath, label, primaryKey, metadatas, propertiesType)

  /** Shared node-ingest pipeline; returns the per-file frame (pre-merge)
    * so `loadNodes` can report this file's row count. */
  private def ingestNodes(
      filePath: String, label: String, primaryKey: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): DataFrame = {
    val df0 = StagedCsv.readFile(spark, java.nio.file.Paths.get(filePath), propertiesType)
      .withColumn("id", col(primaryKey).cast(StringType)) // §2.12.3 canonical id
    // already merged by this instance (restored, or a prior load() whose log
    // was cleared): report the per-file frame for counting, mutate nothing
    if (ingestedFiles.contains(filePath)) return df0
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
        nodeFrames("Metadata") = nodeFrames.get("Metadata") match {
          case Some(prev) => prev.unionByName(withProps, allowMissingColumns = true).dropDuplicates("id")
          case None => withProps
        }
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
    nodeFrames(label) = merged
    invalidateIdSet(label)
    ingestedFiles += filePath
    df
  }

  override def loadEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Long =
    ingestEdges(filePath, edgeType, start, end, propertiesType).count()

  override def restoreEdges(
      filePath: String, edgeType: String, start: String, end: String,
      metadatas: Map[String, String], propertiesType: Map[String, String]): Unit =
    ingestEdges(filePath, edgeType, start, end, propertiesType)

  /** Distinct endpoint-id set per label, cached across edge files —
    * without this every loadEdges count re-reads all node CSVs of both
    * endpoint labels (the semi-join recomputes the merged node lineage).
    * Invalidated whenever the label's node frame changes. */
  private val idSetCache = mutable.Map.empty[String, DataFrame]

  private def invalidateIdSet(label: String): Unit =
    idSetCache.remove(label).foreach(_.unpersist())

  private def idSet(label: String): Option[DataFrame] =
    nodeFrames.get(label).map { frame =>
      idSetCache.getOrElseUpdate(label, {
        val ids = frame.select(col("id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ids
      })
    }

  private def ingestEdges(
      filePath: String, edgeType: String, start: String, end: String,
      propertiesType: Map[String, String]): DataFrame = {
    val startLabel = start.split(":")(0)
    val endLabel = end.split(":")(0)
    val df = StagedCsv.readFile(spark, java.nio.file.Paths.get(filePath), propertiesType)
      .where(col("start").isNotNull && col("end").isNotNull &&
        col("start").cast(StringType) =!= "" && col("end").cast(StringType) =!= "") // P8
      .withColumn("src", col("start").cast(StringType))
      .withColumn("dst", col("end").cast(StringType))

    // already merged by this instance: recount without mutating any frame
    // (for "create" the first ingest synthesized missing endpoints, so the
    // whole filtered file counts; for "match" re-run the side-effect-free
    // semi-joins against the now-present id sets)
    if (ingestedFiles.contains(filePath)) {
      val counted = edgeStrategy match {
        case "match" =>
          (idSet(startLabel).map(_.select(col("id").as("src"))),
            idSet(endLabel).map(_.select(col("id").as("dst")))) match {
            case (Some(s), Some(d)) =>
              df.join(s, Seq("src"), "left_semi").join(d, Seq("dst"), "left_semi")
            case _ => df.limit(0)
          }
        case _ => df
      }
      return counted
    }

    val resolved = edgeStrategy match {
      case "match" =>
        // both endpoints must exist (neo4j MATCH): two semi-joins; node-id
        // sides are deduped label tables — broadcast when small via AQE
        val srcIds = idSet(startLabel).map(_.select(col("id").as("src")))
        val dstIds = idSet(endLabel).map(_.select(col("id").as("dst")))
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
              // an unexplained missing frame means a load-order/resume bug
              // that would silently drop every edge in this file. Fail fast.
              throw new IllegalStateException(
                s"edge load '$edgeType' with strategy=match references node label(s) " +
                  s"[${missing.mkString(", ")}] with no loaded node frame — load the node " +
                  "files first (on resume, GraphEtl.load restores them via " +
                  "InSessionLoader.restoreNodes; filter-skipped labels must be declared " +
                  "via markNodesSkipped)")
            }
        }
      case "create" =>
        // synthesize missing endpoints as BlankNodes (left-anti + union)
        def ensure(label: String, idCol: String): Unit = {
          val ids = df.select(col(idCol).as("id")).distinct()
          val missing = nodeFrames.get(label) match {
            case Some(existing) => ids.join(existing.select("id"), Seq("id"), "left_anti")
            case None => ids
          }
          val blanks = missing.withColumn("is_blank_node", lit(true))
          nodeFrames(label) = nodeFrames.get(label) match {
            case Some(existing) =>
              existing.unionByName(blanks, allowMissingColumns = true).dropDuplicates("id")
            case None => blanks
          }
        }
        ensure(startLabel, "src")
        ensure(endLabel, "dst")
        invalidateIdSet(startLabel)
        invalidateIdSet(endLabel)
        df
      case other => throw new IllegalArgumentException(s"unknown edge strategy '$other'")
    }

    val tagged = resolved
      .withColumn("start_label", lit(startLabel))
      .withColumn("end_label", lit(endLabel))
    edgeFrames(edgeType) = edgeFrames.get(edgeType) match {
      case Some(prev) => prev.unionByName(tagged, allowMissingColumns = true)
      case None => tagged
    }
    ingestedFiles += filePath
    tagged
  }

  /** All loaded nodes as one frame: (label, id, …union of props). */
  def nodes: Option[DataFrame] = nodeFrames.map { case (l, df) =>
    df.withColumn("label", lit(l))
  }.reduceOption(_.unionByName(_, allowMissingColumns = true))

  /** All loaded edges as one frame: (type, src, dst, …props). */
  def edges: Option[DataFrame] = edgeFrames.map { case (t, df) =>
    df.withColumn("type", lit(t))
  }.reduceOption(_.unionByName(_, allowMissingColumns = true))

  def nodeTable(label: String): Option[DataFrame] = nodeFrames.get(label)
  def edgeTable(edgeType: String): Option[DataFrame] = edgeFrames.get(edgeType)
}
