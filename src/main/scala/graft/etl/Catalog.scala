package graft.etl

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.Serialization

/** Metadata catalog — the engine's replacement for the reference's single
  * JSON document `./output/configs/configs.json` held as a DotWiz dict
  * (reference: graph_etl/utils.py:61-64 initial shape, 99-119 updates,
  * 81-82 persistence).
  *
  * Shape (the reference's, plus three fields):
  * {{{
  * { "nodes": { label -> { primary_key, constraints, indexs,
  *                         properties_type, files { fname -> {metadatas, count} } } },
  *   "edges": { type  -> { fname -> { start, end, properties_type,
  *                                    ignore_mapping, metadatas, count, mapped } } },
  *   "parsed": [ parser name, ... ],
  *   "mappings": { "Label:prop" -> { properties_type, files: [ fname, ... ] } } }
  * }}}
  * `parsed` lists the parsers whose files are published and `mapped` marks
  * an edge file that has been through the mapping passes; together they
  * replace the reference's parser and mapper resume logs. `mappings` lists
  * the staged `mapIds` frames under `mappings/`, which the reference holds
  * only in memory. A reference `configs.json` lacks all three and loads
  * with the defaults (nothing parsed, mapped or registered). The catalog
  * is the ETL's only record of what is staged: a staged file it does not
  * list is not published ([[StoreInfo]]).
  *
  * The catalog is driver-side only (a few KB) — no Spark jobs touch it.
  * At 100 TB it scales with the number of labels/files, not rows.
  */
final case class NodeFileInfo(metadatas: Map[String, String] = Map.empty, count: Long = 0L)

final case class NodeConfig(
    primary_key: String,
    constraints: List[String] = Nil,
    indexs: List[String] = Nil,
    properties_type: Map[String, String] = Map.empty,
    files: Map[String, NodeFileInfo] = Map.empty)

final case class EdgeFileConfig(
    start: String, // "{Label}:{property}"
    end: String,
    properties_type: Map[String, String] = Map.empty,
    ignore_mapping: Boolean = false,
    metadatas: Map[String, String] = Map.empty,
    count: Long = 0L,
    mapped: Boolean = false)

/** A staged `mapIds` frame: its `old_value`/`new_value` types and files. */
final case class MappingConfig(
    properties_type: Map[String, String] = Map.empty,
    files: List[String] = Nil)

final case class Catalog(
    nodes: Map[String, NodeConfig] = Map.empty,
    edges: Map[String, Map[String, EdgeFileConfig]] = Map.empty,
    parsed: List[String] = Nil,
    mappings: Map[String, MappingConfig] = Map.empty) {

  /** First-file-wins node registration (utils.py:99-107: properties_type is
    * only recorded on first sight of the label; counts accumulate per file). */
  def withNodeFile(
      label: String, primaryKey: String, constraints: List[String], indexs: List[String],
      propertiesType: Map[String, String], fileName: String,
      metadatas: Map[String, String], count: Long): Catalog = {
    val cfg = nodes.getOrElse(label,
      NodeConfig(primaryKey, constraints, indexs, propertiesType))
    val updated = cfg.copy(files = cfg.files + (fileName -> NodeFileInfo(metadatas, count)))
    copy(nodes = nodes + (label -> updated))
  }

  /** Edge file entries are flat under the type with start/end at entry top
    * level (utils.py:110-119 — the authoritative layout; see SURVEY §5
    * staleness caveat on the reference's own tests). */
  def withEdgeFile(
      edgeType: String, fileName: String, start: String, end: String,
      propertiesType: Map[String, String], ignoreMapping: Boolean,
      metadatas: Map[String, String], count: Long): Catalog = {
    val files = edges.getOrElse(edgeType, Map.empty)
    val entry = EdgeFileConfig(start, end, propertiesType, ignoreMapping, metadatas, count)
    copy(edges = edges + (edgeType -> (files + (fileName -> entry))))
  }
}

object Catalog {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def toJson(c: Catalog): String = Serialization.writePretty(c)
  def fromJson(s: String): Catalog = Serialization.read[Catalog](s)

  /** Spark dtype -> catalog type string. The catalog records stringified
    * dtypes the way the reference records stringified Polars dtypes
    * (context.py:112,222); we use the reference's names so loader
    * type-switches (neo4j_loader.py:14-27) translate 1:1. */
  def typeName(dt: DataType): String = dt match {
    case StringType                => "Utf8"
    case LongType                  => "Int64"
    case IntegerType               => "Int32"
    case ShortType                 => "Int16"
    case ByteType                  => "Int8"
    case DoubleType                => "Float64"
    case FloatType                 => "Float32"
    case BooleanType               => "Boolean"
    case DateType                  => "Date"
    case _: TimestampType          => "Datetime"
    // EVERY array stages as a '|'-joined string (Normalize.joinStringArrays
    // casts non-string elements first), so every array must catalog as
    // List(Utf8) — recording e.g. array<bigint> would fall through the
    // loaders' type switches to plain STRING and silently lose the
    // arraySep list handling in Neo4j/TigerGraph
    case _: ArrayType              => "List(Utf8)"
    case other                     => other.simpleString
  }

  def schemaTypes(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> typeName(f.dataType)).toMap

  /** Catalog type string -> Spark type, for re-reading staged CSV without
    * paying a second inference pass (an improvement the catalog enables —
    * the reference re-infers over 100k rows at pipeline.py:53,85,94). */
  def sparkType(name: String): DataType = name match {
    case "Utf8"       => StringType
    case "Int64"      => LongType
    case "Int32"      => IntegerType
    case "Int16"      => ShortType
    case "Int8"       => ByteType
    case "Float64"    => DoubleType
    case "Float32"    => FloatType
    case "Boolean"    => BooleanType
    case "Date"       => DateType
    case "Datetime"   => TimestampType
    case "List(Utf8)" => StringType // flattened to '|'-joined at stage time
    case _            => StringType
  }
}
