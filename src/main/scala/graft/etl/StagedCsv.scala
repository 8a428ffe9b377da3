package graft.etl

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The one reader for staged `;`-separated CSV files, shared by the mapping
  * passes and the in-session loader. The schema comes from the catalog
  * types, so a read runs no inference job. A read keeps leading and
  * trailing whitespace (the reader's default), as staging writes it. */
private[etl] object StagedCsv {

  /** Header order from the file itself (cheap: one line on the driver),
    * falling back to the catalog key order — a header probe without a
    * data scan. */
  private def header(p: Path, fallback: => List[String]): List[String] =
    if (Files.exists(p)) {
      val src = scala.io.Source.fromFile(p.toFile)
      try {
        val it = src.getLines()
        if (it.hasNext) it.next().split(";", -1).toList else fallback
      } finally src.close()
    } else fallback

  /** Read `paths`, which all share the header `cols`. With `header=true` +
    * an explicit schema Spark binds columns positionally, so the schema
    * must follow the files' own header order, never another file's. A
    * header column missing from the catalog reads as string. A crash can no
    * longer cause that: a mapping rewrite used to replace the live file
    * before the catalog recorded its new schema, and now a rewrite and its
    * schema are published by one catalog commit ([[StoreInfo]]). */
  private def read(
      spark: SparkSession, cols: List[String],
      propertiesType: Map[String, String], paths: Seq[Path]): DataFrame = {
    val schema = StructType(cols.map(c =>
      StructField(c, propertiesType.get(c).map(Catalog.sparkType).getOrElse(StringType))))
    spark.read.option("sep", ";").option("header", "true").schema(schema)
      .csv(paths.map(_.toString): _*)
  }

  /** Every file of `paths` as one frame: the files are grouped by
    * IDENTICAL header, each group read as one multi-file scan, and the
    * scans united by name. So a label staged as thousands of same-shape
    * chunk files is a handful of scans, not a thousands-deep `unionByName`
    * plan (linear analysis cost; Spark parallelizes within a multi-file
    * scan). Each group's schema follows its own header order: different
    * parsers may stage one label with different column orders, and a shared
    * positional schema would silently misbind them. The header probe reads
    * one line per file on the driver. No paths (a `mapIds` frame with no
    * rows stages none) read as an empty frame of the catalog columns. */
  def readAll(spark: SparkSession, paths: Seq[Path], propertiesType: Map[String, String]): DataFrame =
    paths.groupBy(p => header(p, propertiesType.keys.toList)).toSeq
      .sortBy(_._2.head.toString) // deterministic union order
      .map { case (cols, group) => read(spark, cols, propertiesType, group) }
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(read(spark, propertiesType.keys.toList, propertiesType, Nil))
}
