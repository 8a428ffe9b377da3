package graft.etl

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The one reader for staged `;`-separated CSV files, shared by the mapping
  * passes and the in-session loader. The schema comes from the catalog
  * types, so a read runs no inference job. */
private[etl] object StagedCsv {

  /** Header order from the file itself (cheap: one line on the driver),
    * falling back to the catalog key order — a header probe without a
    * data scan. */
  def header(p: Path, fallback: => List[String]): List[String] =
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
    * header column missing from the catalog reads as string (happens when
    * resuming from a crash between a mapping rewrite and the catalog
    * persist — the read stays usable and the mapping re-run is
    * idempotent). */
  def read(
      spark: SparkSession, cols: List[String],
      propertiesType: Map[String, String], paths: Seq[Path]): DataFrame = {
    val schema = StructType(cols.map(c =>
      StructField(c, propertiesType.get(c).map(Catalog.sparkType).getOrElse(StringType))))
    spark.read.option("sep", ";").option("header", "true").schema(schema)
      .csv(paths.map(_.toString): _*)
  }

  /** One staged file, read with a schema in its own header order. */
  def readFile(spark: SparkSession, p: Path, propertiesType: Map[String, String]): DataFrame =
    read(spark, header(p, propertiesType.keys.toList), propertiesType, Seq(p))
}
