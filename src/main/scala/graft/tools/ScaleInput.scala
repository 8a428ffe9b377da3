package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scaled copy of a test-data dir: `ScaleInput <srcDir> <factor> <outDir>`
  * writes all ten tables as one parquet file each at
  * `<outDir>/<table>.parquet`, the fixture layout, so Verify, Bench and
  * the oracle scripts run on it unchanged. Every table keeps every source
  * column and type (as read through [[graft.sources.Tables]]).
  *
  * Each fact and entity table is the union of `factor` copies; copy 0 is
  * the source verbatim. The construction keeps each workload's per-copy
  * structure, so its volume grows linearly with the factor instead of
  * collapsing onto duplicated rows (SCALE.md's curves rest on these rules):
  *  - every key column, and every FK column that points at it, is shifted
  *    by `i * KeyOffset` in copy `i`: FKs stay closed inside each copy
  *    (an RI audit finds the same orphan share at every factor) and the
  *    per-copy co-purchase graphs are disjoint components;
  *  - copy `i` rotates the alphabet of `documents.text` and `part.p_name`
  *    by `i`, upper and lower case together. A character bijection keeps
  *    shingle-set sizes and within-copy Jaccard structure exactly while
  *    making cross-copy texts disjoint, so near-dup pair volume scales
  *    linearly, not quadratically. `lower()` commutes with the rotation,
  *    and lengths (`n_chars`) are unchanged. Only 26 distinct rotations
  *    exist, hence the factor cap;
  *  - `l_extendedprice` is perturbed per copy, so the count of distinct
  *    prices (what an exact percentile buffers) grows with the factor;
  *  - `nation` and `region` are copied once.
  * Source keys must stay below `KeyOffset`; sf0.1's largest is 149,999. */
object ScaleInput {

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private[graft] val KeyOffset = 100_000_000L
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  private val keyCols = Set("c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
    "o_custkey", "l_orderkey", "l_partkey", "l_suppkey", "event_id", "user_id",
    "doc_id", "vec_id")
  private val rotatedCols = Set("text", "p_name")
  private val copiedOnce = Set("nation", "region")

  private def rotate(c: Column, i: Int): Column = {
    val rot = Alpha.drop(i) + Alpha.take(i)
    translate(c, Alpha + Alpha.toUpperCase, rot + rot.toUpperCase)
  }

  /** Copy `i` of a source table, columns and types in source order. */
  private def copy(df: DataFrame, i: Int): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val v =
        if (keyCols(f.name)) (c + lit(i * KeyOffset)).cast(f.dataType)
        else if (rotatedCols(f.name)) rotate(c, i)
        else if (f.name == "l_extendedprice") c + lit(i * 1e-4)
        else c
      v.as(f.name)
    }: _*)

  /** Write the `factor`-times copy of `srcDir` into `outDir`. Rejects a
    * factor outside 1..26 before anything is written. */
  def write(spark: SparkSession, srcDir: String, factor: Int, outDir: String): Unit = {
    if (factor < 1 || factor > 26)
      throw new IllegalArgumentException(
        s"factor must be in 1..26 (one alphabet rotation per copy), got $factor")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    TableNames.foreach { t =>
      val src = Tables.read(spark, srcDir, t)
      val copies = if (copiedOnce(t)) 1 else factor
      writeOneFile((0 until copies).map(copy(src, _)).reduce(_.unionByName(_)),
        out.resolve(s"$t.parquet"))
    }
  }

  /** One parquet file at `target`: Spark writes a single part file into a
    * temp dir beside it, which is moved into place. */
  private def writeOneFile(df: DataFrame, target: Path): Unit = {
    val tmp = target.resolveSibling(s"_tmp_${target.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(graft.etl.Context.partFile(tmp), target, StandardCopyOption.REPLACE_EXISTING)
    graft.etl.Context.deleteRecursively(tmp)
  }

  def main(args: Array[String]): Unit = args match {
    case Array(srcDir, factor, outDir) =>
      val spark = graft.GraftSession.build(graft.GraftSession.cpus(4))
      spark.sparkContext.setLogLevel("WARN")
      try write(spark, srcDir, factor.toInt, outDir)
      finally spark.stop()
    case _ =>
      System.err.println("usage: graft.tools.ScaleInput <srcDir> <factor> <outDir>")
      sys.exit(2)
  }
}
