package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB oracle
  * in `oracleSql`. Both maps are views of the one spec list,
  * [[graft.queries.QueryRegistry.specs]]: a query and its oracle are
  * declared together in their family's file under `graft.queries`. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_snowflake_join")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QueryRegistry.specs.map(q => q.name -> q.build).toMap

  /** `queries` restricted to `names`, or all of them when `names` is
    * empty. Throws naming every entry of `names` that is not registered. */
  def restrictTo(names: Set[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val unknown = (names -- queries.keySet).toSeq.sorted
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    if (names.isEmpty) queries else queries.filter { case (n, _) => names(n) }
  }

  /** DuckDB-runnable oracles, column-aliased identically to the Spark side. */
  lazy val oracleSql: Map[String, String] =
    graft.queries.QueryRegistry.specs.map(q => q.name -> q.oracleSql).toMap
}
