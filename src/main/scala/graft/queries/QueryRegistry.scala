package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark builder and the DuckDB oracle that
  * must reproduce its output exactly (column-aliased identically to the
  * Spark side). `family` is the [[QueryFamily]] that declared it. */
final case class QuerySpec(name: String, family: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

/** A file of queries of one kind. Each `query(name)(build)(oracleSql)`
  * call declares one [[QuerySpec]], so a query's builder sits directly
  * above its oracle and the family is never typed per spec.
  *
  * The oracle is taken by name and evaluated when [[specs]] is first
  * read, after the family object is fully initialized: an oracle may then
  * interpolate a helper `val` declared anywhere in the family file. */
abstract class QueryFamily(val family: String) {

  private val declared = scala.collection.mutable.ArrayBuffer
    .empty[(String, (SparkSession, String) => DataFrame, () => String)]

  protected final def query(name: String)(build: (SparkSession, String) => DataFrame)
      (oracleSql: => String): Unit =
    declared += ((name, build, () => oracleSql))

  final lazy val specs: Seq[QuerySpec] =
    declared.toSeq.map { case (n, b, o) => QuerySpec(n, family, b, o()) }
}

/** The one list of every registered query. */
object QueryRegistry {

  val families: Seq[QueryFamily] = Seq(RelationalQueries, EventQueries,
    GraphQueries, DedupQueries, TextQueries, WebQueries, RetrievalQueries,
    StatsQueries, EtlQueries)

  lazy val specs: Seq[QuerySpec] = collect(families)

  /** The specs of `fams`, in declaration order. Throws when a name is
    * declared more than once — a map keyed by name would otherwise keep
    * only the last declaration without a word. */
  def collect(fams: Seq[QueryFamily]): Seq[QuerySpec] = {
    val all = fams.flatMap(_.specs)
    val dups = all.groupBy(_.name).collect { case (n, ss) if ss.size > 1 =>
      s"$n (${ss.map(_.family).mkString(", ")})"
    }.toSeq.sorted
    require(dups.isEmpty, s"query names declared more than once: ${dups.mkString(", ")}")
    all
  }
}
