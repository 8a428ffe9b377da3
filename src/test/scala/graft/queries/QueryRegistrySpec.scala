package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class QueryRegistrySpec extends AnyFunSuite {

  private val specs = QueryRegistry.specs

  test("the registry holds 254 specs with unique names") {
    assert(specs.size == 254)
    assert(specs.map(_.name).distinct.size == specs.size)
  }

  test("every family declares at least one query, under its own family name") {
    QueryRegistry.families.foreach { f =>
      assert(f.specs.nonEmpty, s"family ${f.family} is empty")
      assert(f.specs.forall(_.family == f.family))
    }
    assert(QueryRegistry.families.map(_.family).distinct.size == QueryRegistry.families.size)
  }

  test("every oracle is non-blank") {
    val blank = specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }

  test("SparkEntry's two views share the registry's key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == specs.map(_.name).toSet)
  }

  private object FixtureA extends QueryFamily("a") {
    query("q_only_a")((s, _) => s.emptyDataFrame)("SELECT 1")
    query("q_clash")((s, _) => s.emptyDataFrame)("SELECT 2")
    query("q_clash_too")((s, _) => s.emptyDataFrame)("SELECT 3")
  }

  private object FixtureB extends QueryFamily("b") {
    query("q_clash")((s, _) => s.emptyDataFrame)("SELECT 4")
    query("q_clash_too")((s, _) => s.emptyDataFrame)("SELECT 5")
    query("q_only_b")((s, _) => s.emptyDataFrame)("SELECT 6")
  }

  test("a name declared in two families fails and lists every duplicate") {
    val e = intercept[IllegalArgumentException](QueryRegistry.collect(Seq(FixtureA, FixtureB)))
    assert(e.getMessage.contains("q_clash (a, b)"))
    assert(e.getMessage.contains("q_clash_too (a, b)"))
    assert(!e.getMessage.contains("q_only"))
    assert(QueryRegistry.collect(Seq(FixtureA)).map(_.name) ==
      Seq("q_only_a", "q_clash", "q_clash_too"))
  }
}
