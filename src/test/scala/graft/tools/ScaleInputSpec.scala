package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.Tables

/** ScaleInput on the sf0.001 fixture: factor 1 reproduces the source,
  * factor 2 doubles every fact and entity table with keys and FKs closed
  * inside each copy, and a factor outside 1..26 writes nothing. */
class ScaleInputSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private val root = tempDir("graft-scale-input")

  private lazy val x1 = generate(1)
  private lazy val x2 = generate(2)

  private def generate(factor: Int): String = {
    val out = root.resolve(s"x$factor").toString
    ScaleInput.write(spark, src, factor, out)
    out
  }

  private def read(dir: String, t: String): DataFrame = Tables.read(spark, dir, t)

  test("factor 1 writes each of the ten tables as one file equal to its source") {
    assert(ScaleInput.TableNames.size == 10)
    ScaleInput.TableNames.foreach { t =>
      val path = Path.of(x1, s"$t.parquet")
      assert(Files.isRegularFile(path), s"$t is not a single parquet file")
      val (got, want) = (read(x1, t), read(src, t))
      assert(got.schema == want.schema, s"$t schema")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$t rows")
    }
    val leftovers = Files.list(Path.of(x1))
    try assert(leftovers.count() == 10, "temp dirs left beside the tables")
    finally leftovers.close()
  }

  test("factor 2 doubles fact and entity tables and copies nation and region once") {
    ScaleInput.TableNames.foreach { t =>
      val copies = if (t == "nation" || t == "region") 1 else 2
      assert(read(x2, t).count() == copies * read(src, t).count(), t)
      assert(read(x2, t).schema == read(src, t).schema, s"$t schema")
    }
  }

  test("factor 2 adds no key collisions: unique keys stay unique") {
    val keys = Seq("customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"), "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
      "nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey"))
    keys.foreach { case (t, k) =>
      val copies = if (t == "nation" || t == "region") 1 else 2
      def distinctKeys(dir: String) = read(dir, t).select(k.map(col): _*).distinct().count()
      // the fixture's (l_orderkey, l_linenumber) has duplicates of its own;
      // each copy must bring exactly its own distinct keys
      assert(distinctKeys(x2) == copies * distinctKeys(src), s"$t ${k.mkString(",")}")
      if (distinctKeys(src) == read(src, t).count())
        assert(distinctKeys(x2) == read(x2, t).count(), s"$t ${k.mkString(",")} not unique")
    }
  }

  test("factor 2 keeps every FK resolving") {
    val fks = Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("events", "user_id", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"))
    fks.foreach { case (t, fk, p, pk) =>
      val orphans = read(x2, t).join(read(x2, p), col(fk) === col(pk), "left_anti").count()
      assert(orphans == 0, s"$t.$fk -> $p.$pk: $orphans orphans")
    }
  }

  test("copy 1's documents share no text with copy 0") {
    val docs = read(x2, "documents")
    val copy0 = docs.where(col("doc_id") < ScaleInput.KeyOffset).select("text")
    val copy1 = docs.where(col("doc_id") >= ScaleInput.KeyOffset).select("text")
    assert(copy0.count() == copy1.count())
    assert(copy0.intersect(copy1).isEmpty)
  }

  test("a factor outside 1..26 throws and writes nothing") {
    Seq(0, 27).foreach { f =>
      val out = root.resolve(s"bad$f")
      intercept[IllegalArgumentException](ScaleInput.write(spark, src, f, out.toString))
      assert(!Files.exists(out), s"factor $f created $out")
    }
  }
}
