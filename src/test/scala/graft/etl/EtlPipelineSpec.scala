package graft.etl

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalDirBridge

/** Ports of the reference's parser tests (graph_etl/tests/test_parser.py)
  * against the fixed catalog layout — see SURVEY §5 for why the original
  * tests' catalog paths are stale. Assertions are key-set/count based where
  * the reference's "keep any" dedup is nondeterministic (SURVEY §2.12.4). */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def newEtl(strict: Boolean = false) = {
    val dir = Files.createTempDirectory("graft-etl-test").toString
    new GraphEtl(spark, dir, strictCompat = strict, nodeChunkSize = 200000L, edgeChunkSize = 500000L)
  }

  test("parser registration -> parse -> catalog records types, constraints, counts, metadata") {
    // test_parser.py:6-44 (test_decorator)
    val etl = newEtl()
    etl.parser("p1", Map("source" -> "test", "metadata1" -> "15000", "metadata2" -> "metadata2")) { ctx =>
      ctx.saveNodes(Seq((1L, "Tom"), (2L, "Marie")).toDF("id", "name"),
        "Person", indexs = Seq("name"))
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    assert(cfg.primary_key == "id")
    assert(cfg.constraints == List("id")) // defaulted to primary key
    assert(cfg.indexs == List("name"))
    assert(cfg.properties_type("id") == "Int64")
    assert(cfg.properties_type("name") == "Utf8")
    assert(cfg.files.size == 1)
    val file = cfg.files.head._2
    assert(file.count == 2)
    assert(file.metadatas("source") == "test" && file.metadatas("metadata1") == "15000")
    etl.clear()
  }

  test("eager withParser dedups duplicate primary keys (3 rows -> 2)") {
    // test_parser.py:46-81 (test_with_keyword)
    val etl = newEtl()
    etl.withParser("p2", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq(("5", "Andrew"), ("8", "Chloe"), ("8", "Donald")).toDF("id", "name"), "Person")
    }
    assert(etl.store.catalog.nodes("Person").files.head._2.count == 2)
    etl.clear()
  }

  test("100 staged chunk files collapse to per-header scans, not a 100-deep union") {
    // a label staged as many chunks (nodeChunkSize=5 -> 100 files of 5
    // rows) plus one chunk with a DIFFERENT header order; the read must
    // group by header (2 scans), bind each group's schema to its own
    // column order, and return every row
    val dir = Files.createTempDirectory("graft-manychunks").toString
    val etl = new GraphEtl(spark, dir, nodeChunkSize = 5)
    etl.parser("many", Map("source" -> "test")) { ctx =>
      val rows = (1 to 500).map(i => (i.toString, s"name_$i"))
      ctx.saveNodes(rows.toDF("id", "name"), "Person")
    }
    etl.parser("other_order", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq(("N_501", "501")).toDF("name", "id"), "Person")
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    assert(cfg.files.size >= 101)
    val df = etl.readStagedNodes("Person", cfg)
    assert(df.count() == 501)
    // every id binds to the id column regardless of per-file column order
    assert(df.where(col("id") === "501").select("name").as[String].head() == "N_501")
    assert(df.where(col("name") === "name_42").count() == 1)
    // plan audit: one relation per distinct header, not per file
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 2, s"expected 2 grouped scans, got ${scans.size}")
    etl.clear()
  }

  test("eager withParser honors the full skip guard: ignore and missing source") {
    // utils.py:255-269 — __enter__ skips on ignore and on any missing
    // sources_path, not only on the resume log
    val etl = newEtl()
    var ranIgnored = false
    etl.withParser("pi", Map.empty, ignore = true) { _ => ranIgnored = true }
    assert(!ranIgnored)
    var ranMissing = false
    etl.withParser("pm", Map.empty,
      sourcesPath = Seq("/nonexistent/source.csv")) { _ => ranMissing = true }
    assert(!ranMissing)
    // a skipped parser is NOT resume-logged: it runs once its source appears
    var ranLater = false
    etl.withParser("pm", Map.empty) { _ => ranLater = true }
    assert(ranLater)
    etl.clear()
  }

  test("per-parser wall-time stats are recorded in both forms (utils.py:80-97)") {
    val etl = newEtl()
    etl.withParser("timed_eager", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq(("1", "A")).toDF("id", "name"), "Person")
    }
    assert(etl.store.stats.contains("parser_time_ms_timed_eager"))
    etl.parser("timed_deferred", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq(("2", "B")).toDF("id", "name"), "Person")
    }
    etl.parse()
    assert(etl.store.stats.contains("parser_time_ms_timed_deferred"))
    assert(etl.store.stats.contains("parse_time_ms"))
    etl.clear()
  }

  test("explicit mapIds rewrites edge endpoints, retypes the column, keeps count") {
    // test_parser.py:83-124 (test_decorator_mapping): mapping 2->F432OP
    // (duplicate tolerated), 1->P821DS; start dtype flips Int64 -> Utf8
    val etl = newEtl()
    etl.parser("p3", Map("source" -> "test")) { ctx =>
      ctx.saveEdges(
        Seq((1L, "Tom"), (2L, "Marie"), (2L, "Chloe")).toDF("start", "end"),
        "DRIVED_BY", "Car:id", "Person:id")
      ctx.mapIds(
        Seq((2L, "F432OP"), (2L, "DUPLICATE_F432OP"), (1L, "P821DS"))
          .toDF("old_value", "new_value"),
        "Car:id")
    }
    etl.parse()
    val (fname, cfg) = etl.store.catalog.edges("DRIVED_BY").head
    // Duplicate mapping rows fan out and the (start,end) dedup keeps the
    // distinct mapped pairs — 5 rows (SURVEY §2.12.5). The reference's own
    // test asserts count==3 only because it never refreshes the catalog
    // count after the mapping rewrite; this engine records the real count.
    assert(cfg.count == 5)
    assert(cfg.properties_type("start") == "Utf8")
    val rewritten = etl.readStagedEdges(fname, cfg)
    val tomRow = rewritten.where(col("end") === "Tom").select("start").as[String].collect()
    assert(tomRow.sameElements(Array("P821DS")))
    val starts = rewritten.select("start").as[String].collect().toSet
    assert(starts.subsetOf(Set("P821DS", "F432OP", "DUPLICATE_F432OP")))
    etl.clear()
  }

  test("ignore_mapping skips both mapping passes (pipeline.py:52,78)") {
    val etl = newEtl()
    etl.parser("p3i", Map("source" -> "test")) { ctx =>
      ctx.saveEdges(
        Seq((1L, "Tom")).toDF("start", "end"),
        "DRIVED_BY", "Car:id", "Person:id", ignoreMapping = true)
      ctx.mapIds(Seq((1L, "P821DS")).toDF("old_value", "new_value"), "Car:id")
    }
    etl.parse()
    val (fname, cfg) = etl.store.catalog.edges("DRIVED_BY").head
    assert(cfg.properties_type("start") == "Int64") // untouched
    val rewritten = etl.readStagedEdges(fname, cfg)
    assert(rewritten.select(col("start").cast("string")).as[String].head() == "1")
    etl.clear()
  }

  test("auto pk-resolution rewrites non-pk endpoint and repoints the catalog") {
    // test_parser.py:127-174 (test_decorator_auto_mapping)
    val etl = newEtl()
    etl.parser("p4", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq((101L, "Tom"), (102L, "Marie"), (103L, "Chloe")).toDF("id", "name"), "Person")
      ctx.saveEdges(
        Seq((1L, "Tom"), (2L, "Marie")).toDF("start", "end"),
        "KNOWS", "Thing:id", "Person:name", ignoreMapping = false)
    }
    etl.parse()
    val (fname, cfg) = etl.store.catalog.edges("KNOWS").head
    assert(cfg.end == "Person:id") // repointed from Person:name
    val rewritten = etl.readStagedEdges(fname, cfg)
    val tomEdge = rewritten.where(col("start") === "1")
      .select(col("end").cast("string")).as[String].collect()
    assert(tomEdge.sameElements(Array("101")))
    etl.clear()
  }

  test("node files staged with different column orders read back correctly") {
    // two parsers, same label, opposite column order — a shared positional
    // schema would swap id/name for one of the files
    val etl = newEtl()
    etl.parser("ordA", Map("source" -> "t")) { ctx =>
      ctx.saveNodes(Seq((1L, "Alice")).toDF("id", "name"), "Person")
    }
    etl.parser("ordB", Map("source" -> "t")) { ctx =>
      ctx.saveNodes(Seq(("Bob", 2L)).toDF("name", "id"), "Person")
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    assert(cfg.files.size == 2)
    val back = etl.readStagedNodes("Person", cfg)
      .select(col("id").cast("long"), col("name")).as[(Long, String)].collect().toSet
    assert(back == Set((1L, "Alice"), (2L, "Bob")))
    etl.clear()
  }

  test("metadata filter keeps only the matching parser") {
    // test_parser.py:177-218 (test_decorator_filter)
    val etl = newEtl()
    etl.parser("pA", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq((1L, "Alice")).toDF("id", "name"), "Person")
    }
    etl.parser("pB", Map("source" -> "test2")) { ctx =>
      ctx.saveNodes(Seq((8L, "Tom")).toDF("id", "name"), "Person")
    }
    etl.init(filter = Some(new GraphFilter().addMetadata("source", "test2")))
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    assert(cfg.files.size == 1)
    assert(cfg.files.head._2.count == 1)
    val nodes = etl.readStagedNodes("Person", cfg)
    assert(nodes.select("id").as[Long].head() == 8L)
    etl.clear()
  }

  test("filter truth table matches filters.py:51-58") {
    val f = new GraphFilter().addMetadata("source", "test2")
    assert(f.skipParse(Map("source" -> "test")))        // shared key, no pair match
    assert(!f.skipParse(Map("source" -> "test2")))      // pair match
    assert(!f.skipParse(Map("other" -> "x")))           // no shared key
    assert(!f.skipParse(Map.empty))                     // no shared key
    // whitelisted node loads even when metadata says skip
    val f2 = new GraphFilter().addMetadata("source", "test2").addNode("Person")
    assert(!f2.skipLoadNode(Map("source" -> "test"), "Person"))
    assert(f2.skipLoadNode(Map("source" -> "test"), "Car"))
  }

  test("strictCompat full-outer mapping produces ghost edges; default does not") {
    import graft.operators.Mapping
    val edges = Seq((1L, "x")).toDF("start", "end")
    val mapping = Seq((1L, "A"), (99L, "GHOST")).toDF("old_value", "new_value")
    val fixed = Mapping.applyMapping(edges, mapping, "start")
    assert(fixed.count() == 1)
    val strict = Mapping.applyMapping(edges, mapping, "start", strictCompat = true)
    assert(strict.count() == 2) // unmatched mapping row survives as ghost
    assert(strict.where(col("start") === "GHOST").count() == 1)
  }

  test("mapping with empty mapping table is identity on values") {
    import graft.operators.Mapping
    val edges = Seq((1L, "x"), (2L, "y")).toDF("start", "end")
    val empty = Seq.empty[(Long, String)].toDF("old_value", "new_value")
    val got = Mapping.applyMapping(edges, empty, "start")
    assert(got.select(col("start").cast("long")).as[Long].collect().toSet == Set(1L, 2L))
  }

  /** Temp dirs a staging or mapping job could leave, in Spark's scratch
    * dir or under the output dir. */
  private def leftoverTempDirs(etl: GraphEtl): Seq[String] =
    Seq(etl.outputDir, LocalDirBridge.localDir(spark)).flatMap { root =>
      val s = Files.walk(java.nio.file.Paths.get(root))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-staging-") || n.startsWith("graft-rewrite-")).toList
      finally s.close()
    }

  private def stagedFiles(etl: GraphEtl): Seq[String] =
    Seq(etl.store.nodesDir, etl.store.edgesDir).flatMap(Context.listDir)
      .map(_.getFileName.toString).filter(_.endsWith(".csv"))

  test("a throwing parser body is not marked complete and re-runs") {
    val etl = newEtl()
    val e = intercept[RuntimeException] {
      etl.withParser("boom") { ctx =>
        ctx.saveNodes(Seq((1L, "A")).toDF("id", "name"), "N")
        throw new RuntimeException("parser failed")
      }
    }
    assert(e.getMessage == "parser failed")
    // the save that ran before the throw is neither published nor left behind
    assert(!etl.store.logEntries("parser").contains("boom"))
    assert(etl.store.catalog.nodes.isEmpty)
    assert(stagedFiles(etl).isEmpty)
    assert(leftoverTempDirs(etl).isEmpty)
    var ran = false
    etl.withParser("boom") { _ => ran = true } // would be skipped if logged as done
    assert(ran)
    etl.clear()
  }

  test("concurrent saves keep the chunk geometry, call-order indices and exact counts") {
    val etl = new GraphEtl(spark, Files.createTempDirectory("graft-geometry").toString,
      nodeChunkSize = 7L, edgeChunkSize = 4L)
    // the first save is the largest (and sorts its input), so its Spark
    // half finishes last; publication must still follow call order
    etl.parser("three", Map("source" -> "t")) { ctx =>
      ctx.saveNodes(spark.range(0, 200, 1, 8).orderBy(col("id").desc)
        .select(col("id"), concat(lit("a"), col("id")).as("name")), "A")
      ctx.saveNodes(spark.range(1000, 1020, 1, 3)
        .select(col("id"), concat(lit("b"), col("id")).as("name")), "B")
      ctx.saveNodes(Seq((5000L, "c")).toDF("id", "name"), "C")
      ctx.saveEdges(spark.range(0, 30, 1, 4)
        .select(col("id").as("start"), concat(lit("b"), col("id") + 1000).as("end")),
        "LIKES", "A:id", "B:name")
    }
    etl.parse()

    def lines(p: java.nio.file.Path): Long = {
      val s = Files.lines(p)
      try s.count() finally s.close()
    }
    def index(f: String): Int = f.stripSuffix(".csv").split("_").last.toInt
    val nodes = etl.store.catalog.nodes
    val byLabel = Seq("A", "B", "C").map(l => l -> nodes(l).files.keys.toSeq.sortBy(index))
    assert(byLabel.map(_._2.size) == Seq(29, 3, 1)) // ceil(200/7), ceil(20/7), 1
    // node file indices run contiguously in call order across the labels
    assert(byLabel.flatMap(_._2).map(index) == (0 until 33))
    byLabel.foreach { case (label, files) =>
      val counts = files.map(f => lines(etl.store.nodesDir.resolve(f)) - 1)
      assert(counts.init.forall(_ == 7L), s"$label: $counts")
      assert(counts == files.map(nodes(label).files(_).count), label)
    }
    // the mapped edge files (auto pk resolution) are rewritten in place,
    // and their catalog counts follow the rewritten contents
    val edges = etl.store.catalog.edges("LIKES")
    assert(edges.keys.toSeq.map(index).sorted == (0 until 8))
    edges.foreach { case (f, cfg) =>
      assert(cfg.end == "B:id")
      assert(lines(etl.store.edgesDir.resolve(f)) - 1 == cfg.count, f)
    }
    // unmatched ends (b1020..b1029 name no B node) keep their value
    assert(edges.values.map(_.count).sum == 30)
    assert(leftoverTempDirs(etl).isEmpty)
    etl.clear()
  }

  test("a failing body or save fails parse with its own exception and publishes nothing") {
    val etl = newEtl()
    def good(ctx: Context): Unit = {
      ctx.saveNodes(Seq((1L, "A"), (2L, "B")).toDF("id", "name"), "N")
      ctx.saveEdges(Seq((1L, 2L)).toDF("start", "end"), "E", "N:id", "N:id")
    }
    def assertNothingPublished(): Unit = {
      assert(!etl.store.logEntries("parser").contains("p"))
      assert(etl.store.catalog.nodes.isEmpty && etl.store.catalog.edges.isEmpty)
      assert(stagedFiles(etl).isEmpty)
      assert(leftoverTempDirs(etl).isEmpty)
    }

    // (a) the body throws after two saves
    etl.parser("p") { ctx => good(ctx); throw new IllegalStateException("body failed") }
    val a = intercept[IllegalStateException](etl.parse())
    assert(a.getMessage == "body failed")
    assertNothingPublished()

    // (b) a save whose frame fails when its Spark half runs; the saves
    // around it succeed
    val boom = udf((x: Long) => { if (x == 3L) throw new ArithmeticException("bad row"); x })
    etl.parser("p") { ctx =>
      good(ctx)
      ctx.saveNodes(spark.range(10).select(boom(col("id")).as("id")), "Bad")
      ctx.saveNodes(Seq((9L, "Z")).toDF("id", "name"), "Z")
    }
    val b = intercept[Exception](etl.parse())
    // the Spark job's own exception, not the pool's wrapper
    assert(b.isInstanceOf[org.apache.spark.SparkException], b.getClass.getName)
    assert(Iterator.iterate[Throwable](b)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[ArithmeticException] && c.getMessage == "bad row"), b)
    assertNothingPublished()

    // a re-run succeeds and stages every row exactly once
    etl.parser("p")(good)
    etl.parse()
    assert(etl.store.logEntries("parser").contains("p"))
    assert(etl.store.catalog.nodes.keySet == Set("N"))
    assert(etl.store.catalog.nodes("N").files.values.map(_.count).sum == 2)
    assert(etl.store.catalog.edges("E").values.map(_.count).sum == 1)
    assert(leftoverTempDirs(etl).isEmpty)
    etl.clear()
  }

  test("catalog resume: a new engine instance reloads configs.json (S6)") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val etl1 = new GraphEtl(spark, dir)
    etl1.parser("r1", Map("source" -> "t")) { ctx =>
      ctx.saveNodes(Seq((1L, "A"), (2L, "B")).toDF("id", "name"), "Person", indexs = Seq("name"))
    }
    etl1.parse()
    val etl2 = new GraphEtl(spark, dir)
    etl2.init(loadConfigs = true)
    assert(etl2.store.catalog == etl1.store.catalog)
    assert(etl2.store.catalog.nodes("Person").indexs == List("name"))
    etl1.clear()
  }

  test("fast staging bounds file sizes and records exact per-file counts") {
    val dir = Files.createTempDirectory("graft-fast").toString
    val etl = new GraphEtl(spark, dir, nodeChunkSize = 10L, fastStaging = true)
    etl.parser("fast", Map("source" -> "t")) { ctx =>
      ctx.saveNodes(spark.range(25).toDF("id"), "N")
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("N")
    assert(cfg.files.values.map(_.count).sum == 25)
    assert(cfg.files.values.forall(_.count <= 10))
    // files are readable back with the catalog schema
    assert(etl.readStagedNodes("N", cfg).count() == 25)
    etl.clear()
  }

  test("resume log skips an already-parsed parser on re-parse") {
    val etl = newEtl()
    var runs = 0
    etl.parser("once", Map("source" -> "t")) { ctx =>
      runs += 1
      ctx.saveNodes(Seq((1L, "A")).toDF("id", "name"), "N")
    }
    etl.parse()
    etl.parse() // second parse: resume log has the parser name
    assert(runs == 1)
    etl.clear()
  }
}
