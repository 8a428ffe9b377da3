package graft.etl

import java.nio.file.Files
import java.util.concurrent.CompletionException
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.graph.GraphOps
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheEntries

object LoaderSpec {
  /** Rows the slow count of the failure-path test has processed. */
  val slowRows = new AtomicInteger()
}

class LoaderSpec extends SparkSpec {
  import spark.implicits._

  /** Run `df`, then name the scans its executed plan reads (through AQE
    * stages; a cached relation is one leaf, its own plan is not walked). */
  private def scans(df: DataFrame): Set[String] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collectLeaves(df.queryExecution.executedPlan)
      .map(_.getClass.getSimpleName).filter(_.endsWith("ScanExec")).toSet
  }

  /** Every operator of the plan that filled a pinned frame's cache, through
    * AQE stages. */
  private def pinPlan(df: DataFrame): Seq[SparkPlan] = {
    val cached = df.queryExecution.optimizedPlan.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }
    assert(cached.isDefined, "not a pinned frame")
    new AdaptiveSparkPlanHelper {}.collect(cached.get) { case p => p }
  }

  /** The final (or single-stage) aggregates among `plan`: one per dedup. */
  private def dedups(plan: Seq[SparkPlan]): Int = plan.count {
    case a: BaseAggregateExec => a.aggregateExpressions.forall(e => e.mode == Final || e.mode == Complete)
    case _ => false
  }

  private def staged(): (GraphEtl, String) = {
    val dir = tempDir("graft-loader-test").toString
    val etl = new GraphEtl(spark, dir)
    etl.parser("fixtures", Map("source" -> "test")) { ctx =>
      ctx.saveNodes(Seq((1L, "Tom"), (2L, "Marie")).toDF("id", "name"), "Person")
      ctx.saveNodes(Seq((10L, "Golf"), (11L, "Polo")).toDF("id", "model"), "Car")
      ctx.saveEdges(Seq((10L, 1L), (11L, 2L), (12L, 7L)).toDF("start", "end"),
        "DRIVED_BY", "Car:id", "Person:id")
    }
    etl.parse()
    (etl, dir)
  }

  test("SparkGraphLoader match strategy drops edges with missing endpoints") {
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(loader)
    assert(loader.nodeTable("Person").get.count() == 2)
    assert(loader.nodeTable("Car").get.count() == 2)
    // edge (12 -> 7): neither endpoint exists -> dropped by MATCH semantics
    assert(loader.edgeTable("DRIVED_BY").get.count() == 2)
    etl.clear()
  }

  test("SparkGraphLoader create strategy synthesizes BlankNode endpoints") {
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark, edgeStrategy = "create")
    etl.load(loader)
    assert(loader.edgeTable("DRIVED_BY").get.count() == 3)
    val persons = loader.nodeTable("Person").get
    assert(persons.count() == 3) // Tom, Marie + blank "7"
    assert(persons.where(col("is_blank_node") === true).count() == 1)
    etl.clear()
  }

  test("resume after partial load rebuilds node frames for the in-session loader") {
    val (etl, _) = staged()
    // simulate a crash after every NODE file was loaded and resume-logged
    // but before any edge file: a fresh loader on the resumed run starts
    // with no node frames in memory, so it ignores the log
    etl.store.catalog.nodes.foreach { case (_, cfg) =>
      cfg.files.keys.foreach(etl.store.logLoaded)
    }
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(loader)
    // node frames loaded and counted
    assert(loader.nodeTable("Person").get.count() == 2)
    assert(loader.nodeTable("Car").get.count() == 2)
    assert(etl.store.stats("loaded_nodes_Person") == 2)
    // the edge file still loads against the restored endpoints instead of
    // silently vanishing through an empty MATCH
    assert(loader.edgeTable("DRIVED_BY").get.count() == 2)
    etl.clear()
  }

  test("resume after full load restores EDGE frames too (not only nodes)") {
    val (etl, _) = staged()
    // simulate a crash after everything was loaded and resume-logged: a
    // fresh loader in a new "JVM" must rebuild node AND edge frames —
    // replay the log entries a completed pre-crash run would have written
    etl.store.catalog.nodes.foreach { case (_, cfg) =>
      cfg.files.keys.foreach(etl.store.logLoaded)
    }
    etl.store.catalog.edges.foreach { case (_, files) =>
      files.keys.foreach(etl.store.logLoaded)
    }
    val resumed = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(resumed)
    assert(resumed.nodeTable("Person").get.count() == 2)
    assert(resumed.edgeTable("DRIVED_BY").get.count() == 2) // previously lost
    assert(etl.store.stats("loaded_edges_DRIVED_BY") == 2) // loaded and counted
    etl.clear()
  }

  test("second load() on the same loader instance does not duplicate edges") {
    // GraphEtl.load offers an in-session loader every file on each call,
    // so the loader must recognize files it already merged (r2 ADVICE:
    // edges and HAS_METADATA edges duplicated; nodes only survived via
    // dropDuplicates)
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match",
      metadataStrategy = "as_edge")
    etl.load(loader)
    val edges1 = loader.edgeTable("DRIVED_BY").get.count()
    val meta1 = loader.edgeTable("HAS_METADATA").get.count()
    etl.load(loader)
    assert(loader.edgeTable("DRIVED_BY").get.count() == edges1)
    assert(loader.edgeTable("HAS_METADATA").get.count() == meta1)
    assert(loader.nodeTable("Person").get.count() == 2)
    // stats still accumulate honestly (the re-load recounts the files)
    etl.clear()
  }

  test("the graph build reads the loader's pins, and the pins never change the rows") {
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    def degrees = GraphOps.degrees(loader.nodes.get, loader.edges.get)
    assert(scans(loader.edges.get) == Set("InMemoryTableScanExec"))
    assert(scans(degrees) == Set("InMemoryTableScanExec"))
    val pinned = degrees.collect().map(_.toString).sorted.toSeq
    assert(pinned.size == 4)
    // with the cache gone the same frames re-read the staged files
    spark.catalog.clearCache()
    assert(scans(degrees).contains("FileSourceScanExec"))
    assert(degrees.collect().map(_.toString).sorted.toSeq == pinned)
    etl.clear()
  }

  /** Person staged by two parsers with the overlapping id 2, and one edge
    * file whose second edge ends at the unstaged id 9. */
  private def twoPersonFiles(): GraphEtl = {
    val etl = new GraphEtl(spark, tempDir("graft-loader-two").toString)
    etl.parser("a") { ctx =>
      ctx.saveNodes(Seq((1L, "Tom"), (2L, "Marie")).toDF("id", "name"), "Person")
    }
    etl.parser("b") { ctx =>
      ctx.saveNodes(Seq((2L, "Marie"), (3L, "Ann")).toDF("id", "name"), "Person")
      ctx.saveEdges(Seq((1L, 2L), (3L, 9L)).toDF("start", "end"), "KNOWS", "Person:id", "Person:id")
    }
    etl.parse()
    etl
  }

  test("a label staged in two files loads each id once into one pin, with the sequential stats") {
    Seq("match" -> Seq("1", "2", "3"), "create" -> Seq("1", "2", "3", "9")).foreach { case (strategy, ids) =>
      val etl = twoPersonFiles()
      assert(etl.store.catalog.nodes("Person").files.size == 2)
      val loader = new SparkGraphLoader(spark, edgeStrategy = strategy)
      etl.load(loader)
      val persons = loader.nodeTable("Person").get
      assert(persons.select("id").as[String].collect().sorted.toSeq == ids, strategy)
      // create: the BlankNode synthesis changed the label, and it re-pins
      assert(scans(persons) == Set("InMemoryTableScanExec"), strategy)
      // the stats of the concurrent counts equal those of a fresh loader
      // loading every file inline, in catalog order
      val inline = new SparkGraphLoader(spark, edgeStrategy = strategy)
      val expected = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
      val c = etl.store.catalog
      c.nodes.foreach { case (label, cfg) => cfg.files.foreach { case (f, info) =>
        expected(s"loaded_nodes_$label") += inline.loadNodes(etl.store.nodesDir.resolve(f).toString,
          label, cfg.primary_key, info.metadatas, cfg.properties_type, cfg.constraints, cfg.indexs)
      } }
      c.edges.foreach { case (t, files) => files.foreach { case (f, cfg) =>
        expected(s"loaded_edges_$t") += inline.loadEdges(etl.store.edgesDir.resolve(f).toString,
          t, cfg.start, cfg.end, cfg.metadatas, cfg.properties_type)
      } }
      val stats = etl.store.stats.filter(_._1.startsWith("loaded_")).toMap
      assert(stats == expected.toMap, strategy)
      assert(stats == Map("loaded_nodes_Person" -> 4L,
        "loaded_edges_KNOWS" -> (if (strategy == "match") 1L else 2L)), strategy)
      // a second load re-counts the files it already merged: no new pin
      val entries = CacheEntries(spark)
      etl.load(loader)
      assert(CacheEntries(spark) == entries, strategy)
      etl.clear()
    }
  }

  test("a single-file label's pin is the plain scan: no Exchange, no aggregate") {
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    Seq("Person", "Car").foreach { label =>
      val plan = pinPlan(loader.nodeTable(label).get)
      assert(plan.exists(_.isInstanceOf[FileSourceScanExec]), label)
      assert(!plan.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[BaseAggregateExec]), s"$label: $plan")
      assert(etl.store.stats(s"loaded_nodes_$label") == 2)
    }
    etl.clear()
  }

  test("a Datetime primary key loads each staged text once") {
    // two keys 1 µs apart are distinct values, so staging keeps both rows;
    // it writes timestamps at millisecond precision, so both stage as one
    // text. The same holds for a timestamp_ntz key.
    Seq("timestamp" -> "Datetime", "timestamp_ntz" -> "timestamp_ntz").foreach { case (sqlType, catalogType) =>
      val etl = new GraphEtl(spark, tempDir("graft-loader-ts").toString)
      etl.parser("ts") { ctx =>
        ctx.saveNodes(Seq((1L, "x"), (2L, "y")).toDF("us", "name").select(
          timestamp_micros(lit(1700000000000000L) + col("us")).cast(sqlType).as("at"), col("name")),
          "Event", primaryKey = "at")
      }
      etl.parse()
      val cfg = etl.store.catalog.nodes("Event")
      assert(cfg.properties_type("at") == catalogType)
      assert(cfg.files.size == 1 && cfg.files.head._2.count == 2, catalogType)
      val lines = Files.readAllLines(etl.store.nodesDir.resolve(cfg.files.head._1)).asScala.toSeq
      val at = lines.head.split(";").indexOf("at")
      val texts = lines.tail.map(_.split(";", -1)(at))
      assert(texts.size == 2 && texts.distinct.size == 1, texts)
      val loader = new SparkGraphLoader(spark)
      etl.load(loader)
      assert(loader.nodeTable("Event").get.select("id").as[String].collect().toSeq.size == 1, catalogType)
      assert(etl.store.stats("loaded_nodes_Event") == 2) // the file's rows, before the dedup
      etl.clear()
    }
  }

  test("string keys stage verbatim: keys that differ only in whitespace stay four nodes") {
    val etl = new GraphEtl(spark, tempDir("graft-loader-ws").toString)
    val keys = Seq("a", " a", "a ", "b")
    etl.parser("ws") { ctx =>
      ctx.saveNodes(keys.zipWithIndex.map { case (k, i) => (k, i + 1L) }.toDF("id", "n"), "Person")
      // addressed by the non-key `n`: pass B maps each endpoint to its key
      ctx.saveEdges((1L to 4L).map(i => (i, i)).toDF("start", "end"), "SELF", "Person:n", "Person:n")
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    val lines = Files.readAllLines(etl.store.nodesDir.resolve(cfg.files.head._1)).asScala.toSeq
    assert(lines.head == "id;n")
    assert(lines.tail.sorted == Seq("a;1", " a;2", "a ;3", "b;4").sorted)
    assert(cfg.files.values.map(_.count).sum == 4)
    val (fname, edgeCfg) = etl.store.catalog.edges("SELF").head
    assert(edgeCfg.start == "Person:id" && edgeCfg.end == "Person:id")
    assert(etl.readStagedEdges(fname, edgeCfg).select("start", "end").as[(String, String)]
      .collect().toSet == keys.map(k => (k, k)).toSet)
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    assert(loader.nodeTable("Person").get.select("id").as[String].collect().sorted.toSeq == keys.sorted)
    assert(loader.edgeTable("SELF").get.count() == 4)
    etl.clear()
  }

  test("a label staged as 100 chunk files loads as one scan per header group") {
    // the loader twin of EtlPipelineSpec's "100 staged chunk files collapse
    // to per-header scans": 100 files of 5 rows plus one file with the
    // other column order
    val etl = new GraphEtl(spark, tempDir("graft-loader-chunks").toString, nodeChunkSize = 5)
    etl.parser("many") { ctx =>
      ctx.saveNodes((1 to 500).map(i => (i.toString, s"name_$i")).toDF("id", "name"), "Person")
    }
    etl.parser("other_order") { ctx =>
      ctx.saveNodes(Seq(("N_501", "501")).toDF("name", "id"), "Person")
    }
    etl.parse()
    val cfg = etl.store.catalog.nodes("Person")
    assert(cfg.files.size == 101)
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    val persons = loader.nodeTable("Person").get
    assert(persons.count() == 501)
    assert(persons.where(col("id") === "501").select("name").as[String].head() == "N_501")
    val plan = pinPlan(persons)
    assert(plan.count(_.isInstanceOf[FileSourceScanExec]) <= 2, plan)
    assert(dedups(plan) == 1, plan)
    assert(etl.store.stats("loaded_nodes_Person") == cfg.files.values.map(_.count).sum)
    etl.clear()
  }

  test("load runs at most one job per label and edge type, plus the endpoint broadcasts") {
    val (etl, _) = staged()
    val loader = new SparkGraphLoader(spark)
    val tag = s"load-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try etl.load(loader)
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val c = etl.store.catalog
    // a match-strategy edge group semi-joins both endpoint labels' pins
    val broadcasts = 2 * c.edges.size
    assert(jobs.get > 0 && jobs.get <= c.nodes.size + c.edges.size + broadcasts, jobs.get)
    etl.clear()
  }

  test("as_edge: a later file's Metadata node reaches `nodes` past the pinned Metadata frame") {
    val etl = new GraphEtl(spark, tempDir("graft-loader-meta").toString)
    val loader = new SparkGraphLoader(spark, metadataStrategy = "as_edge")
    def metadataIds = loader.nodes.get.where(col("label") === "Metadata")
      .select("id").as[String].collect().sorted.toSeq
    etl.withParser("a", Map("source" -> "a")) { ctx =>
      ctx.saveNodes(Seq((1L, "Tom")).toDF("id", "name"), "Person")
    }
    etl.load(loader)
    assert(metadataIds == Seq("source=a"))
    etl.withParser("b", Map("source" -> "b")) { ctx =>
      ctx.saveNodes(Seq((2L, "Ann")).toDF("id", "name"), "Person")
    }
    etl.load(loader)
    assert(metadataIds == Seq("source=a", "source=b"))
    etl.clear()
  }

  test("a failed count is rethrown by load itself, records nothing, and leaves no count running") {
    val (etl, _) = staged()
    def failing = spark.range(3).where(raise_error(concat(lit("boom "), col("id").cast("string"))).isNull)
    val slow = udf { (x: Long) => Thread.sleep(200); LoaderSpec.slowRows.incrementAndGet(); x }
    LoaderSpec.slowRows.set(0)
    // the second label's rows fail when counted; the edge type's count is
    // still running when that failure surfaces
    val labels = mutable.ArrayBuffer.empty[String]
    val loader = new Loader with InSessionLoader {
      def markNodesSkipped(label: String): Unit = ()
      def ingestNodes(files: Seq[(String, Map[String, String])], label: String, primaryKey: String,
          propertiesType: Map[String, String]): DataFrame = {
        labels += label
        if (labels.size == 2) failing.toDF() else spark.range(5).toDF()
      }
      def ingestEdges(files: Seq[(String, EdgeFileConfig)], edgeType: String): DataFrame =
        spark.range(4).where(slow(col("id")) >= 0).toDF()
      def loadNodes(filePath: String, label: String, primaryKey: String,
          metadatas: Map[String, String], propertiesType: Map[String, String],
          constraints: Seq[String], indexs: Seq[String]): Long = fail("counted inline")
      def loadEdges(filePath: String, edgeType: String, start: String, end: String,
          metadatas: Map[String, String], propertiesType: Map[String, String]): Long = fail("counted inline")
    }
    val thrown = intercept[Exception](etl.load(loader))
    val direct = intercept[Exception](failing.count())
    assert(!thrown.isInstanceOf[CompletionException])
    assert(thrown.getClass == direct.getClass && thrown.getMessage.contains("boom"))
    assert(labels.size == 2)
    assert(etl.store.stats.filter(_._1.startsWith("loaded_")).toMap == Map(s"loaded_nodes_${labels(0)}" -> 5L))
    assert(LoaderSpec.slowRows.get == 4)
    etl.clear()
  }

  test("an external loader skips the files in its loader log, which load clears") {
    val (etl, _) = staged()
    // a crash after every node file reached the database
    etl.store.catalog.nodes.values.flatMap(_.files.keys).foreach(etl.store.logLoaded)
    etl.load(new Neo4jLoader())
    assert(etl.store.stats.keySet.filter(_.startsWith("loaded_")) == Set("loaded_edges_DRIVED_BY"))
    assert(etl.store.loadedFiles.isEmpty)
    etl.clear()
  }

  test("GraphEtl.load with node-skipping filter loads whitelisted edges as empty") {
    val (etl, _) = staged()
    // after parse: filter out every node file by metadata mismatch
    // (parsers carry source=test), but whitelist the edge type — the edge
    // file loads against deliberately-absent endpoints and must be empty,
    // not a crash
    val f = new GraphFilter().addMetadata("source", "other").addEdge("DRIVED_BY")
    etl.init(filter = Some(f))
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(loader)
    assert(loader.nodeTable("Person").isEmpty && loader.nodeTable("Car").isEmpty)
    assert(loader.edgeTable("DRIVED_BY").get.count() == 0)
    etl.clear()
  }

  test("match-strategy edge load against a filter-skipped label is empty, not a crash") {
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    loader.markNodesSkipped("Person")
    val dir = tempDir("graft-loader-skip")
    val f = dir.resolve("e.csv")
    Files.writeString(f, "start;end\n1;2\n")
    val n = loader.loadEdges(f.toString, "KNOWS", "Person:id", "Person:id",
      Map.empty, Map("start" -> "Int64", "end" -> "Int64"))
    assert(n == 0L) // external-DB parity: MATCH on an absent label finds nothing
  }

  test("match-strategy edge load with no node frame fails fast, not limit(0)") {
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    val dir = tempDir("graft-loader-ff")
    val f = dir.resolve("e.csv")
    Files.writeString(f, "start;end\n1;2\n")
    val ex = intercept[IllegalStateException] {
      loader.loadEdges(f.toString, "KNOWS", "Person:id", "Person:id",
        Map.empty, Map("start" -> "Int64", "end" -> "Int64"))
    }
    assert(ex.getMessage.contains("Person"))
  }

  test("primary key value is canonicalized under property `id` (SURVEY §2.12.3)") {
    val dir = tempDir("graft-loader-pk").toString
    val etl = new GraphEtl(spark, dir)
    etl.parser("pk", Map.empty) { ctx =>
      ctx.saveNodes(Seq(("ORCID1", "X")).toDF("orcid", "name"), "Author", primaryKey = "orcid")
    }
    etl.parse()
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    val authors = loader.nodeTable("Author").get
    assert(authors.columns.contains("id"))
    assert(authors.select("id").as[String].head() == "ORCID1")
    etl.clear()
  }

  test("Neo4jLoader generates constraint-before-load Cypher with reference constants") {
    val loader = new Neo4jLoader()
    loader.loadNodes("/tmp/f.csv", "Person", "id", Map("source" -> "s"),
      Map("id" -> "Int64", "name" -> "Utf8"), Seq("id"), Seq("name"))
    val all = loader.statements.mkString("\n")
    assert(all.contains("CREATE CONSTRAINT id_Person IF NOT EXISTS"))
    assert(all.contains("CREATE RANGE INDEX name_Person"))
    assert(all.contains("MERGE (n:Person {id: row.id})"))
    assert(all.contains("toInteger(row.id)"))
    assert(all.contains("batchSize: 50000"))
    assert(all.contains("parallel: false"))
    assert(all.contains("arraySep: '|'"))
    // index/constraint statements precede the load statement
    assert(all.indexOf("CREATE CONSTRAINT") < all.indexOf("apoc.periodic.iterate"))
    // plain-word metadata keys pass through unquoted (byte-identical to the
    // reference for clean schemas — the ident() promise); hostile keys get
    // backticks
    assert(all.contains("source: 's'"))
    val hostile = new Neo4jLoader()
    hostile.loadNodes("/tmp/f.csv", "Person", "id", Map("my key" -> "v"),
      Map("id" -> "Int64"), Nil, Nil)
    assert(hostile.statements.mkString("\n").contains("`my key`: 'v'"))
  }

  test("Neo4jLoader edge Cypher honors match/create strategies and 20k batches") {
    val m = new Neo4jLoader(edgeStrategy = "match")
    m.loadEdges("/tmp/e.csv", "KNOWS", "Person:id", "Person:id", Map.empty,
      Map("start" -> "Int64", "end" -> "Utf8"))
    assert(m.statements.head.contains("MATCH (n:Person"))
    assert(m.statements.head.contains("batchSize: 20000"))
    assert(m.statements.head.contains("row.start <> '' AND row.end <> ''"))
    val c = new Neo4jLoader(edgeStrategy = "create")
    c.loadEdges("/tmp/e.csv", "KNOWS", "Person:id", "Person:id", Map.empty, Map.empty)
    assert(c.statements.head.contains("ON CREATE SET n:BlankNode"))
  }

  test("TigerGraphLoader generates schema-change and loading jobs") {
    val loader = new TigerGraphLoader()
    loader.loadNodes("/data/f.csv", "Person", "id", Map.empty,
      Map("id" -> "Int64", "name" -> "Utf8", "tags" -> "List(Utf8)"), Nil, Nil)
    val all = loader.statements.mkString("\n")
    assert(all.contains("ADD VERTEX Person"))
    assert(all.contains("PRIMARY_ID id INT"))
    assert(all.contains("tags LIST<STRING>"))
    assert(all.contains("metadatas MAP<STRING, STRING>"))
    assert(all.contains("""separator=";""""))
    loader.loadEdges("/data/e.csv", "KNOWS", "Person:id", "Person:id", Map.empty, Map.empty)
    assert(loader.statements.exists(_.contains("ADD UNDIRECTED EDGE KNOWS (FROM Person, TO Person)")))
  }

  test("TigerGraphLoader parses loaded counts from gsql output when a runner is wired") {
    // the summary-table shape the reference parses (tigergraph_loader.py:160):
    // line containing ".csv |", cell index 3 after a '|' split
    val gsqlOut =
      """Using graph 'g'
        |  [============] 100%
        ||       FILENAME |   LOADED LINES |   LOADED OBJECTS |   ERROR LINES |
        ||    /data/f.csv |           1501 |             1500 |             0 |
        |Job finished.""".stripMargin
    assert(TigerGraphLoader.parseLoadedCount(gsqlOut) == 1500L)
    // malformed / server-less output degrades to 0, never throws mid-load
    assert(TigerGraphLoader.parseLoadedCount("no table here") == 0L)
    assert(TigerGraphLoader.parseLoadedCount("| x.csv | only-two |") == 0L)
    // executable path: a wired runner sees the loading job and its count
    // feeds the loader's return value (what GraphEtl.load records in stats)
    var seen = Vector.empty[String]
    val loader = new TigerGraphLoader(gsqlRunner = Some { stmt =>
      seen :+= stmt; gsqlOut
    })
    val n = loader.loadNodes("/data/f.csv", "Person", "id", Map.empty,
      Map("id" -> "Int64"), Nil, Nil)
    assert(n == 1500L)
    assert(seen.exists(_.contains("RUN LOADING JOB load_Person")))
    val e = loader.loadEdges("/data/e.csv", "KNOWS", "Person:id", "Person:id",
      Map.empty, Map.empty)
    assert(e == 1500L)
  }

  test("metadata strategies: as_property adds columns, as_edge creates Metadata nodes") {
    // as_property
    val (etl1, _) = staged()
    val prop = new SparkGraphLoader(spark, metadataStrategy = "as_property")
    etl1.load(prop)
    val persons = prop.nodeTable("Person").get
    assert(persons.columns.contains("source"))
    assert(persons.select("source").distinct().as[String].head() == "test")
    etl1.clear()
    // as_edge — reference test_loader.py:26-42 semantics
    val (etl2, _) = staged()
    val asEdge = new SparkGraphLoader(spark, metadataStrategy = "as_edge")
    etl2.load(asEdge)
    val meta = asEdge.nodeTable("Metadata").get
    assert(meta.count() == 1)
    assert(meta.columns.contains("source"))
    val metaEdges = asEdge.edgeTable("HAS_METADATA").get
    assert(metaEdges.count() == 4) // 2 Person + 2 Car nodes link to the metadata node
    etl2.clear()
  }

  test("connection config merges kwargs over defaults, caches, and reloads") {
    val dir = tempDir("graft-conn").toString
    val c1 = ConnectionConfig.resolve(dir, ConnectionConfig.Neo4jDefaults,
      Map("host" -> "bolt://db:7687", "password" -> "s3cret"))
    assert(c1("url") == "bolt://db:7687") // host aliased to url
    assert(c1("password") == "s3cret")
    assert(c1("username") == "neo4j") // default preserved
    // no kwargs -> cached file is reloaded
    val c2 = ConnectionConfig.resolve(dir, ConnectionConfig.Neo4jDefaults)
    assert(c2 == c1)
  }

  test("OWL and SHACL exporters render the staged schema") {
    val owl = new OwlCallback(functionalProps = Set("name"))
    val shacl = new ShaclCallback(functionalProps = Set("name"))
    Seq(owl, shacl).foreach { cb =>
      cb.onSaveNodes("Person", Map("id" -> "Int64", "name" -> "Utf8"),
        Map("source" -> "test"), "id", Seq("id"), Nil)
      cb.onSaveEdges("KNOWS", "Person", "Person", Map.empty, Map.empty)
    }
    val owlText = owl.render()
    assert(owlText.contains(":Person a owl:Class ; rdfs:subClassOf owl:Thing"))
    assert(owlText.contains("owl:FunctionalProperty"))
    assert(owlText.contains(":KNOWS a owl:ObjectProperty"))
    val ttl = shacl.render()
    assert(ttl.contains(":PersonShape a sh:NodeShape"))
    assert(ttl.contains("sh:closed true"))
    // closed shapes must exempt rdf:type or every typed instance fails
    assert(ttl.contains("sh:ignoredProperties ( rdf:type )"))
    assert(ttl.contains("sh:maxCount 1"))
    assert(ttl.contains("sh:nodeKind sh:IRI"))
  }

  test("exporters percent-encode names that are not valid Turtle local parts") {
    val owl = new OwlCallback()
    owl.onSaveNodes("My Label", Map("first name" -> "Utf8", "price($)" -> "Float64"),
      Map.empty, "first name", Nil, Nil)
    val text = owl.render()
    assert(text.contains(":My%20Label a owl:Class"))
    assert(text.contains(":first%20name a owl:DatatypeProperty"))
    assert(text.contains(":price%28%24%29"))
    assert(!text.contains(": price")) // no bare space leaked into a name
  }

  test("connection config rejects multi-line values instead of truncating on reload") {
    val dir = tempDir("graft-conn-nl").toString
    val ex = intercept[IllegalArgumentException] {
      ConnectionConfig.resolve(dir, ConnectionConfig.Neo4jDefaults,
        Map("password" -> "abc\ndef"))
    }
    assert(ex.getMessage.contains("single-line"))
  }
}
