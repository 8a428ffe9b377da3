package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.{Catalog, GraphEtl, GraphFilter, OwlCallback, ShaclCallback, SparkGraphLoader}
import graft.graph.GraphOps

/** The reference's example workload shape end-to-end (example/imdb.py →
  * SURVEY §7.2 M0 "golden slice"): movies + exploded actor lists → staged
  * node/edge files with auto Person:name → Person:id endpoint resolution →
  * in-session load → GraphX materialization → "top actor by movie count".
  * Exercises S3/S4, P1-P7, F1-F4, A1-A4, W1, K1/K2/K4, J2/J4, X1/X3, C1-C3
  * in one path. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("movie graph: parse -> map -> load -> GraphX top actor") {
    val dir = tempDir("graft-e2e").toString
    val etl = new GraphEtl(spark, dir)

    val movies = Seq(
      (1L, "Heat", "Mann", "Al Pacino, Robert De Niro, Val Kilmer"),
      (2L, "The Irishman", "Scorsese", "Robert De Niro, Al Pacino, Joe Pesci"),
      (3L, "Serpico", "Lumet", "Al Pacino"),
      (4L, "Casino", "Scorsese", "Robert De Niro, Joe Pesci")
    ).toDF("rank", "title", "director", "actors")

    etl.parser("imdb", Map("source" -> "imdb", "licence" -> "CC0")) { ctx =>
      // Movie nodes (pk = rank, like the example's Rank -> Movie.id)
      ctx.saveNodes(movies.select(col("rank").as("id"), col("title")), "Movie")
      // Person nodes from the exploded actor list (F3 split + F4 explode),
      // ids assigned by dense numbering of distinct names
      val actors = movies
        .select(explode(split(col("actors"), ", ")).as("name"))
        .distinct()
      val persons = actors.withColumn("id", abs(xxhash64(col("name"))))
      ctx.saveNodes(persons.select(col("id"), col("name")), "Person")
      // ACTED_IN edges address Person by NAME -> auto pk-resolution (J2)
      val acted = movies
        .select(col("rank").as("start"), explode(split(col("actors"), ", ")).as("end"))
      ctx.saveEdges(acted, "ACTED_IN", "Movie:id", "Person:name")
    }
    etl.parse()

    // catalog: endpoint repointed by the auto-mapping pass
    val (_, edgeCfg) = etl.store.catalog.edges("ACTED_IN").head
    assert(edgeCfg.end == "Person:id")
    assert(etl.store.catalog.nodes.keySet == Set("Movie", "Person"))

    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(loader)
    val nodes = loader.nodes.get.cache()
    val edges = loader.edges.get.cache()
    assert(nodes.where(col("label") === "Movie").count() == 4)
    assert(nodes.where(col("label") === "Person").count() == 4)
    assert(edges.count() == 9) // all endpoints resolve after auto-mapping

    // GraphX: actor in-degree = movie count; Pacino and De Niro tie at 3
    val degrees = GraphOps.degrees(nodes, edges)
    val topActors = degrees.where(col("label") === "Person")
      .join(nodes.where(col("label") === "Person").select(col("id"), col("name")), "id")
      .orderBy(col("in_deg").desc, col("name"))
      .select("name").as[String].collect()
    assert(topActors.take(2).toSet == Set("Al Pacino", "Robert De Niro"))

    // the full GraphX materialization also agrees
    val g = GraphOps.toGraphX(nodes, edges)
    assert(g.numVertices == 8 && g.numEdges == 9)
    etl.clear()
  }

  test("reference example scripts ported: CSV fixtures -> parse -> load -> golden catalog") {
    // example/imdb.py + example/oscar.py + example/main.py end-to-end on
    // committed fixtures with the reference's exact file schemas (fictional
    // rows). Asserts the persisted configs.json against the reference's
    // catalog layout (utils.py:99-119) with normalized file names.
    val dir = tempDir("graft-e2e-example").toString
    val etl = new GraphEtl(spark, dir)

    // imdb.py — sources_path declared, source=kaggle metadata
    etl.parser("parse_imdb", Map("source" -> "kaggle"),
      sourcesPath = Seq("src/test/resources/fixtures/IMDB-Movie-Data.csv")) { ctx =>
      val df = spark.read.option("header", "true")
        .csv("src/test/resources/fixtures/IMDB-Movie-Data.csv")
        .select(col("Rank").cast("long").as("id"), col("Title").as("title"),
          col("Director"), col("Actors"))
        .withColumn("Actors", explode(split(col("Actors"), ", ")))
      ctx.saveNodes(df.select(col("id"), col("title")), "Movie")
      ctx.saveNodes(
        df.select(col("Actors").as("name"))
          .unionByName(df.select(col("Director").as("name"))),
        "Person", primaryKey = "name")
      ctx.saveEdges(df.select(col("Actors").as("start"), col("id").as("end")),
        "ACTED_IN", "Person:name", "Movie:id")
      ctx.saveEdges(df.select(col("Director").as("start"), col("id").as("end")),
        "DIRECTED", "Person:name", "Movie:id")
    }

    // oscar.py — Award nodes + AWARDED_FOR edges against imdb's Person
    etl.parser("parse_oscar", Map("source" -> "kaggle"),
      sourcesPath = Seq("src/test/resources/fixtures/the_oscar_award.csv")) { ctx =>
      val df = spark.read.option("header", "true")
        .csv("src/test/resources/fixtures/the_oscar_award.csv")
      ctx.saveNodes(df.select(col("category")), "Award", primaryKey = "category")
      ctx.saveEdges(df.select(col("name").as("start"), col("category").as("end")),
        "AWARDED_FOR", "Person:name", "Award:category")
    }

    // main.py — whitelist filter + OWL/SHACL callbacks
    val filter = new GraphFilter()
      .addEdges(Seq("AWARDED_FOR", "ACTED_IN"))
      .addNodes(Seq("Movie", "Person", "Award"))
    etl.init(filter = Some(filter),
      callbacks = Seq(new OwlCallback(), new ShaclCallback()))
    etl.parse()

    // ---- golden catalog (normalized file names; layout = utils.py:99-119)
    val cat = Catalog.fromJson(
      Files.readString(java.nio.file.Paths.get(dir, "configs", "configs.json")))
    assert(cat.nodes.keySet == Set("Movie", "Person", "Award"))
    val movie = cat.nodes("Movie")
    assert(movie.primary_key == "id")
    assert(movie.properties_type == Map("id" -> "Int64", "title" -> "Utf8"))
    assert(movie.files.values.map(_.count).sum == 8) // deduped from 21 exploded rows
    assert(movie.files.values.forall(_.metadatas == Map("source" -> "kaggle")))
    val person = cat.nodes("Person")
    assert(person.primary_key == "name")
    assert(person.properties_type == Map("name" -> "Utf8"))
    assert(person.files.values.map(_.count).sum == 10) // 6 actors + 4 directors
    assert(cat.nodes("Award").primary_key == "category")
    assert(cat.nodes("Award").files.values.map(_.count).sum == 3) // distinct categories
    assert(cat.edges.keySet == Set("ACTED_IN", "DIRECTED", "AWARDED_FOR"))
    val acted = cat.edges("ACTED_IN").values
    assert(acted.map(_.count).sum == 21)
    // Person's pk IS name -> pass B leaves the endpoint spec untouched
    assert(acted.forall(c => c.start == "Person:name" && c.end == "Movie:id"))
    assert(cat.edges("AWARDED_FOR").values.forall(c =>
      c.start == "Person:name" && c.end == "Award:category"))
    assert(cat.edges("AWARDED_FOR").values.map(_.count).sum == 8)
    // raw JSON carries the reference's field names at the reference's depth
    val rawJson = Files.readString(java.nio.file.Paths.get(dir, "configs", "configs.json"))
    Seq("\"nodes\"", "\"edges\"", "\"primary_key\"", "\"properties_type\"",
      "\"metadatas\"", "\"count\"", "\"start\"", "\"end\"", "\"ignore_mapping\"")
      .foreach(k => assert(rawJson.contains(k), s"catalog JSON missing $k"))

    // ---- load + graph query (main.py loads Neo4JLoader; the in-session
    // loader is the executable twin). The whitelist filter skips nothing
    // here (no metadata filter -> skipParse=false; reference truth table).
    val loader = new SparkGraphLoader(spark, edgeStrategy = "match")
    etl.load(loader)

    // callbacks rendered the schema files at load (callbacks.py save hook)
    assert(Files.exists(java.nio.file.Paths.get(dir, "file.owl")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "file.ttl")))
    val owlText = Files.readString(java.nio.file.Paths.get(dir, "file.owl"))
    assert(owlText.contains(":Movie a owl:Class"))
    assert(owlText.contains(":AWARDED_FOR a owl:ObjectProperty"))
    assert(loader.nodeTable("Movie").get.count() == 8)
    assert(loader.nodeTable("Person").get.count() == 10)
    assert(loader.nodeTable("Award").get.count() == 3)
    assert(loader.edgeTable("ACTED_IN").get.count() == 21)
    assert(loader.edgeTable("AWARDED_FOR").get.count() == 8)
    // most-featured performer by ACTED_IN out-degree
    val top = loader.edgeTable("ACTED_IN").get
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("src")).select("src").as[String].head()
    assert(top == "Anna Keld") // 4 roles in the fixture
    etl.clear()
  }

  test("cross-parser auto-mapping: edges staged by one parser resolve against nodes from another") {
    // the reference's example/main.py shape: the oscars parser emits
    // AWARDED_FOR edges addressed by Person:name, while Person nodes come
    // from the separately-registered imdb parser
    val dir = tempDir("graft-e2e-cross").toString
    val etl = new GraphEtl(spark, dir)

    etl.parser("people", Map("source" -> "imdb")) { ctx =>
      ctx.saveNodes(Seq(
        (1L, "Katharine Hepburn"), (2L, "Spencer Tracy"), (3L, "Humphrey Bogart")
      ).toDF("id", "name"), "Person")
    }
    etl.parser("oscars", Map("source" -> "oscars")) { ctx =>
      ctx.saveNodes(Seq(
        ("BEST ACTRESS", 1934L), ("BEST ACTOR", 1952L)
      ).toDF("category", "year").withColumnRenamed("category", "id"), "Award")
      ctx.saveEdges(Seq(
        ("Katharine Hepburn", "BEST ACTRESS"),
        ("Humphrey Bogart", "BEST ACTOR")
      ).toDF("start", "end"), "AWARDED_FOR", "Person:name", "Award:id")
    }
    etl.parse()

    val (_, cfg) = etl.store.catalog.edges("AWARDED_FOR").head
    assert(cfg.start == "Person:id") // repointed across parsers
    val loader = new SparkGraphLoader(spark)
    etl.load(loader)
    val edges = loader.edgeTable("AWARDED_FOR").get
    assert(edges.count() == 2)
    val starts = edges.select(col("src")).as[String].collect().toSet
    assert(starts == Set("1", "3")) // Hepburn and Bogart ids, not names
    etl.clear()
  }

  test("driver contract: SparkEntry.entry returns rows on the smoke fixture") {
    // the driver's exact smoke check (entry at sf0.001, rows > 0) — pinned
    // here so a broken flagship query fails in CI before the driver sees it
    assert(SparkEntry.entry(spark).count() > 0L)
  }
}
