package graft

import java.nio.file.{Files, Paths}

import graft.staging.Staging

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val Usage =
    "usage: graft.Verify <sfDir> <outDir> [onlyQuery1,onlyQuery2,...]"

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    // args: sfDir outDir [onlyQuery1,onlyQuery2,...] — the optional third
    // arg restricts the dump to named queries (local spot checks; the
    // driver always passes exactly two args and gets the full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Set.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    // the registry is read once: this view drives both the dump and
    // n_queries, and an unknown name fails here, before any Spark work
    val selected = try SparkEntry.restrictTo(only)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}\n$Usage")
        sys.exit(2)
      }
    // fail-fast digest resolution + stale-staging GC before any Spark work
    Staging.initStaging()
    val spark = GraftSession.build(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      // remove any pre-existing output FIRST: a stale parquet from an
      // earlier run must never pass verification for a query that now fails
      val target = Paths.get(s"$outDir/$name")
      // shared helper (closes its streams — a bare Files.walk leaks a
      // directory fd per call until GC)
      def deleteRecursively(p: java.nio.file.Path): Unit =
        graft.etl.Context.deleteRecursively(p)
      deleteRecursively(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must be LOUD in the correctness artifact. Round 5
        // silently deleted the output, so the driver emitted no row at all
        // and a broken query read as "one fewer query". Instead: replace
        // the output with a single-row sentinel whose schema can never
        // match any oracle — the driver's own compare then surfaces the
        // query as a red rows/schema/hash cell rather than vanishing it.
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage).take(500)
        deleteRecursively(target) // no partial output under the sentinel
        import spark.implicits._
        Seq((name, String.valueOf(e.getMessage).take(500)))
          .toDF("verify_error_query", "verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // human-readable failure manifest alongside the per-query sentinels
    // (empty object on a clean run — its PRESENCE signals the run finished)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // gate-budget telemetry (the round-7 lesson: the driver's compare has
    // a wall-clock budget, and an empty CORRECTNESS artifact was the only
    // symptom of blowing it) — record this dump's own wall time and query
    // count so every correctness artifact carries the trend
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"verify_wall_sec": ${(System.nanoTime() - t0) / 1e9}, """ +
        s""""n_queries": ${selected.size}, """ +
        s""""n_failures": ${failures.size}, "sf_dir": ${q(sfDir)}}""")
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
