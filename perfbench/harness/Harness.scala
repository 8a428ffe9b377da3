package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.etl.{GraphEtl, SparkGraphLoader}
import graft.graph.GraphOps

/** One timed workload in one process: a single client runs the workload's
  * ops back to back (closed loop) on `local[cpus]`, first one cold pass,
  * then warm passes until the measuring time is used up, then one untimed
  * output dump per op for the checker.
  *
  * Every op is wrapped in a span (name, layer, start, end, parent, pass).
  * With `--trace 1` a [[JobListener]] records every Spark job with the
  * span id the harness puts in the `perfbench.span` local property around
  * each call; odd warm passes run listener-off and even ones listener-on,
  * so the run reports its own tracing overhead. Spans, jobs and counts go to
  * `result.json` at the end; `run.py` derives the metrics from them.
  *
  * Usage: Harness --workload W --input DIR --work DIR --cpus N
  *                --seconds S --trace 0|1 [--run-id ID] [--ops layer:op,...]
  */
object Harness {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, name: String, layer: String, parent: Long,
      pass: Int, startMs: Double, endMs: Double)

  /** Wall clock in epoch ms with sub-ms resolution, on the same base as the
    * listener's event times. */
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  final class Tracer(sc: SparkContext) {
    val spans = mutable.ArrayBuffer.empty[Span]
    var tagJobs = false
    var pass = -1
    private var stack: List[(Long, String)] = Nil
    private var nextId = 0L

    def span[A](name: String, layer: String = "")(body: => A): A = {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val lay = if (layer.nonEmpty) layer else stack.headOption.map(_._2).getOrElse("")
      stack = (id, lay) :: stack
      if (tagJobs) sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        stack = stack.tail
        if (tagJobs) sc.setLocalProperty(SpanKey, stack.headOption.map(_._1.toString).orNull)
        spans += Span(id, name, lay, parent, pass, t0, t1)
      }
    }
  }

  final class JobRec(val id: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks, taskMs, cpuNs, gcMs, shuffleBytes, spillBytes, scanBytes = 0L
  }

  /** Per-job task totals, keyed to the submitting span. */
  final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val rec = new JobRec(e.jobId, span, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val rec = stageJob.get(e.stageId)
      if (m != null && rec != null) rec.synchronized {
        rec.tasks += 1
        rec.taskMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.scanBytes += m.inputMetrics.bytesRead
      }
    }
  }

  final case class Failure(op: String, pass: Int, error: String)
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"

  /** A workload: its ops in pass order, how to run one, and the untimed dump
    * of each op's output for the checker. */
  trait Workload {
    def ops: Seq[String]
    def layerOf(op: String): String
    /** Warm passes an untraced run makes at least. The first half of the
      * warm passes still carries warm-up and is left out of the metrics. */
    def minWarmPasses: Int
    def beginPass(pass: Int): Unit = ()
    def run(op: String, t: Tracer): Unit
    /** Units of the untimed output dump: each op, or one for the whole run. */
    def dumpUnits: Seq[String] = ops
    def dump(unit: String, outDir: String): Unit
    /** op -> oracle SQL, for the checker. */
    def oracle: Map[String, String] = Map.empty
    /** Bytes this workload has written to storage so far. */
    def storedBytes(): Long
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally st.close()
    }

  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val st = Files.list(p)
      try st.iterator().asScala.toList finally st.close()
    }

  /** Registry ops: `SparkEntry.queries(name)` builds the frame (eager pins
    * included), the physical plan is forced, then every output row is
    * materialized through `toRdd`, as Bench does. */
  final class RegistryWorkload(spark: SparkSession, dir: String, layers: Seq[(String, String)],
      warehouse: Path) extends Workload {
    private val fns = SparkEntry.queries
    private val layer = layers.map(_.swap).toMap
    val ops: Seq[String] = layers.map(_._2)
    ops.foreach(o => require(fns.contains(o), s"unknown registry op '$o'"))
    def layerOf(op: String): String = layer(op)
    // short passes whose op times keep falling for several passes; the
    // metrics use the second half of the warm passes (see run.py)
    val minWarmPasses = 8
    def run(op: String, t: Tracer): Unit = {
      val df = t.span("registry.build")(fns(op)(spark, dir))
      t.span("planner.plan")(df.queryExecution.executedPlan)
      t.span("execute")(df.queryExecution.toRdd.count())
    }
    def dump(op: String, outDir: String): Unit =
      fns(op)(spark, dir).coalesce(1).write.parquet(s"$outDir/$op")
    override def oracle: Map[String, String] = {
      val sql = SparkEntry.oracleSql
      ops.flatMap(op => sql.get(op).map(op -> _)).toMap
    }
    /** Staged parquet under /tmp/graft_* plus the bucketed warehouse tables. */
    def storedBytes(): Long =
      listDir(Paths.get("/tmp")).filter(_.getFileName.toString.startsWith("graft_"))
        .map(dirBytes).sum + dirBytes(warehouse)
  }

  /** The paper's staging path: parse (saveNodes x4, saveEdges x3 with one
    * explicit mapIds) -> mapProperties -> load -> degrees / toGraphX, into a
    * fresh output dir per pass. */
  final class EtlWorkload(spark: SparkSession, inDir: String, workDir: String)
      extends Workload {
    val ops = Seq("etl.parse", "etl.map_properties", "etl.load", "graph.degrees", "graph.to_graphx")
    def layerOf(op: String): String = op.takeWhile(_ != '.')
    val minWarmPasses = 2
    private val root = Paths.get(workDir, "etl")
    private var pass = -1
    private var etl: GraphEtl = _
    private var loader: SparkGraphLoader = _
    private var graph: org.apache.spark.graphx.Graph[(String, String), String] = _
    private var currentTracer: Tracer = _
    val counts = mutable.LinkedHashMap.empty[String, Long]
    private def src(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")
    private def outDir: Path = root.resolve(s"pass_$pass")

    override def beginPass(p: Int): Unit = {
      // at most one pass's leftovers stay pinned: drop the previous pass's
      // graph, cached frames and staged files before this pass starts
      if (graph != null) graph.unpersist(blocking = true)
      spark.catalog.clearCache()
      if (pass >= 0) deleteTree(outDir)
      pass = p
      etl = new GraphEtl(spark, outDir.toString)
      loader = new SparkGraphLoader(spark)
      etl.parser("nodes") { ctx =>
        currentTracer.span("etl.save_nodes") {
          ctx.saveNodes(src("etl_customer"), "Customer")
          ctx.saveNodes(src("etl_part"), "Part")
          ctx.saveNodes(src("etl_supplier"), "Supplier")
          ctx.saveNodes(src("etl_order"), "Order")
        }
      }
      etl.parser("edges") { ctx =>
        currentTracer.span("etl.save_edges") {
          ctx.saveEdges(src("etl_placed_by"), "PLACED_BY", "Order:id", "Customer:c_name")
          ctx.saveEdges(src("etl_contains"), "CONTAINS", "Order:id", "Part:id")
          ctx.saveEdges(src("etl_supplied_by"), "SUPPLIED_BY", "Part:id", "Supplier:id")
          ctx.mapIds(src("etl_supplier").select(col("suppkey").as("old_value"),
            col("id").as("new_value")), "Supplier:id")
        }
        counts("staged_bytes") = dirBytes(outDir)
      }
    }

    private def edgeFiles(): Map[String, (Long, Long)] =
      listDir(etl.store.edgesDir).map(p =>
        p.getFileName.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

    def run(op: String, t: Tracer): Unit = {
      currentTracer = t
      op match {
        case "etl.parse" => etl.parse(useMapper = false)
        case "etl.map_properties" =>
          val before = edgeFiles()
          t.span("etl.map_properties")(etl.mapProperties())
          counts("rewrite_bytes") = edgeFiles().collect {
            case (f, (size, mtime)) if !before.get(f).contains((size, mtime)) => size
          }.sum
          counts("final_staged_bytes") = dirBytes(outDir)
        case "etl.load" => t.span("etl.load")(etl.load(loader))
        case "graph.degrees" =>
          t.span("graph.materialize")(
            GraphOps.degrees(loader.nodes.get, loader.edges.get).queryExecution.toRdd.count())
        case "graph.to_graphx" =>
          t.span("graph.materialize") {
            graph = GraphOps.toGraphX(loader.nodes.get, loader.edges.get)
          }
      }
    }

    override def dumpUnits: Seq[String] = Seq("etl")
    def dump(unit: String, out: String): Unit = {
      loader.nodes.get.select("label", "id").coalesce(1).write.parquet(s"$out/nodes")
      loader.edges.get.select("type", "src", "dst").coalesce(1).write.parquet(s"$out/edges")
      loader.nodeTable("Customer").get.coalesce(1).write.parquet(s"$out/customer")
      GraphOps.degrees(loader.nodes.get, loader.edges.get).coalesce(1).write.parquet(s"$out/degrees")
      Files.copy(etl.store.configsPath, Paths.get(out, "catalog.json"))
      Files.writeString(Paths.get(out, "graphx.json"),
        s"""{"vertices":${graph.numVertices},"edges":${graph.numEdges}}""")
    }
    /** The staged CSVs plus the catalog of the current pass. */
    def storedBytes(): Long = dirBytes(outDir)
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def jnum(d: Double): String = String.format(java.util.Locale.ROOT, "%.6f", d)

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val workload = a("workload")
    val inDir = a("input")
    val workDir = a("work")
    val cpus = a("cpus").toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(s"--cpus must be a positive integer, got '${a("cpus")}'"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val warehouse = Paths.get(workDir, "warehouse")

    val t0 = nowMs()
    // Bench's session settings (see graft.Bench)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionEnd = nowMs()
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    t.spans += Span(0, "session.start", "session", -1, -1, t0, sessionEnd)
    val listener = new JobListener
    // listener events arrive asynchronously: deliver every event posted so
    // far before the listener is removed, so the last jobs keep their totals
    def trace(on: Boolean): Unit = if (on != t.tagJobs) {
      if (on) sc.addSparkListener(listener)
      else { org.apache.spark.ListenerBusAccess.drain(sc); sc.removeSparkListener(listener) }
      t.tagJobs = on
    }
    if (traced) trace(true)

    val w: Workload = workload match {
      case "etl_pipeline" => new EtlWorkload(spark, inDir, workDir)
      case "registry_mix" =>
        // --ops layer:op,layer:op,...
        val layered = a("ops").split(",").toSeq.map { lo =>
          val Array(layer, op) = lo.split(":", 2); layer -> op
        }
        new RegistryWorkload(spark, inDir, layered, warehouse)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0L
    final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double, gcMs: Double,
        cachedBytes: Long)
    val passes = mutable.ArrayBuffer.empty[Pass]
    def runPass(p: Int): Unit = {
      t.pass = p
      w.beginPass(p)
      var gcMs = 0.0
      val ps = nowMs()
      w.ops.foreach { op =>
        val g0 = nowMs(); System.gc(); gcMs += nowMs() - g0
        attempted += 1
        try t.span(s"op:$op", w.layerOf(op))(w.run(op, t))
        catch { case e: Throwable => failures += Failure(op, p, describe(e)) }
      }
      val pe = nowMs()
      val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      passes += Pass(p, t.tagJobs, ps, pe, gcMs, cached)
    }

    runPass(0)
    val coldEnd = nowMs()
    val storedAfterCold = w.storedBytes()
    var p = 1
    val measureEnd = coldEnd + seconds * 1000
    // a traced run alternates listener off (odd passes) and on (even
    // passes), so its measured second half needs at least one pass of each
    val minPasses = if (traced) math.max(3, w.minWarmPasses) else w.minWarmPasses
    while (p <= minPasses || nowMs() < measureEnd) {
      if (traced) trace(p % 2 == 0)
      runPass(p)
      p += 1
    }
    if (traced) trace(true)
    val stored = math.max(storedAfterCold, w.storedBytes())
    // full GCs with pauses between them, so the ContextCleaner can release
    // what the first collection made unreachable
    val retainedBytes = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min

    t.pass = -2
    val outDir = Paths.get(workDir, "out").toString
    w.dumpUnits.foreach { u =>
      try t.span(s"dump:$u")(w.dump(u, outDir))
      catch { case e: Throwable => failures += Failure(s"dump:$u", -2, describe(e)) }
    }
    if (traced) org.apache.spark.ListenerBusAccess.drain(sc)

    val counts = w match {
      case e: EtlWorkload => e.counts.toMap
      case _ => Map.empty[String, Long]
    }
    val sb = new StringBuilder
    sb ++= s"""{"workload":${jstr(workload)},"cpus":$cpus,"traced":$traced,"run_id":${jstr(a.getOrElse("run-id", ""))},"""
    sb ++= s""""jvm_start_ms":${jnum(startMs)},"cold_end_ms":${jnum(coldEnd)},"""
    sb ++= s""""retained_bytes":$retainedBytes,"stored_bytes":$stored,"attempted":$attempted,"""
    sb ++= s""""counts":{${counts.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")}},"""
    sb ++= s""""failures":[${failures.map(f => s"""{"op":${jstr(f.op)},"pass":${f.pass},"error":${jstr(f.error)}}""").mkString(",")}],"""
    sb ++= s""""oracle":{${w.oracle.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")}},"""
    sb ++= s""""passes":[${passes.map(q => s"""{"index":${q.index},"traced":${q.traced},"start_ms":${jnum(q.startMs)},"end_ms":${jnum(q.endMs)},"gc_ms":${jnum(q.gcMs)},"cached_bytes":${q.cachedBytes}}""").mkString(",")}],"""
    sb ++= s""""spans":[${t.spans.map(s => s"""{"id":${s.id},"name":${jstr(s.name)},"layer":${jstr(s.layer)},"parent":${s.parent},"pass":${s.pass},"start_ms":${jnum(s.startMs)},"end_ms":${jnum(s.endMs)}}""").mkString(",")}],"""
    val jobs = listener.jobs.values.asScala.toSeq.sortBy(_.id)
    sb ++= s""""jobs":[${jobs.map(j => s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"task_ms":${j.taskMs},"cpu_ms":${jnum(j.cpuNs / 1e6)},"gc_ms":${j.gcMs},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},"scan_bytes":${j.scanBytes}}""").mkString(",")}]}"""
    Files.writeString(Paths.get(workDir, "result.json"), sb.toString)
    spark.stop()
  }
}
