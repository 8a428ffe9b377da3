package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ThreadBridge
import org.apache.spark.storage.StorageLevel

/** GraphX materialization of the staged property graph and the graph
  * algorithms the engine exposes over it.
  *
  * Input frames follow the [[graft.etl.SparkGraphLoader]] layout:
  *   nodes(label, id, …props)   edges(type, src, dst, …props)
  * with string ids scoped by label.
  *
  * Vertex-id assignment: GraphX needs Long ids. `denseIds` assigns exact
  * collision-free ids via `zipWithIndex` over the distinct (label,id) set —
  * one narrow extra job plus two joins to translate edge endpoints. That is
  * the 100 TB-safe path (a 64-bit hash of ~4B+ nodes has a non-negligible
  * birthday-collision probability; dense ids never collide). Degree-style
  * questions that don't need graph structure should stay in DataFrame land
  * (a `groupBy(dst).count()` beats building a graph).
  */
object GraphOps {

  /** The `assumeSymmetric` contract shared by every undirected operator
    * below: the caller certifies `edges` is ALREADY the symmetric closure
    * of a distinct, loop-free undirected edge set — both orientations of
    * every edge present exactly once — PLUS one `(n, n)` self-loop per
    * node (the staged bucketed layout `StagedArtifacts.stagedCoPurchaseSym`
    * writes). Under the contract each operator's internal edge derivation
    * collapses from a union + distinct (which re-EXCHANGES the edge frame
    * and destroys a bucketed scan's partitioning) to a scan-preserving
    * filter/projection:
    *   symmetric loop-free set  = `src =!= dst`
    *   canonical a < b set      = `src < dst`  (each pair appears once)
    *   canonical u > v set      = `src > dst`
    *   self-loop-closed set     = the frame itself
    *   node degrees             = `groupBy(src)` over the loop-free set —
    *                              exchange-free when bucketed on src
    * Row-identity of each derivation with the unflagged path is what
    * keeps every oracle untouched; GraphOpsSpec pins it. */
  private def symmetricLoopFree(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.where(col(srcCol) =!= col(dstCol))

  /** Node degrees from a contract-certified symmetric frame: one
    * map-combined count per source key — no explode, and exchange-free
    * over a src-bucketed scan. Columns (n, d). */
  private def symmetricDegrees(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    symmetricLoopFree(edges, srcCol, dstCol)
      .groupBy(col(srcCol).as("n")).agg(count(lit(1)).as("d"))

  /** Distinct vertices with dense Long ids: (vid, label, id). The distinct
    * set is TOTALLY ORDERED before zipWithIndex: a lost executor recomputes
    * dropped partitions through this lineage after the cache is released,
    * and only a deterministic order guarantees the recomputed partitions
    * assign the same vids the surviving ones hold — unordered distinct()
    * output could silently rewire edges on fault recovery. One extra sort
    * of (label, id) pairs, paid once per graph build. */
  def denseVertexIds(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val distinctNodes = nodes.select(col("label"), col("id")).distinct()
      .orderBy(col("label"), col("id"))
    val schema = distinctNodes.schema.add("vid", org.apache.spark.sql.types.LongType, false)
    val withIds = distinctNodes.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(withIds, schema)
  }

  /** Build a GraphX graph; vertex attr = (label, id), edge attr = type.
    * The vid table must stay cached while the graph's RDDs materialize
    * (zipWithIndex ids are per-job); both are materialized here so the
    * temporary cache can be released before returning — the graph itself
    * stays persisted at its own storage level. */
  def toGraphX(nodes: DataFrame, edges: DataFrame): Graph[(String, String), String] = {
    val vids = denseVertexIds(nodes).cache()
    val g = toGraphXWithIds(vids, edges)
    g.numVertices; g.numEdges // materialize into the graph's own storage
    vids.unpersist()
    g
  }

  /** Build the graph against a PRE-ASSIGNED vid table. Algorithms that join
    * results back by vid MUST pass the same table here — `zipWithIndex` id
    * assignment is per-job and two separate runs are not guaranteed to
    * agree. */
  def toGraphXWithIds(vids: DataFrame, edges: DataFrame): Graph[(String, String), String] = {
    val vertexRdd = vids.rdd.map(r =>
      (r.getAs[Long]("vid"), (r.getAs[String]("label"), r.getAs[String]("id"))))
    val srcIds = vids.select(col("label").as("start_label"), col("id").as("src"), col("vid").as("src_vid"))
    val dstIds = vids.select(col("label").as("end_label"), col("id").as("dst"), col("vid").as("dst_vid"))
    val translated = edges
      .join(srcIds, Seq("start_label", "src"))
      .join(dstIds, Seq("end_label", "dst"))
      .select(col("src_vid"), col("dst_vid"), col("type"))
    val edgeRdd = translated.rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    Graph(vertexRdd, edgeRdd, ("", ""),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Join algorithm output back to (label, id), materialize it, and release
    * the cached vid table (which must stay cached DURING the algorithm —
    * uncached zipWithIndex could assign different ids to the graph build
    * and the join-back). The returned frame is cached; callers may
    * unpersist it when done. */
  private def withVertexInfo(
      spark: SparkSession, vids: DataFrame, scores: org.apache.spark.rdd.RDD[(VertexId, Double)],
      valueName: String): DataFrame = {
    import spark.implicits._
    val df = scores.toDF("vid", valueName)
    val out = df.join(vids, "vid").select(col("label"), col("id"), col(valueName)).cache()
    out.count()
    vids.unpersist()
    out
  }

  /** In/out/total degrees as a DataFrame: (label, id, in_deg, out_deg). */
  def degrees(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // DataFrame-only implementation — no graph build, two aggregations;
    // this is the plan that survives 100 TB (GraphX reserved for iterative
    // algorithms below)
    val out = edges.groupBy(col("start_label").as("label"), col("src").as("id"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("end_label").as("label"), col("dst").as("id"))
      .agg(count(lit(1)).as("in_deg"))
    nodes.select("label", "id").distinct()
      .join(out, Seq("label", "id"), "left_outer")
      .join(in, Seq("label", "id"), "left_outer")
      .na.fill(0L, Seq("out_deg", "in_deg"))
  }

  /** Eager localCheckpoint that RECORDS the input's bucket-layout
    * partitioning into the pinned frame. A bare `localCheckpoint(true)`
    * on a (projection/filter of a) bucketed scan loses the layout:
    * auto-bucketed-scan sees that the checkpoint's own mini-plan needs
    * no particular distribution, reads the files unbucketed, and the
    * resulting LogicalRDD reports Unknown partitioning — every
    * downstream per-round join/agg on the bucket key then re-exchanges
    * a frame that was already laid out for it (the r14 PlanSpec pin
    * surfaced exactly this). Disabling the auto rule for the one eager
    * planning+execution of the pin makes the scan bucket-aware, so the
    * checkpointed RDD carries HashPartitioning(bucket key) and the
    * per-iteration loops below fold on it with ZERO exchange. For
    * non-bucketed inputs the whole move is a no-op.
    *
    * The disable is SESSION-LOCAL by construction: the pin re-plans the
    * frame on a `cloneSession()` whose conf carries the flag off, so no
    * planner on the caller's session can ever observe auto-bucketed-scan
    * disabled — there is no shared-conf flip, no restore window, and no
    * serialization lock (r14 flipped the shared conf under a lock, which
    * a concurrent bystander could still see mid-pin). The checkpointed
    * RDD lives in the shared SparkContext, so the returned frame joins
    * main-session frames as usual. Clones are cached per session (conf
    * snapshot at first pin — acceptable because only planner conf matters
    * to a checkpoint, and graft entry points fix planner conf at session
    * build); the cache is weak-keyed so closed sessions release.
    *
    * The pin re-binds the OPTIMIZED plan, not the analyzed one (r15):
    * `Dataset.checkpoint` records the physical plan's outputPartitioning
    * against the LOGICAL plan's output attributes, and the two disagree
    * whenever the optimizer strips a redundant self-alias
    * (`col("a").as("a")` — RemoveRedundantAliases reverts the physical
    * output to the scan's expr ids while the analyzed output keeps the
    * alias's fresh ids). The checkpoint then carries a partitioning over
    * ids its own output doesn't contain, and every downstream join/agg
    * re-exchanges a frame that was laid out for it — SILENTLY, plans
    * only (bit-identical results). Binding the optimized plan makes the
    * logical output ids equal the physical ones by construction, so the
    * recorded layout always attaches — for every caller, whatever
    * aliases it wrote. (Found by the r15 q_bfs_dist plan pin; the same
    * degenerate self-alias sat in hitsFixedPoint's forward-edge pin.)
    *
    * The checkpoint itself goes through [[org.apache.spark.sql
    * .graftbridge.DatasetBridge.localCheckpointKeepingLayout]], which
    * additionally strips catalog qualifiers from the recorded output so
    * `LogicalRDD.newInstance()` can remap the partitioning when
    * `DeduplicateRelations` re-instances the pinned frame — a bare
    * `Dataset.localCheckpoint` keeps the layout only on the FIRST
    * reference in a multi-reference plan (the r15 q_bfs_dist pin caught
    * both defects; rationale at the bridge). */
  private def pinKeepingLayout(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val clone = pinClones.synchronized {
      pinClones.getOrElseUpdate(s, {
        val c = org.apache.spark.sql.graftbridge.DatasetBridge.cloneSession(s)
        c.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        c
      })
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.localCheckpointKeepingLayout(
      org.apache.spark.sql.graftbridge.DatasetBridge
        .ofRows(clone, df.queryExecution.optimizedPlan))
  }

  private[this] val pinClones =
    new scala.collection.mutable.WeakHashMap[SparkSession, SparkSession]

  /** Test hook for [[pinKeepingLayout]] — lets PlanSpec replay one
    * fixed-point round with the REAL pin semantics; never used by query
    * paths. */
  private[graft] def pinForProbe(df: DataFrame): DataFrame = pinKeepingLayout(df)

  /** Re-bind a fixed-point loop's working frame onto a cached cloned
    * session with ADAPTIVE EXECUTION OFF — every per-round job the loop
    * runs over the frame (checkpoints, convergence aggregates, broadcast
    * builds) then executes as ONE classic job instead of one driver-
    * replanned job per query stage.
    *
    * Why (r16, from the r15 JobProfile decomposition): the iterative
    * operators are per-job-latency-bound at bench scale — q_components
    * ran 57 jobs of which ~50 carried under 0.1 s of task time; q_hits
    * ~25, q_mmr_rerank 44 — and inside a loop whose per-round plans are
    * already exchange-free (hits/pagerank/bfs: broadcast-hinted joins +
    * in-place folds) or bounded (the contracting star/peel rounds), AQE
    * has nothing left to re-optimize: its only observable effect is one
    * extra stage-materialization job + driver replan per exchange per
    * round. Results are bit-identical by construction (same deterministic
    * integer plans, AQE never changes semantics).
    *
    * SCALE GATE: AQE's per-round value (coalescing, skew splits, runtime
    * join re-selection) grows with the loop's working-set size, so the
    * rebind applies only when the frame's planner size estimate is under
    * [[LoopAqeOffMaxBytes]] (4 GiB — rounds over inputs that small
    * shuffle at most hundreds of MB, where fixed per-stage driver latency
    * dominates anything AQE can recover). A 100 TB input fails the gate
    * and loops under AQE exactly as before.
    *
    * The clone shares the SparkContext and external catalog (staged
    * tables resolve; checkpointed RDD blocks are shared), owns its
    * SessionState (the conf flip is invisible to every other planner —
    * the [[pinKeepingLayout]] session-local discipline), and is cached
    * weakly per source session. */
  private[graft] def loopFrame(df: DataFrame,
      assumeBounded: Boolean = false): DataFrame = {
    // assumeBounded: the caller certifies the frame is DOMAIN-bounded
    // (top-k candidate lists, sweep grids) — its planner estimate is
    // meaningless (corpus-sized lineage) but its materialized size is a
    // few thousand rows at any input scale, so the gate is skipped
    val bytes = if (assumeBounded) 0L else {
      val st = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (st > BigInt(Long.MaxValue)) Long.MaxValue else st.toLong
    }
    if (bytes > LoopAqeOffMaxBytes) df
    else {
      val s = df.sparkSession
      // STATIC COALESCING: with AQE off the loop loses runtime partition
      // coalescing, and a 32-task post-shuffle stage over KB-sized round
      // frames pays ~50-90 ms of fixed per-task CPU (buffer/page setup) —
      // probed at 3-4× the whole round's useful work. Derive the clone's
      // shuffle.partitions from the loop's working-set size instead
      // (~1 MB per partition, the AQE minPartitionSize default), capped
      // at the session's configured parallelism — scale-adaptive, never
      // a constant tuned to the local core count.
      val sessionParts = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val derived = math.max(1L, bytes >> 20).min(sessionParts.toLong).toInt
      val npart = Integer.highestOneBit(derived) // quantize: bounded clone count
      val clone = loopClones.synchronized {
        loopClones.getOrElseUpdate(s,
          scala.collection.mutable.Map.empty).getOrElseUpdate(npart, {
          val c = org.apache.spark.sql.graftbridge.DatasetBridge.cloneSession(s)
          c.conf.set("spark.sql.adaptive.enabled", "false")
          c.conf.set("spark.sql.shuffle.partitions", npart.toString)
          // the source session is often the PIN clone (pinned frames live
          // there), which carries autoBucketedScan=false for its own
          // checkpoint planning — restore the default here so any staged-
          // table scan planned inside the loop keeps its bucket-aware read
          c.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
          c
        })
      }
      org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(
        clone, df.queryExecution.analyzed)
    }
  }

  private val LoopAqeOffMaxBytes: Long = 4L << 30

  private[this] val loopClones = new scala.collection.mutable.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[Int, SparkSession]]

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED edge
    * frame, as the same deterministic integer fixed point as
    * [[pageRankFixedPoint]]: per round auth_raw(p) = Σ_{h→p} hub(h),
    * hub_raw(h) = Σ_{h→p} auth(p), and each side MAX-normalizes in
    * integers — `(raw * 1e6) div max(raw)` — which plays the role L2
    * normalization plays in the float formulation (without it magnitudes
    * grow by the degree products every round; with it the leading score
    * is pinned at exactly 1e6 and every round replays bit-identically in
    * SQL). Hubs start at 1e6. Long headroom: raw ≤ max_degree·1e6 and the
    * scale step multiplies by 1e6 again — beyond ~1e6 max degree, widen
    * the multiply to decimal(38,0) (same plan shape).
    *
    * Plan shape (r15, rebuilt from a replay of the EXECUTED round plan —
    * OPTIMIZATION_r15.md, `plans/r15/q_hits_*.txt`): each half-round
    * pins its RAW frame (`localCheckpoint`, node-sized) and the scaled
    * frame is a lazy projection over the pin. The previous shape left raw lazy and
    * relied on ReuseExchange to share the join+sum between the raw
    * frame's two references (its own 1-row max and the scaled
    * projection); the executed AQE plan shows that reuse NEVER fired
    * once the pinned layouts deleted the per-round exchanges — nothing
    * left to reuse — so every max-broadcast branch silently re-ran the
    * whole edge join+fold, 3-4 edge passes per round instead of 2. The
    * raw pins make each half-round's join+fold run exactly once, and
    * the max is a trivial job over the pinned (node, long) frame.
    *
    * Join/fold orientation (r15, the same probe): the node-sized rank
    * frame is explicitly `broadcast(...)` into the edge join — without
    * the hint the planner broadcast the pinned EDGE frame and streamed
    * the rank frame, backwards at any scale — and because the join side
    * is broadcast, the edge layout is free to serve the FOLD key
    * instead of the join key: the auth half-round (fold on dst) reads
    * the dst-partitioned view and the hub half-round (fold on src)
    * reads the src-partitioned view, so with a two-layout edge store
    * both folds run in place and a round ships ZERO hash exchange —
    * the [[pageRankFixedPoint]] broadcast-iteration shape, applied to
    * both directions. (The pre-r15 code had the views swapped — each
    * layout served the join key its broadcast had just made
    * irrelevant — so every fold paid a partials exchange.)
    *
    * Scale: per round two broadcast joins of node-sized rank frames
    * into in-place edge folds + two 1-row maxes over pinned node
    * frames; the edge frame is pinned once per direction and never
    * moves. */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, assumeDistinct: Boolean = false,
      edgesByDst: Option[DataFrame] = None): DataFrame = {
    // 0 iterations would emit the uninitialized (empty) authority side
    require(iterations >= 1, s"HITS needs at least one round, got $iterations")
    // assumeDistinct: the caller certifies the edge frame is already
    // deduplicated (e.g. a staged DISTINCT bucketed table) — skipping the
    // dedup here keeps the scan's bucket partitioning intact (a distinct
    // would re-exchange on (src, dst) and destroy it), which the
    // localCheckpoint then preserves for every per-round src-side join.
    // The eager pin stays EVEN for the bucketed input: letting each of
    // the 6 per-round joins re-scan the staged table instead measured
    // 4.6-5.1 s vs 3.4-4.7 s at sf0.1 (r11 session 2) — unlike
    // pageRank's single-reference loop, both directions re-read the
    // frame every round, and the block-manager read beats 6 filtered
    // parquet scans.
    // edgesByDst: an OPTIONAL second view of the SAME edge set (same
    // srcCol/dstCol names, caller-certified row-identical) that arrives
    // hash-partitioned on dstCol — the two-layout edge store every
    // iterative dual-direction algorithm wants at 100 TB (GraphX keeps
    // routing tables for the same reason). With a symmetric bucketed
    // staging no second table is even needed: the reverse-direction half
    // of the src-bucketed table, columns swapped, IS the forward edge
    // set partitioned by dst (alias-aware partitioning propagation
    // carries the bucket layout through the swap). Without it the
    // auth→hub join re-exchanges the edge frame every round.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // loopFrame: the whole 3-round loop (raw pins, max broadcasts, final
    // union) executes on the AQE-off clone — every per-round plan here is
    // exchange-free, so AQE only added stage-materialization jobs.
    // The two direction pins are INDEPENDENT jobs over disjoint table
    // slices — overlap them from a second thread (guide §2.6; the pin
    // clone registry is synchronized and the session-local pin test
    // exercises concurrent pins), which takes one pin's wall off the
    // critical path (~0.2 s of the board's #1 query). The thread carries
    // the caller's local properties, and a failed pin rethrows its own
    // exception.
    val eDstPin = edgesByDst.map { d =>
      val d0 = d.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      ThreadBridge.async(edges.sparkSession)(
        loopFrame(pinKeepingLayout(if (assumeDistinct) d0 else d0.distinct())))
    }
    val e = loopFrame(pinKeepingLayout(if (assumeDistinct) e0 else e0.distinct()))
    val eDst = eDstPin.map(_.await()).getOrElse(e)
    // hub seed from the SCAN, not the pin: the distinct-source set of the
    // raw slice equals the pinned frame's (dedup commutes with the src
    // projection), and the bucketed scan folds the distinct in place for
    // ~MBs of parquet instead of reading the pin's ~50 MB of row-copy
    // blocks (r16 JobProfile: that broadcast build was 4.1 s task time)
    var hub = loopFrame(e0).select(col("src").as("node")).distinct()
      .withColumn("hub_fp", lit(1000000L))
    var auth: DataFrame = hub.limit(0).withColumnRenamed("hub_fp", "auth_fp")
    for (_ <- 1 to iterations) {
      // AUTH half-round: fold key is dst, so the dst-partitioned view
      // (eDst) feeds it — the broadcast hub makes the JOIN key's layout
      // irrelevant, and the dst fold runs in place on eDst's pinned
      // partitioning. The raw pin (node-sized) is what lets the 1-row
      // max and the scaled projection read ONE computation — the
      // executed-plan probe showed the old lazy raw re-ran the whole
      // join+fold per reference (scaladoc above). EAGER on purpose: the
      // raw's two consumers (max broadcast + scaled projection inside the
      // next broadcast build) would first-touch a lazy pin concurrently
      // and race-compute it under the block locks (the r16 components
      // probe measured that race at 2× the round's task time).
      val authRaw = eDst.join(broadcast(hub), col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hub_fp")).as("raw"))
        .localCheckpoint(true)
      auth = authRaw.crossJoin(broadcast(authRaw.agg(max(col("raw")).as("m"))))
        .select(col("dst").as("node"), expr("(raw * 1000000) div m").as("auth_fp"))
      // HUB half-round: fold key is src — the src-partitioned view (e)
      // feeds it, same orientation rule
      val hubRaw = e.join(broadcast(auth), col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("auth_fp")).as("raw"))
        .localCheckpoint(true)
      hub = hubRaw.crossJoin(broadcast(hubRaw.agg(max(col("raw")).as("m"))))
        .select(col("src").as("node"), expr("(raw * 1000000) div m").as("hub_fp"))
    }
    hub.select(col("node"), lit("hub").as("kind"), col("hub_fp").as("score_fp"))
      .unionByName(
        auth.select(col("node"), lit("auth").as("kind"), col("auth_fp").as("score_fp")))
  }

  /** Fixed-point INTEGER PageRank as a co-partitioned DataFrame power
    * iteration — the deterministic, oracle-checkable twin of the GraphX
    * [[pageRank]] path (whose float accumulation is order-dependent and so
    * can never hash-match another engine). All arithmetic is 64-bit
    * integer: ranks are micro-units (1e6 = mass 1.0), each edge ships
    * `rank DIV outdeg`, and damping is `150000 + (Σ·85) DIV 100` — sums of
    * longs are order-independent, so any engine replaying the recurrence
    * gets bit-identical ranks. Quantization error per iteration is
    * ≤ outdeg micro-units of leaked mass — ranking noise, not ranking
    * drift, and the price of determinism.
    *
    * Contract: every node must have ≥ 1 out-edge (no dangling-mass
    * redistribution is performed) — pass the symmetric closure for an
    * undirected reading, which guarantees it.
    *
    * Scale: per iteration ONE join of the rank frame with the
    * degree-annotated edge list (both hashed on the source key — at 100 TB
    * pre-bucket the edge list on src and the join is exchange-free) and
    * one map-combined sum on dst. The loop builds one linear plan (each
    * rank frame is consumed exactly once); past ~10 iterations checkpoint
    * the rank frame to cut lineage, same as any iterative DataFrame
    * algorithm. */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, assumeDistinct: Boolean = false,
      assumeNoDangling: Boolean = false,
      edgesByDst: Option[DataFrame] = None): DataFrame = {
    // assumeDistinct: caller certifies pre-deduplicated edges (a staged
    // DISTINCT bucketed table) — the dedup exchange would destroy the
    // scan's bucket partitioning, which is what makes deg and withDeg
    // below exchange-free on the edge side
    //
    // argument-only contract, checked BEFORE any Spark job (the dangling
    // check below is an edge-scan — a contract violation must not pay it
    // first): the edgesByDst view is consumed raw in the broadcast-
    // iteration branch (a distinct there would destroy the dst
    // partitioning the variant exists for), while e/deg dedup under
    // assumeDistinct=false — a non-distinct caller would get deg from
    // deduped edges but per-round contributions over duplicated edges,
    // i.e. silently wrong ranks
    require(edgesByDst.isEmpty || assumeDistinct,
      "edgesByDst requires assumeDistinct=true: the dst-partitioned view " +
        "is consumed without dedup, so the caller must certify the edge " +
        "set (and its swapped view) is already distinct")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (assumeDistinct) e0 else e0.distinct()
    // ENFORCE the documented no-dangling-node contract instead of trusting
    // it: a node with in-edges but no out-edges silently leaks rank mass
    // every iteration (its inflow is never redistributed), corrupting all
    // downstream ranks with no error. One key-only anti-join, paid once per
    // call — nothing at this check's scale survives to the per-iteration
    // loop. assumeNoDangling: the caller certifies the property holds BY
    // CONSTRUCTION (a symmetric closure contains the reverse of every
    // edge, so every dst is a src) — a staged symmetric table proves it
    // once at ingest; re-scanning the full edge set per call to re-prove
    // a structural invariant is the check's 100 TB anti-pattern.
    if (!assumeNoDangling) {
      val dangling = e.select(col("dst").as("n")).distinct()
        .join(e.select(col("src").as("n")).distinct(), Seq("n"), "left_anti")
        .limit(1).collect()
      require(dangling.isEmpty,
        s"pageRankFixedPoint contract violated: node ${dangling.headOption.map(_.get(0)).orNull} " +
          "has in-edges but no out-edges (dangling mass is not redistributed); " +
          "pass the symmetric closure or drop sink nodes first")
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Pinning policy is input-layout-dependent, both directions measured
    // at sf0.1:
    //  - un-bucketed input (assumeDistinct=false): deliberately NOT
    //    persisted — the unrolled plan contains this subtree once per
    //    iteration, but its dedup/degree EXCHANGES are identical every
    //    time, so ReuseExchange computes them once and the repeats read
    //    shuffle output; pinning (persist + eager localCheckpoint) was
    //    6.1s vs 4.0s lazy — the storage round-trip costs more than it
    //    saves. (An explicit cache() on the RESULT is worse still: the
    //    CacheManager matches canonicalized plans, so a rerun of the
    //    identically-built query silently times a cache hit.)
    //  - bucketed staged input (assumeDistinct=true): the subtree has NO
    //    exchange for ReuseExchange to dedup, so left lazy each iteration
    //    re-scans the table twice and re-runs the degree agg + join;
    //    ONE eager checkpoint of the (src, dst, outdeg) frame — which
    //    preserves the bucket partitioning and in-bucket order — makes
    //    every iteration start from the pinned, already-partitioned
    //    frame.
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rank_fp"))
    edgesByDst match {
      // BROADCAST-ITERATION variant: `edgesByDst` is a caller-certified
      // row-identical view of the edge set arriving hash-partitioned on
      // dstCol (with a symmetric bucketed staging it is just the same
      // table with its columns swapped — the hitsFixedPoint move). Each
      // round then ships NO hash exchange at all: the node-sized
      // (rank div outdeg) frame is broadcast onto the dst-partitioned
      // edges (map-only join) and the dst sum folds IN PLACE on the
      // pinned frame's recorded HashPartitioning(dst) —
      // [[pinKeepingLayout]] keeps the bucket layout through the
      // checkpoint, without which each round shipped its map-side-
      // combined partials (PlanSpec pins the zero-exchange shape).
      // Sums of longs are order-independent, so ranks stay
      // bit-identical to the exchange form.
      // Regime: the NODE frame must fit in executor memory — true for
      // co-purchase/web-host-class graphs (tens of millions of nodes ≈
      // hundreds of MB) even at 100 TB of EDGES; past that, stay on the
      // src-bucketed exchange form below, whose per-round shuffle is
      // contribution-sized. (r13 A/B: 4.9 → measured on q_pagerank.)
      case Some(d) =>
        // contract (edgesByDst ⇒ assumeDistinct) already enforced at the
        // top of the function, before any job ran
        // loopFrame: the rounds are exchange-free (broadcast-hinted join +
        // in-place fold), so they run on the AQE-off clone — one job per
        // broadcast build instead of one per AQE stage (r16)
        //
        // eD is NOT pinned (r16, OPTIMIZATION_r16.md): each round reads the
        // view exactly once, and the bucketed staged scan (~MBs of
        // parquet) beats re-reading ~100 MB of row-copy checkpoint
        // blocks — interleaved A/B 1.57 -> 1.27 s with the pin's
        // row-copy/store job gone; identical integer ranks asserted.
        // (hitsFixedPoint keeps its pins: both directions re-read per
        // round there — the r11 measurement.)
        val eD = loopFrame(
          d.select(col(srcCol).as("src"), col(dstCol).as("dst")))
        // deg is node-sized but derives from a full edge scan — pinned,
        // or every round's broadcast build replays that scan
        val degP = loopFrame(pinKeepingLayout(deg))
        ranks = degP.select(col("src").as("node"), lit(1000000L).as("rank_fp"))
        for (_ <- 1 to iterations) {
          val contribBySrc = ranks.join(degP, col("node") === col("src"))
            .select(col("node"), expr("rank_fp div outdeg").as("c"))
          ranks = eD.join(broadcast(contribBySrc), col("src") === col("node"))
            .select(col("dst"), col("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("s"))
            .select(col("dst").as("node"),
              (lit(150000L) + expr("(s * 85) div 100")).as("rank_fp"))
        }
      case None =>
        val withDeg0 = e.join(deg, Seq("src"))
        val withDeg = if (assumeDistinct) pinKeepingLayout(withDeg0) else withDeg0
        for (_ <- 1 to iterations) {
          ranks = withDeg.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("rank_fp div outdeg").as("contrib"))
            .groupBy(col("dst"))
            .agg(sum(col("contrib")).as("s"))
            .select(col("dst").as("node"),
              (lit(150000L) + expr("(s * 85) div 100")).as("rank_fp"))
        }
    }
    ranks
  }

  /** PERSONALIZED PageRank in the same fixed-point integer recurrence as
    * [[pageRankFixedPoint]]: the teleport mass is concentrated on `seeds`
    * instead of spread uniformly — per iteration a seed receives
    * `(150000·N) div |S|` micro-units (the SAME aggregate teleport mass
    * as the uniform variant, so magnitudes stay comparable) plus the
    * damped inflow; non-seeds receive inflow only. Ranks then measure
    * proximity to the seed set — the recommendation / related-items /
    * trust-propagation primitive (query-dependent importance per
    * Haveliwala's topic-sensitive PageRank), where uniform PageRank
    * measures global centrality.
    *
    * Same contracts as the uniform twin: no dangling nodes (enforced),
    * fixed iteration count, integer `div` quantization per edge — every
    * round is bit-identical in any engine, so the oracle replays all
    * rounds as staged CTEs. Initial mass sits entirely on the seeds
    * (`(1000000·N) div |S|` each), the standard PPR start.
    *
    * Scale: identical per-iteration shape (one rank-adjacency equi-join +
    * one map-combined sum) plus one broadcast hash lookup of the seed
    * set per round; N and |S| are two narrow counts paid once. */
  def personalizedPageRankFixedPoint(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int = 5,
      assumeDistinct: Boolean = false, assumeNoDangling: Boolean = false,
      edgesByDst: Option[DataFrame] = None): DataFrame = {
    // NOT checkpointed/persisted: measured 13.8 s vs 12.4 s at sf0.1 with
    // an eager localCheckpoint of the distinct edge set — the storage
    // round-trip costs more than letting the counts job and the iteration
    // job each re-derive the (cheap) distinct, the same result
    // pageRankFixedPoint's comment records for pinning withDeg.
    // assumeDistinct: same contract as pageRankFixedPoint — pre-deduped
    // staged input keeps the scan's bucket partitioning alive
    //
    // argument-only contract, checked BEFORE the counts job below (a
    // violation must not pay the three-scalar edge scan first); rationale
    // at pageRankFixedPoint's matching require
    require(edgesByDst.isEmpty || assumeDistinct,
      "edgesByDst requires assumeDistinct=true: the dst-partitioned view " +
        "is consumed without dedup, so the caller must certify the edge " +
        "set (and its swapped view) is already distinct")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (assumeDistinct) e0 else e0.distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val seedSet = seeds.select(seeds.columns.head).distinct()
      .withColumnRenamed(seeds.columns.head, "node")
      .withColumn("__seed", lit(1))
    // ONE action for all three scalars — node count, seed count, AND the
    // dangling-node contract count (three separate head()/collect() calls
    // would pay three jobs over the same edge frame). assumeNoDangling
    // (same contract as pageRankFixedPoint: the caller's symmetric
    // closure proves the property by construction) drops the anti-join
    // leg — the counts job then scans the edge set once for deg instead
    // of three times.
    val nsFrame = deg.agg(count(lit(1)).as("n"))
      .crossJoin(seedSet.agg(count(lit(1)).as("s")))
    val counts = (if (assumeNoDangling) nsFrame.withColumn("d", lit(0L))
      else nsFrame.crossJoin(
        e.select(col("dst").as("n2")).distinct()
          .join(e.select(col("src").as("n2")).distinct(), Seq("n2"), "left_anti")
          .agg(count(lit(1)).as("d")))).head()
    val nNodes = counts.getLong(0)
    val nSeeds = counts.getLong(1)
    require(counts.getLong(2) == 0L,
      "personalizedPageRankFixedPoint contract violated: a node has " +
        "in-edges but no out-edges (dangling mass is not redistributed); " +
        "pass the symmetric closure or drop sink nodes first")
    require(nSeeds > 0, "personalized PageRank needs a non-empty seed set")
    val teleport = (150000L * nNodes) / nSeeds
    val init = (1000000L * nNodes) / nSeeds
    var ranks = deg.select(col("src").as("node"))
      .join(broadcast(seedSet), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed") === 1, lit(init)).otherwise(lit(0L)).as("rank_fp"))
    edgesByDst match {
      // broadcast-iteration form — same move, regime and bit-identity
      // argument as pageRankFixedPoint's edgesByDst (the teleport term is
      // a per-node projection and does not change the data motion)
      case Some(dv) =>
        // contract (edgesByDst ⇒ assumeDistinct) already enforced at the
        // top of the function, before any job ran
        // loopFrame + unpinned eD: same rationale (and A/B) as
        // pageRankFixedPoint's
        val eD = loopFrame(
          dv.select(col(srcCol).as("src"), col(dstCol).as("dst")))
        val degP = loopFrame(pinKeepingLayout(deg))
        ranks = degP.select(col("src").as("node"))
          .join(broadcast(seedSet), Seq("node"), "left")
          .select(col("node"),
            when(col("__seed") === 1, lit(init)).otherwise(lit(0L)).as("rank_fp"))
        for (_ <- 1 to iterations) {
          val contribBySrc = ranks.join(degP, col("node") === col("src"))
            .select(col("node"), expr("rank_fp div outdeg").as("c"))
          ranks = eD.join(broadcast(contribBySrc), col("src") === col("node"))
            .select(col("dst"), col("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("s"))
            .join(broadcast(seedSet), col("dst") === seedSet("node"), "left")
            .select(col("dst").as("node"),
              (when(col("__seed") === 1, lit(teleport)).otherwise(lit(0L)) +
                expr("(s * 85) div 100")).as("rank_fp"))
        }
      case None =>
        // same layout-gated pinning policy as pageRankFixedPoint's withDeg
        val withDeg0 = e.join(deg, Seq("src"))
        val withDeg = if (assumeDistinct) pinKeepingLayout(withDeg0) else withDeg0
        for (_ <- 1 to iterations) {
          ranks = withDeg.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("rank_fp div outdeg").as("contrib"))
            .groupBy(col("dst"))
            .agg(sum(col("contrib")).as("s"))
            .join(broadcast(seedSet), col("dst") === seedSet("node"), "left")
            .select(col("dst").as("node"),
              (when(col("__seed") === 1, lit(teleport)).otherwise(lit(0L)) +
                expr("(s * 85) div 100")).as("rank_fp"))
        }
    }
    ranks
  }

  /** Min-label propagation communities as a fixed-iteration DataFrame
    * recurrence — the deterministic, oracle-checkable twin of GraphX
    * [[connectedComponents]] (whose Pregel convergence detection is
    * engine-internal; a FIXED iteration count replays identically in any
    * engine). Edges are read UNDIRECTED (symmetric closure); labels start
    * as own node id and each round become `min(own, min over neighbors)`
    * — min over longs is order-independent, so round k's labels are
    * bit-identical anywhere. After k rounds every node holds the smallest
    * id within distance k: equal labels = same community (k-bounded
    * connected components; iterate to diameter for exact CC).
    *
    * Scale: per iteration ONE join of the label frame with the adjacency
    * list (both hashed on the node key — pre-bucket the edge list and the
    * join is exchange-free) and one map-combined min on the neighbor key;
    * the classic large-star/small-star shortcutting (Kiveris et al. 2014)
    * drops the round count to O(log n) with the same join shape. Past ~10
    * rounds checkpoint the label frame to cut lineage. */
  def labelPropagateMin(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, assumeSymmetric: Boolean = false): DataFrame = {
    // self-loops fold `least(own, min-over-neighbors)` into ONE min, so
    // each round references the label frame exactly once — without them
    // the recurrence reads labels twice per round and the unrolled plan
    // doubles per iteration (2^k subplans). The adjacency list recurs
    // once per round with an identical exchange — ReuseExchange computes
    // it once (pinning measured slower; see pageRankFixedPoint).
    //
    // assumeSymmetric: the staged self-loop-closed table IS eSelf — read
    // it with the roles SWAPPED (the set is symmetric, so the swap is a
    // no-op on rows) to land the bucketed column on `b`, the per-round
    // JOIN key: every iteration's neighbor join is then exchange-free on
    // the edge side and only the node-sized label frame moves.
    val eSelf =
      if (assumeSymmetric)
        edges.select(col(dstCol).as("a"), col(srcCol).as("b"))
      else {
        val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
          .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
          .where(col("a") =!= col("b")).distinct()
        e.unionByName(
          e.select(col("a")).distinct().select(col("a"), col("a").as("b")))
      }
    var labels = eSelf.where(col("a") === col("b"))
      .select(col("a").as("node"), col("a").as("label"))
    for (_ <- 1 to iterations) {
      labels = eSelf
        .join(labels.select(col("node").as("nb"), col("label").as("nl")),
          col("b") === col("nb"))
        .groupBy(col("a"))
        .agg(min(col("nl")).as("label"))
        .select(col("a").as("node"), col("label"))
    }
    labels
  }

  /** EXACT connected components: [[labelPropagateMin]]'s recurrence
    * iterated to a fixpoint instead of a fixed round count. Still fully
    * deterministic (min over longs), so the result is the per-component
    * minimum id and an oracle can rebuild it with a recursive reachability
    * CTE. Convergence detection exploits monotonicity: labels only ever
    * DECREASE, so Σ label is strictly decreasing until the fixpoint and
    * one scalar aggregate per round replaces any change-join. (The scalar
    * is a convergence FLAG read driver-side, not collected data — the
    * labels themselves never leave the executors.)
    *
    * Materialization: every round runs its own convergence job, so
    * ReuseExchange cannot span rounds the way it does in the fixed-k
    * variant; each round's labels are `localCheckpoint`ed (NOT persist:
    * the CacheManager keys on canonicalized plans, and a registry entry
    * would make an identically-built rerun silently read stale-but-equal
    * cache instead of computing) — this is also what cuts the growing
    * lineage. Rounds needed = component diameter; on high-diameter graphs
    * swap the recurrence for large-star/small-star (same join shape,
    * O(log n) rounds). */
  def connectedComponentsMin(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 100): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .where(col("a") =!= col("b")).distinct()
    val eSelf = e.unionByName(
        e.select(col("a")).distinct().select(col("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = eSelf.where(col("a") === col("b"))
      .select(col("a").as("node"), col("a").as("label"))
      .localCheckpoint(true)
    var mass = labels.agg(sum(col("label"))).head.getLong(0)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val next = eSelf
        .join(labels.select(col("node").as("nb"), col("label").as("nl")),
          col("b") === col("nb"))
        .groupBy(col("a"))
        .agg(min(col("nl")).as("label"))
        .select(col("a").as("node"), col("label"))
        .localCheckpoint(true)
      val nextMass = next.agg(sum(col("label"))).head.getLong(0)
      converged = nextMass == mass
      mass = nextMass
      labels = next
    }
    require(converged, s"connected components did not converge in $maxRounds rounds" +
      " — raise maxRounds or use connectedComponentsStar for this diameter")
    labels
  }

  /** EXACT connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the scale-safe replacement for
    * [[connectedComponentsMin]]'s min-label fixpoint, whose round count is
    * the component DIAMETER (a data property that can grow arbitrarily at
    * 100 TB). Star contraction converges in O(log n) rounds on any
    * topology, with the same per-round join shape.
    *
    * The working set is the canonically-oriented edge list `(u, v), u > v`.
    * Per round, with m(x) = min of x's closed neighborhood:
    *   large-star: every neighbor y > x re-attaches to m(x) — long chains
    *     fold onto their local minima;
    *   small-star: every neighbor y < x, and x itself, attach to m(x) —
    *     each node acquires a direct edge to its current minimum.
    * Both emit only (hi, lo)-oriented pairs by construction (m(x) <= x and
    * m(x) <= every y in Gamma(x)), so no re-orientation pass is needed.
    * The fixpoint is the star forest {(node, component-min)}: both steps
    * map a star to itself, and the paper proves nothing else is stable.
    *
    * Determinism: every emitted edge is (id, min over a set of ids) — the
    * same integer-min argument as the fixpoint twin, so the converged
    * output is bit-identical in any engine and oracle-checkable by a
    * recursive reachability CTE.
    *
    * Convergence detection is two-tier: a cheap scalar fingerprint
    * (edge count + endpoint sum, one map-combined aggregate per round)
    * gates an EXACT set-equality confirmation (count equality + one
    * key-only anti-join) — the loop can only exit on proven set
    * stability, and the exact check runs ~once, at the fixpoint itself.
    *
    * Scale: per round two grouped mins and two equi-joins on node keys —
    * hash-partitioned, AQE-skew-splittable, pre-bucketable; each round's
    * edge set is `localCheckpoint`ed (lineage cut; NOT persist — the
    * CacheManager keys on canonicalized plans and would serve a rerun of
    * an identically-built query from cache). The edge set only ever
    * SHRINKS (dedup after contraction), so the heaviest round is the
    * first. */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 40, assumeSymmetric: Boolean = false): DataFrame =
    connectedComponentsStarWithRounds(edges, srcCol, dstCol, maxRounds,
      assumeSymmetric)._1

  /** [[connectedComponentsStar]] plus the round count it needed — the
    * probe hook ScaleProbe uses to show rounds growing ~log(n), not
    * linearly, across scale factors. */
  def connectedComponentsStarWithRounds(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 40, assumeSymmetric: Boolean = false): (DataFrame, Int) = {
    // assumeSymmetric: src > dst keeps exactly one canonically-oriented
    // row per pair (the symmetric closure holds both), loop-free by the
    // strict inequality — no re-orientation, no distinct exchange.
    // loopFrame (r16): the whole contraction loop executes on the AQE-off
    // clone — the r15 JobProfile showed 57 jobs for one q_components run,
    // ~50 of them sub-0.1 s-of-task-time stage materializations and
    // checkpoint barriers; with classic execution each round below is ONE
    // job. The checkpoints are LAZY: each round's fingerprint aggregate
    // (which the loop needs anyway) materializes that round's blocks —
    // the fused convergence probe.
    // e lazy: its single first touch is the initial fingerprint below
    // (one stage chain), which materializes it — round 1's sibling
    // readers then hit blocks
    var e = loopFrame(if (assumeSymmetric)
        edges.where(col(srcCol) > col(dstCol))
          .select(col(srcCol).as("u"), col(dstCol).as("v"))
      else edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct())
      .localCheckpoint(false)
    // the output must cover every endpoint of the ORIGINAL edge set; the
    // contracted set loses interior nodes as chains fold. Lazy: consumed
    // once, by the final labels union — materializes there (over the
    // already-materialized e blocks).
    val allNodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
      .localCheckpoint(false)

    // closed-neighborhood minimum per node over both edge orientations
    def mins(edgeSet: DataFrame): DataFrame =
      edgeSet.select(col("u").as("x"), col("v").as("y"))
        .union(edgeSet.select(col("v").as("x"), col("u").as("y")))
        .groupBy(col("x"))
        .agg(min(col("y")).as("nbMin"))
        .select(col("x"), least(col("nbMin"), col("x")).as("m"))

    // type-generic scalar fingerprint (ids may be strings): an order-
    // independent XOR of row hashes — no arithmetic, so ANSI overflow
    // checking never trips. It is only a GATE — the exact anti-join below
    // decides termination, so a hash collision costs at most one extra
    // check, never a wrong stop.
    def fingerprint(edgeSet: DataFrame): (Long, Long) = {
      val r = edgeSet
        .agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(e)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // large-star: (y, m(x)) for y > x. y > x >= m(x) implies y > m(x):
      // oriented and loop-free by construction.
      val sym1 = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      // ls stays EAGER: its consumers (sym2's two legs + m2) are SIBLING
      // stages of one job — left lazy they first-touch the marked RDD
      // concurrently and race-compute every partition under the block
      // locks (probed: run ≫ cpu, ~2× the round's task time). Eager = one
      // classic job here, then block reads everywhere.
      val ls = sym1.join(mins(e), Seq("x"))
        .where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      // small-star over the large-star output: (y, m(x)) for y < x, plus
      // every node's own (x, m(x)) attachment; m(x) <= y <= x keeps the
      // orientation, only exact self-loops (y = m or x = m) drop out
      val sym2 = ls.select(col("u").as("x"), col("v").as("y"))
        .union(ls.select(col("v").as("x"), col("u").as("y")))
      val m2 = mins(ls)
      val ss = sym2.where(col("y") < col("x")).join(m2, Seq("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .union(m2.select(col("x").as("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // ss lazy is SAFE (unlike ls): its single first touch is the
      // fingerprint's one stage chain, so the aggregate the loop needs
      // anyway materializes the round's blocks — the fused convergence
      // probe; the next round's sibling readers then hit blocks
      val fpNext = fingerprint(ss)
      // fingerprint equality is only a GATE; termination requires proven
      // set equality (equal counts + empty anti-join => equal sets)
      converged = fpNext == fp &&
        ss.join(e, Seq("u", "v"), "left_anti").limit(1).collect().isEmpty
      fp = fpNext
      e = ss
    }
    require(converged,
      s"star-contraction components did not stabilize in $maxRounds rounds — " +
        "this exceeds the O(log n) bound and indicates a bug or adversarial input")
    // converged star forest: non-roots appear exactly once as u, pointing
    // at the component minimum; roots never appear as u and label themselves
    val labels = e.select(col("u").as("node"), col("v").as("label"))
      .unionByName(
        allNodes.join(e.select(col("u").as("node")), Seq("node"), "left_anti")
          .select(col("node"), col("node").as("label")))
    (labels, round)
  }

  /** Hop-bounded BFS distances from a one-row seed frame as a fixed-
    * iteration DataFrame recurrence (the distance twin of
    * [[labelPropagateMin]]): after k rounds every row is the EXACT
    * unweighted shortest-hop distance for nodes within k hops of the seed
    * (nodes further away simply have no row yet). Deterministic integers
    * end-to-end — `min` over longs is order-independent — so an oracle
    * replays the frontier expansion with a bounded recursive CTE.
    *
    * The recurrence folds "keep my distance" and "relax over in-edges"
    * into ONE `min(nd + w)` by adding zero-weight self-loops (w=0) next to
    * the unit-weight symmetrized edges (w=1) — each round then references
    * the distance frame exactly once, keeping the unrolled plan linear in
    * k (the [[labelPropagateMin]] trick, with the weight column carrying
    * the +1).
    *
    * Scale: per round one equi-join of the (node, dist) frame with the
    * adjacency list — both hashed on the node key, pre-bucketable to
    * exchange-free — and one map-combined min. The frontier frame is at
    * most |V| rows regardless of round. For many-source BFS pass a wider
    * seed frame (same shape); for diameters past ~10 rounds, checkpoint
    * like [[connectedComponentsMin]]. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    // materialize the (possibly expensive) upstream edge derivation ONCE:
    // the unrolled k-round plan references this subtree k times, and
    // unlike the single-join-per-round fixed-k label recurrences, the
    // interleaved seed/frontier aggregates here defeat static exchange
    // reuse (measured: the 4-hop co-purchase BFS re-ran the pair
    // projection per round, 4.8s vs 1.6s checkpointed). localCheckpoint,
    // NOT persist: the CacheManager keys on canonicalized plans and would
    // silently serve a rerun of the identically-built query from cache.
    val eSelf = bfsEdges(edges, srcCol, dstCol, assumeSymmetric)
    relaxRounds(eSelf, seeds.select(col("node"), lit(0L).as("hops")), maxHops)
  }

  /** The self-loop-closed weighted relax frame shared by the BFS family:
    * real edges carry w = 1, per-node self-loops w = 0 (they make the
    * join-min recurrence monotone without a union). Under the
    * [[symmetricLoopFree]] contract the staged table IS this frame —
    * read UNSWAPPED so the bucketed column (srcCol) lands on `a`, the
    * [[relaxRounds]] GROUP key, with the self-loop weight derived in the
    * projection. [[pinKeepingLayout]] carries the scan's bucket
    * partitioning through the checkpoint (a bare localCheckpoint drops
    * it — the r14 discovery; the pre-r15 comment here claimed
    * preservation the pagerank pin disproved), so each round's
    * broadcast-join + dst-side min folds IN PLACE with zero exchange —
    * the [[pageRankFixedPoint]] broadcast-iteration shape. On the
    * symmetric set the swap is a no-op on rows, so which column carries
    * the layout is a free choice; `a` is the one the fold keys on. */
  private def bfsEdges(edges: DataFrame, srcCol: String, dstCol: String,
      assumeSymmetric: Boolean): DataFrame =
    if (assumeSymmetric)
      // loopFrame: the relax rounds are exchange-free (broadcast distance
      // frame + in-place min fold), so they run on the AQE-off clone (r16).
      // The pin STAYS: unlike pagerank's single-read-per-round view, the
      // unpinned form was re-measured here (r16) at 0.7-0.87 s vs
      // 0.52-0.57 s pinned for q_bfs_dist — the weight projection's
      // conditional defeats the direct bucket-layout reuse the pagerank
      // swap enjoys, and the relax fold re-exchanged.
      loopFrame(pinKeepingLayout(
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
          when(col(srcCol) === col(dstCol), 0L).otherwise(1L).as("w"))))
    else {
      val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .where(col("a") =!= col("b")).distinct()
        .select(col("a"), col("b"), lit(1L).as("w"))
      e.unionByName(
        e.select(col("a")).distinct().select(col("a"), col("a").as("b"), lit(0L).as("w")))
        .localCheckpoint(true)
    }

  /** Multi-source BFS with PER-SOURCE distances: (seed, node, hops) for
    * every node within `maxHops` of each seed — the primitive sampled
    * centrality estimators are built from ([[harmonicCloseness]]), where
    * [[bfsDistances]]' collective-min over the seed set would be wrong.
    *
    * Scale shape: the frontier is keyed (seed, node), so total work is
    * Σ_seed |B(seed, maxHops)| — the SAMPLE SIZE is the scale knob, and
    * each round is one (node ~ edge) equi-join plus a min-combine
    * aggregation, both hash-partitioned and map-side combined. Self-loop
    * weight-0 edges make the plain join-min recurrence monotone (settled
    * distances survive each round without a union). The edge frame is
    * checkpointed once (same rationale as [[bfsDistances]]). */
  def multiSourceBfs(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // unlike relaxRounds, this loop joins on `a` — under the contract the
    // staged frame is read UNSWAPPED so the bucket column is the join
    // key, and pinKeepingLayout keeps that layout through the checkpoint
    // (a bare localCheckpoint drops a bucketed scan's partitioning — the
    // r14 discovery): every round's frontier join is then exchange-free
    // on the edge side, only the (seed, node)-keyed frontier moves
    val eSelf = if (assumeSymmetric)
        pinKeepingLayout(
          edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
            when(col(srcCol) === col(dstCol), 0L).otherwise(1L).as("w")))
      else {
        val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
          .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
          .where(col("a") =!= col("b")).distinct()
          .select(col("a"), col("b"), lit(1L).as("w"))
        e.unionByName(
          e.select(col("a")).distinct().select(col("a"), col("a").as("b"), lit(0L).as("w")))
          .localCheckpoint(true)
      }
    var d = seeds.select(col("seed"), col("seed").as("node"), lit(0L).as("hops"))
    var i = 0
    while (i < maxHops) {
      d = d.as("d").join(eSelf.as("e"), col("d.node") === col("e.a"))
        .select(col("d.seed").as("seed"), col("e.b").as("node"),
          (col("d.hops") + col("e.w")).as("hops"))
        .groupBy(col("seed"), col("node")).agg(min(col("hops")).as("hops"))
      i += 1
    }
    d
  }

  /** Sampled HARMONIC closeness centrality (Boldi-Vigna's centrality of
    * choice for disconnected graphs — unreachable nodes contribute 0
    * instead of poisoning the mean): per node, Σ_seed 1/d(seed, node)
    * over a seed SAMPLE, distances truncated at `maxHops` (the
    * Eppstein-Wang estimator shape: sampling bounds work, truncation
    * bounds rounds; both knobs are explicit). Fraction-free determinism:
    * the sum is computed as Σ lcm(1..maxHops)/d — every term an EXACT
    * integer — and divided back out once, so any engine replays it
    * bit-for-bit with no float-summation-order contract. */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val denom = (1 to maxHops).foldLeft(1L)((l, h) => l / gcd(l, h) * h)
    multiSourceBfs(edges, srcCol, dstCol, seeds, maxHops, assumeSymmetric)
      .where(col("hops") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr(s"$denom div hops")).as("harmonic_num"))
      .select(col("node").as("node_id"), col("n_reached"), col("harmonic_num"),
        (col("harmonic_num").cast("double") / lit(denom.toDouble)).as("harmonic"))
  }

  /** [[bfsDistances]] seeded at the graph's minimum node id, derived from
    * the ALREADY-materialized edge frame — a caller-built seed aggregate
    * over the raw edge derivation would re-run that (possibly expensive)
    * upstream subtree a second time just to find one node. */
  def bfsFromMinNode(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int, assumeSymmetric: Boolean = false): DataFrame = {
    val eSelf = bfsEdges(edges, srcCol, dstCol, assumeSymmetric)
    val seeds = eSelf.agg(min(col("a")).as("node"))
    relaxRounds(eSelf, seeds.select(col("node"), lit(0L).as("hops")), maxHops)
  }

  /** The per-round relax: dist(a) := min over edges (a,b) of dist(b)+w.
    * The settled-distance frame is node-sized (≤ |V| rows regardless of
    * round), so it is BROADCAST onto the edge frame — the
    * [[pageRankFixedPoint]] broadcast-iteration regime argument: node
    * frames fit executor memory even at 100 TB of edges. The broadcast
    * join preserves the streamed (edge) side's partitioning, so with a
    * layout-pinned symmetric input the per-round min folds in place on
    * HashPartitioning(a) — zero hash exchange per round (PlanSpec pins
    * q_bfs_dist); min over longs is order-independent, so the hop values
    * are bit-identical to the exchange form. */
  private def relaxRounds(eSelf: DataFrame, dist0: DataFrame, maxHops: Int): DataFrame = {
    var dist = dist0
    for (_ <- 1 to maxHops) {
      dist = eSelf
        .join(broadcast(dist.select(col("node").as("nb"), col("hops").as("nd"))),
          col("b") === col("nb"))
        .groupBy(col("a"))
        .agg(min(col("nd") + col("w")).as("hops"))
        .select(col("a").as("node"), col("hops"))
    }
    dist
  }

  /** Co-occurrence pair projection: items sharing at least `minShared`
    * groups become weighted undirected edges `(pa, pb, w)` with
    * `pa < pb` — the projection under every co-purchase / co-citation /
    * co-click graph.
    *
    * `maxGroupSize` caps the ONE quadratic step: pairs per group are
    * (size choose 2), and the self-join's output volume is Σ_group size²
    * BEFORE the weight threshold can shrink anything, so a single
    * mega-group (one hot key in a real corpus — a crawler trap, a bot
    * cart, a catalog-wide order) emits size²/2 rows from one join key;
    * AQE splits the oversized shuffle partition but cannot shrink the
    * join OUTPUT. Dropping groups above the cap is the standard
    * projection policy (a 256-item basket says nothing about pairwise
    * affinity) and bounds per-key join output at cap²/2 ≈ 32k rows — the
    * planted-mega-basket ScaleProbe measures the capped projection flat
    * where the uncapped join grows with hub², and the cap is an explicit,
    * documented parameter rather than a silent drop.
    *
    * One shuffle: the group-size window partitions by the group key, the
    * same key the self-join uses, so the exchange is planned once and
    * reused for both join sides. */
  def coOccurrencePairs(items: DataFrame, groupCol: String, itemCol: String,
      minShared: Int = 2, maxGroupSize: Int = 256): DataFrame = {
    require(maxGroupSize >= 2, s"maxGroupSize must be >= 2, got $maxGroupSize")
    val g = items.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct()
      .withColumn("__gs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .where(col("__gs") <= maxGroupSize)
      .select(col("g"), col("i"))
    g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("pa"), col("y.i").as("pb"))
      .agg(count(lit(1)).as("w")).where(col("w") >= minShared)
  }

  /** [[coOccurrencePairs]]' pair aggregation over an ALREADY capped and
    * deduplicated (g, i) basket frame (the
    * [[graft.ext.MarketBasket.cappedBaskets]] layout) — the entry point
    * for staged basket projections, where re-running the distinct +
    * cap-window inside every consumer would replay the same exchange over
    * the same rows. The cap and the dedup commute with any WHOLE-GROUP
    * filter (a group is in or out with all its rows, and the cap window
    * partitions by the group key), so slicing a staged basket table by
    * group and projecting each slice here is row-identical to projecting
    * each slice from the raw items. */
  def coOccurrencePairsFromBaskets(baskets: DataFrame, groupCol: String,
      itemCol: String, minShared: Int = 2): DataFrame = {
    val g = baskets.select(col(groupCol).as("g"), col(itemCol).as("i"))
    g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("pa"), col("y.i").as("pb"))
      .agg(count(lit(1)).as("w")).where(col("w") >= minShared)
  }

  /** Per-node triangle counts via DEGREE-ORIENTED wedge closing (the
    * compact-forward algorithm) — the deterministic, oracle-checkable twin
    * of the GraphX [[triangleCount]] path (integers end-to-end). Edges are
    * read as UNDIRECTED and deduplicated; each is then oriented from the
    * endpoint with the smaller `(degree, id)` to the larger, so every
    * triangle materializes exactly once as the wedge at its order-minimum
    * vertex, closed by the oriented third edge.
    *
    * WHY degree orientation and not plain id order: the wedge join's
    * volume is Σ_u outdeg(u)² under whatever orientation is chosen. Under
    * id order a single hot vertex (one mega-basket in a co-occurrence
    * projection) keeps its full degree as out-degree and contributes deg²
    * wedge rows from one key — quadratic blowup AQE can split but not
    * shrink. Under (degree, id) order every out-degree is bounded by
    * O(√m) (a vertex only points at neighbors of ≥ its own degree, and
    * there are at most √(2m) vertices of degree ≥ √(2m)), so the wedge
    * volume is O(m^1.5) REGARDLESS of skew — the planted-mega-basket
    * ScaleProbe measures exactly this staying flat where id orientation
    * goes quadratic. Cost: one extra degree aggregation and join, same
    * equi-join shape — hash-partitioned, AQE-skew-splittable, never a
    * cross join. Output is identical (same triangle set) either way. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      assumeSymmetric: Boolean = false): DataFrame = {
    // under the contract the canonical set is a filter and the degree
    // rollup one exchange-free groupBy over the symmetric frame — the
    // explode+groupBy below re-derives the same degrees from the
    // canonical half when no contract holds
    val e = if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()
    val deg = if (assumeSymmetric) symmetricDegrees(edges, srcCol, dstCol)
      else e.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    // orient each edge u -> v with (du, u) < (dv, v); carry v's degree so
    // the wedge pair-ordering below needs no further join
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
    // wedges at the order-minimum vertex u: out-neighbor pair (v, w) taken
    // once with (dv, v) < (dw, w); the close join matches the oriented
    // edge v -> w, which exists for every triangle because v precedes w in
    // the SAME total order the orientation used
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
    val closing = oriented.select(col("u").as("b"), col("v").as("c"))
    val tri = wedges.join(closing, Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Link-prediction scores for NON-adjacent node pairs: common-neighbor
    * count (integer — oracle-exact) and Adamic-Adar (Σ 1/ln deg(v) over
    * the shared neighbors v; the classic down-weighting of promiscuous
    * middle vertices).
    *
    * Plan shape: wedges at the MIDDLE vertex — the symmetric adjacency
    * joined with itself on the center, neighbor pair taken once with
    * u < w — then one (u, w)-keyed aggregation and a left-anti join
    * against the existing edge set (a predicted link is by definition a
    * pair NOT yet connected). All equi-joins, one exchange each.
    *
    * `maxDegree` caps the quadratic step the same way
    * [[coOccurrencePairs]]' maxGroupSize does: wedge volume is
    * Σ_v deg(v)², so one hub emits deg² pairs from a single join key —
    * and a hub's neighborhood carries ~no pairwise signal anyway (its
    * Adamic-Adar weight 1/ln(deg) is already ≈ 0). Dropping middle
    * vertices above the cap bounds per-key join output at cap² and is
    * the standard stop-hub policy; it is an explicit parameter, and the
    * fixture graphs sit far below it so every test SF is cap-invariant.
    * `minShared` bounds OUTPUT volume (pairs sharing one neighbor are
    * noise at any scale). */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      minShared: Int = 2, maxDegree: Int = 1024,
      assumeSymmetric: Boolean = false): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val e = if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()
    val adj = if (assumeSymmetric)
        symmetricLoopFree(edges, srcCol, dstCol)
          .select(col(srcCol).as("v"), col(dstCol).as("n"))
      else e.select(col("a").as("v"), col("b").as("n"))
        .union(e.select(col("b").as("v"), col("a").as("n")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val center = adj.join(deg, "v").where(col("d") <= maxDegree)
    val pairs = center.as("x").join(center.as("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("u"), col("y.n").as("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(lit(1.0d) / log(col("x.d"))), 6).as("adamic_adar"))
      .where(col("common_neighbors") >= minShared)
    pairs.join(e, pairs("u") === e("a") && pairs("w") === e("b"), "left_anti")
  }

  /** Newman modularity of a community assignment over an undirected
    * graph — the partition-quality score every community detection is
    * judged by. Computed fraction-free:
    * Q = Σ_c (in_c/m − (deg_c/2m)²) = (4m·Σ in_c − Σ deg_c²) / 4m²,
    * so every term stays an INTEGER sum (intra-community edge count,
    * per-community degree totals, edge count) until one final IEEE
    * division — bit-identical in any engine, no rounding contract.
    *
    * Plan shape: two label equi-joins onto the edge list, one grouped
    * degree aggregation, three scalar reductions — everything after the
    * joins is domain-bounded (communities, not edges). `labels` carries
    * (node, label); nodes missing a label drop from scoring (their edges
    * count toward m — an unlabeled endpoint is by definition not
    * intra-community). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String,
      assumeSymmetric: Boolean = false): DataFrame = {
    val e = if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()
    val lab = labels.select(col(nodeCol).as("n"), col(labelCol).as("c"))
    val labeled = e
      .join(lab.select(col("n").as("a"), col("c").as("ca")), Seq("a"), "left")
      .join(lab.select(col("n").as("b"), col("c").as("cb")), Seq("b"), "left")
    val mAndIn = labeled.agg(count(lit(1)).as("m"),
      sum(when(col("ca").isNotNull && col("ca") === col("cb"), 1L)
        .otherwise(0L)).as("intra_edges"))
    val degSq = (if (assumeSymmetric) symmetricDegrees(edges, srcCol, dstCol)
      else e.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d")))
      .join(lab, Seq("n"))
      .groupBy(col("c")).agg(sum(col("d")).as("deg_c"))
      .agg(sum(col("deg_c") * col("deg_c")).as("sum_deg_sq"),
        count(lit(1)).as("n_communities"))
    mAndIn.crossJoin(degSq)
      .select(col("m"), col("intra_edges"), col("n_communities"),
        ((lit(4L) * col("m") * col("intra_edges") - col("sum_deg_sq")).cast("double") /
          (lit(4L) * col("m") * col("m"))).as("modularity"))
  }

  /** Per-community CONDUCTANCE — the cut-quality score [[modularity]]'s
    * single global number cannot localize: for each community C,
    * φ(C) = cut(C) / min(vol(C), vol(V∖C)), where cut counts edges with
    * exactly one endpoint in C and vol sums member degrees. Low
    * conductance = a well-separated community; a high-φ outlier is the
    * community a partition-quality audit flags for re-clustering.
    * Unlabeled endpoints count toward the cut (a half-labeled edge IS
    * leakage out of C). Fraction-free until one IEEE division per
    * community. Shape: one degree aggregation, two label joins on the
    * edge list, two grouped sums — all equi-joins on node/community
    * keys, plus a one-row total-volume broadcast. */
  def conductance(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String,
      assumeSymmetric: Boolean = false): DataFrame = {
    val e = if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()
    val lab = labels.select(col(nodeCol).as("n"), col(labelCol).as("c"))
    val labeled = e
      .join(lab.select(col("n").as("a"), col("c").as("ca")), Seq("a"), "left")
      .join(lab.select(col("n").as("b"), col("c").as("cb")), Seq("b"), "left")
    // each edge contributes to the cut of BOTH communities it straddles
    val cuts = labeled
      .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("c"))
      .where(col("c").isNotNull)
      .groupBy(col("c")).agg(count(lit(1)).as("cut"))
    val vol = (if (assumeSymmetric) symmetricDegrees(edges, srcCol, dstCol)
      else e.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d")))
      .join(lab, Seq("n"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("volume"))
    val total = e.agg((count(lit(1)) * 2).as("total_volume"))
    vol.join(cuts, Seq("c"), "left")
      .crossJoin(broadcast(total))
      .select(col("c").as("community"), col("n_nodes"), col("volume"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        // a community spanning the whole graph has no outside: φ undefined
        when(least(col("volume"), col("total_volume") - col("volume")) === 0,
          lit(null))
          .otherwise(coalesce(col("cut"), lit(0L)).cast("double") /
            least(col("volume"), col("total_volume") - col("volume")).cast("double"))
          .as("conductance"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list (each undirected edge counted in
    * both directions, the standard convention) — positive for hub-to-hub
    * networks, negative for hub-and-spoke. Same fraction-free discipline
    * as [[modularity]] and the q_correlation pipeline: all five moments
    * are INTEGER sums; r = (M·Σxy − Σx·Σy) / (√(M·Σx² − (Σx)²) ·
    * √(M·Σy² − (Σy)²)) is three correctly-rounded IEEE ops, bit-identical
    * in any engine. Two degree equi-joins + one scalar reduce. */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String,
      assumeSymmetric: Boolean = false): DataFrame = {
    val e = if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()
    val deg = if (assumeSymmetric) symmetricDegrees(edges, srcCol, dstCol)
      else e.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val both = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val sym = both.select(col("da").as("x"), col("db").as("y"))
      .unionByName(both.select(col("db").as("x"), col("da").as("y")))
    val g = sym.agg(count(lit(1)).as("mm"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val va = g("mm") * g("sxx") - g("sx") * g("sx")
    val vb = g("mm") * g("syy") - g("sy") * g("sy")
    g.select((col("mm") / 2).cast("long").as("m"),
      when(va <= 0 || vb <= 0, lit(null).cast("double"))
        .otherwise((g("mm") * g("sxy") - g("sx") * g("sy")).cast("double") /
          (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
        .as("assortativity"))
  }

  /** Deterministic random walks — the DeepWalk/node2vec positive-pair
    * generator, engine-replayable: the "random" neighbor choice at step s
    * of walk w is `md5(w || '|' || s) mod deg(current)` over the node's
    * id-ordered neighbor list, so any engine (and the SQL oracle) replays
    * the exact walk. Output is one row per (walk_id, step, node),
    * step 0 = the seed.
    *
    * Plan shape: the symmetric adjacency is ranked ONCE (one window over
    * the node-hash exchange, neighbor rank + degree together) and
    * materialized; each step is then one equi-join of the frontier against
    * it on (node, rank) — `steps` joins total, no recursion, no driver
    * loop. At 100 TB the adjacency frame is the natural bucketing target
    * (bucket by `v`) making every step exchange-free on the adjacency
    * side; the frontier stays walk-count-sized, independent of |E|. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    val adj = rankedAdjacency(edges, srcCol, dstCol, assumeSymmetric)
    walkLoop(adj, seeds.select(col(seedCol).as("walk_id"),
      col(seedCol).as("node"), lit(0).as("step")), steps)
  }

  /** [[randomWalks]] seeded by a predicate over the graph's OWN node set
    * (`nodeFilter` references the `node` column) — seeds derive from the
    * already-materialized adjacency, so a caller-built seed frame does not
    * re-run the (possibly expensive) edge derivation a second time: the
    * same one-materialization rationale as [[bfsFromMinNode]]. */
  def randomWalksFromNodes(edges: DataFrame, srcCol: String, dstCol: String,
      nodeFilter: org.apache.spark.sql.Column, steps: Int,
      assumeSymmetric: Boolean = false): DataFrame = {
    val adj = rankedAdjacency(edges, srcCol, dstCol, assumeSymmetric)
    val frontier0 = adj.select(col("v").as("node")).distinct()
      .where(nodeFilter)
      .select(col("node").as("walk_id"), col("node"), lit(0).as("step"))
    walkLoop(adj, frontier0, steps)
  }

  /** Symmetric adjacency with per-node id-ordered neighbor rank + degree,
    * materialized once: both walk windows share one node-hash exchange.
    * Fault-tolerance note (same trade-off as GlobalRank's default):
    * `localCheckpoint` truncates lineage but is NOT replicated — losing an
    * executor during the walk loop forces a job restart rather than a
    * partition recompute. Acceptable for a frame that lives for a handful
    * of frontier joins; a long-running job should stage the adjacency to
    * reliable storage instead (the staged-projection pattern the
    * graph queries use). */
  private def rankedAdjacency(edges: DataFrame, srcCol: String,
      dstCol: String, assumeSymmetric: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("n"))
    // under the contract the symmetric directed-pair set is the scan
    // itself (self-loops filtered in place) — bucketed on srcCol = `v`,
    // BOTH ranking windows run without an exchange
    val sym = if (assumeSymmetric)
        symmetricLoopFree(edges, srcCol, dstCol)
          .select(col(srcCol).as("v"), col(dstCol).as("n"))
      else {
        val e = edges.select(
            least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") =!= col("b")).distinct()
        e.select(col("a").as("v"), col("b").as("n"))
          .union(e.select(col("b").as("v"), col("a").as("n")))
      }
    sym
      .withColumn("rnk", row_number().over(w))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("v"))))
      .localCheckpoint(true)
  }

  private def walkLoop(adj: DataFrame, frontier0: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    // portable per-(walk, step) choice: low 60 bits of md5, non-negative
    def choice(walk: org.apache.spark.sql.Column, step: Int): org.apache.spark.sql.Column =
      pmod(conv(substring(md5(concat_ws("|", walk, lit(step))), 1, 15), 16, 10)
        .cast("long"), col("deg"))
    var frontier = frontier0
    var out = frontier
    for (s <- 1 to steps) {
      frontier = frontier
        .join(adj, frontier("node") === adj("v"))
        .where(col("rnk") === choice(col("walk_id"), s) + 1)
        .select(col("walk_id"), col("n").as("node"), lit(s).as("step"))
      out = out.unionByName(frontier)
    }
    out
  }

  /** PageRank via GraphX Pregel implementation. */
  def pageRank(nodes: DataFrame, edges: DataFrame, tol: Double = 0.001): DataFrame = {
    val spark = nodes.sparkSession
    val vids = denseVertexIds(nodes).cache()
    val g = toGraphXWithIds(vids, edges)
    val pr = g.pageRank(tol)
    val out = withVertexInfo(spark, vids, pr.vertices, "pagerank")
    // the output frame is materialized; release the interim graphs (a
    // long-lived session calling several algorithms would otherwise pin
    // every input AND result graph in the block manager until GC)
    pr.unpersist(blocking = false); g.unpersist(blocking = false)
    out
  }

  /** Connected components (undirected reachability). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val vids = denseVertexIds(nodes).cache()
    val g = toGraphXWithIds(vids, edges)
    val cc = g.connectedComponents()
    val out = withVertexInfo(spark, vids, cc.vertices.mapValues(_.toDouble), "component")
    cc.unpersist(blocking = false); g.unpersist(blocking = false)
    out
  }

  /** Triangle counts per vertex. */
  def triangleCount(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val vids = denseVertexIds(nodes).cache()
    val g = toGraphXWithIds(vids, edges)
    val tc = g.triangleCount()
    val out = withVertexInfo(spark, vids, tc.vertices.mapValues(_.toDouble), "triangles")
    tc.unpersist(blocking = false); g.unpersist(blocking = false)
    out
  }

  /** Unweighted shortest-path hop counts from each vertex to the given
    * landmark nodes (GraphX Pregel `ShortestPaths`). Landmarks are
    * (label, id) pairs; output is one row per reachable (vertex, landmark)
    * with the hop distance. Distances follow edge direction REVERSED
    * (GraphX's ShortestPaths semantics: distance from each vertex TO the
    * landmark along in-edges); pass a symmetrized edge frame for
    * undirected distance. */
  def shortestPaths(
      nodes: DataFrame, edges: DataFrame,
      landmarks: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.graphx.lib.ShortestPaths
    val spark = nodes.sparkSession
    import spark.implicits._
    val vids = denseVertexIds(nodes).cache()
    // collect ONLY the landmark rows (a handful), never the vid table
    val lmCond = landmarks
      .map { case (l, i) => col("label") === l && col("id") === i }
      .reduce(_ || _)
    val lmIds = vids.where(lmCond).select(col("vid")).collect().map(_.getLong(0))
    // every landmark must resolve: a silently-dropped typo would read as
    // "unreachable from everywhere" instead of "nonexistent"
    require(lmIds.length == landmarks.distinct.length,
      s"only ${lmIds.length} of ${landmarks.distinct.length} landmarks matched the node set: $landmarks")
    val g = toGraphXWithIds(vids, edges)
    val result = ShortestPaths.run(g, lmIds.toIndexedSeq)
    val rows = result.vertices.flatMap { case (vid, spMap) =>
      spMap.map { case (lm, d) => (vid, lm, d.toLong) }
    }.toDF("vid", "lm_vid", "hops")
    val lmNames = vids.select(col("vid").as("lm_vid"),
      col("label").as("lm_label"), col("id").as("lm_id"))
    val out = rows.join(vids, "vid").join(lmNames, "lm_vid")
      .select(col("label"), col("id"), col("lm_label"), col("lm_id"), col("hops"))
      .cache()
    out.count()
    vids.unpersist()
    result.unpersist(blocking = false); g.unpersist(blocking = false)
    out
  }

  /** k-core decomposition by distributed batch peeling: repeatedly drop
    * EVERY node of degree < k (and its edges) until the minimum degree is
    * >= k; what survives is the (unique, maximal) k-core. Returns one row
    * per surviving node with its IN-CORE degree.
    *
    * Core extraction is the standard graph-curation primitive this repo's
    * dedup-cluster and co-occurrence pipelines feed: the k-core is where
    * the statistically meaningful co-occurrence structure lives, while the
    * peeled fringe is the long tail a sampler or a mega-cluster guard
    * wants to treat separately.
    *
    * Scale shape: each round is one partial-aggregated degree count plus
    * two anti-joins on the node key — all equi-joins, pre-bucketable, no
    * driver data beyond a one-row emptiness probe. The adjacency only
    * SHRINKS, so round cost is non-increasing. Round COUNT is the graph's
    * peeling depth (number of "onion layers" below k) — small for
    * real-world heavy-tailed graphs, but O(n) adversarially (a path with
    * k=2 peels two ends per round), hence the loud `maxRounds` guard,
    * same contract as [[connectedComponentsStar]].
    *
    * Determinism: membership and in-core degrees are a fixpoint of a
    * deterministic set recurrence — no tie-breaks, no floats — so an
    * oracle replays the peel as a chained-CTE unroll and equality is
    * exact (q_k_core pins 16 unrolled peels against the fixture's
    * measured depth of 10). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 100, assumeSymmetric: Boolean = false): DataFrame =
    kCoreWithRounds(edges, srcCol, dstCol, k, maxRounds, assumeSymmetric)._1

  /** [[kCore]] plus the peel-round count (the ScaleProbe hook). */
  def kCoreWithRounds(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 100,
      assumeSymmetric: Boolean = false): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    // symmetric adjacency, deduplicated once; every round rewrites it in
    // place (materialized — the count probe and the anti-joins must see
    // one consistent set, and an unbounded lineage chain would otherwise
    // replan the whole peel history every round). Under the contract the
    // initial adjacency is the bucketed scan ITSELF (self-loops filtered
    // in place, no checkpoint needed for a plain scan): the first round's
    // degree rollup and both anti-joins on `s` read buckets in place.
    // loopFrame (r16): the peel rounds (degree rollup, two anti-joins,
    // emptiness probe, adjacency rewrite) run on the AQE-off clone —
    // bounded tiny-shuffle rounds whose cost at bench scale was stage-
    // materialization job latency, not data motion
    var adj = loopFrame(
      if (assumeSymmetric)
        symmetricLoopFree(edges, srcCol, dstCol)
          .select(col(srcCol).as("s"), col(dstCol).as("d"))
      else {
        val e0 = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
          .where(col("s") =!= col("d"))
        e0.union(e0.select(col("d").as("s"), col("s").as("d")))
          .distinct()
      })
    if (!assumeSymmetric) adj = adj.localCheckpoint(true)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val low = adj.groupBy(col("s")).agg(count(lit(1)).as("__deg"))
        .where(col("__deg") < k).select(col("s").as("n"))
        .localCheckpoint(true) // probed once, anti-joined twice
      if (low.limit(1).collect().isEmpty) done = true
      else {
        round += 1
        adj = adj
          .join(low.select(col("n").as("s")), Seq("s"), "left_anti")
          .join(low.select(col("n").as("d")), Seq("d"), "left_anti")
          .select(col("s"), col("d"))
          .localCheckpoint(true)
      }
    }
    require(done,
      s"k-core peeling did not stabilize in $maxRounds rounds — the input's " +
        "peeling depth exceeds the guard (adversarial chain-shaped graph?)")
    (adj.groupBy(col("s").as("node_id")).agg(count(lit(1)).as("core_degree")), round)
  }

  /** k-truss decomposition by batch peeling — the EDGE-level cohesion
    * twin of [[kCore]]: repeatedly drop every edge supported by fewer
    * than k−2 triangles until the support fixpoint; the survivors are
    * the (unique, maximal) k-truss, the standard "community core"
    * extraction one notch stronger than the k-core (every k-truss edge
    * is in the (k−1)-core, not vice versa). Returns surviving canonical
    * (a < b) edges with their IN-TRUSS support.
    *
    * Scale shape per round: one degree aggregation + the DEGREE-ORIENTED
    * wedge-close join of [[triangleCounts]] (out-degrees bounded by
    * O(√m) regardless of skew — the same hot-node defense, re-derived
    * each round on the shrinking edge set), one per-edge support
    * aggregation, one anti-join. The edge set only shrinks. Round count
    * is the truss peeling depth — small on real graphs, O(m)
    * adversarially, hence the loud `maxRounds` guard (the
    * [[kCore]]/[[connectedComponentsStar]] contract).
    *
    * Determinism: a fixpoint of a set recurrence — no tie-breaks, no
    * floats — so the oracle replays the peel as unrolled CTEs and
    * equality is exact. */
  def kTrussWithRounds(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 100,
      assumeSymmetric: Boolean = false): (DataFrame, Int) = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // under the contract src < dst IS the canonical set — no distinct.
    // The peel REWRITES the edge set every round, so unlike the fixed-
    // point loops a bucketed scan's partitioning cannot survive past
    // round one — but checkpointing the raw scan would PIN its bucket
    // count (32 tiny partitions at fixture scale) into every wedge-join
    // stage of every round, where the unflagged path's dedup exchange
    // let AQE right-size them (measured +18% isolated). One (a, b)
    // repartition replaces the dedup exchange at the same cost and
    // hands AQE-sized, wedge-join-keyed partitions to the loop.
    // loopFrame (r16): peel rounds on the AQE-off clone — same job-count
    // rationale as kCoreWithRounds
    var e = loopFrame(if (assumeSymmetric)
        edges.where(col(srcCol) < col(dstCol))
          .select(col(srcCol).as("a"), col(dstCol).as("b"))
          .repartition(col("a"), col("b"))
      else edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b")).distinct()).localCheckpoint(true)
    // per-edge triangle support on the CURRENT edge set, degree-oriented
    def support(ed: DataFrame): DataFrame = {
      val deg = ed.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val wd = ed
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      // orient from the (degree, id)-smaller endpoint
      val oriented = wd.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
      val tris = oriented.as("o1")
        .join(oriented.as("o2"),
          col("o1.u") === col("o2.u") && col("o1.v") < col("o2.v"))
        .select(col("o1.u").as("u"), col("o1.v").as("v1"), col("o2.v").as("v2"))
        .join(ed.as("c"),
          col("c.a") === least(col("v1"), col("v2")) &&
          col("c.b") === greatest(col("v1"), col("v2")))
        .select(col("u"), col("v1"), col("v2"))
      tris.select(explode(array(
          struct(least(col("u"), col("v1")).as("a"), greatest(col("u"), col("v1")).as("b")),
          struct(least(col("u"), col("v2")).as("a"), greatest(col("u"), col("v2")).as("b")),
          struct(least(col("v1"), col("v2")).as("a"), greatest(col("v1"), col("v2")).as("b"))))
          .as("ed"))
        .select(col("ed.a").as("a"), col("ed.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    }
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val sup = support(e)
      // an edge missing from the support frame is in zero triangles —
      // the left join + coalesce keeps it visible to the < k-2 drop
      val low = e.join(sup, Seq("a", "b"), "left")
        .where(coalesce(col("sup"), lit(0L)) < (k - 2).toLong)
        .select(col("a"), col("b")).localCheckpoint(true)
      if (low.limit(1).collect().isEmpty) done = true
      else {
        round += 1
        e = e.join(low, Seq("a", "b"), "left_anti")
          .localCheckpoint(true)
      }
    }
    require(done,
      s"k-truss peeling did not stabilize in $maxRounds rounds — truss depth " +
        "exceeds the guard (adversarial edge chain?)")
    (e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("support")),
      round)
  }

  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 100, assumeSymmetric: Boolean = false): DataFrame =
    kTrussWithRounds(edges, srcCol, dstCol, k, maxRounds, assumeSymmetric)._1

  /** Strongly connected components, two-tier (the
    * [[graft.ext.Dedup]] cluster-resolution pattern): a bounded probe
    * (`limit(n+1).count()` — edge rows reach the driver only AFTER the
    * local tier is chosen) decides between a driver-local iterative
    * Tarjan (exact, one pass, for edge sets under `driverEdgeLimit` —
    * domain-capped dependency/transition graphs live here, and the
    * distributed recurrence's ~2 jobs × rounds overhead would dominate
    * them) and the distributed FW-BW peeling of
    * [[stronglyConnectedComponentsWithStats]] for everything larger.
    * Identical labels either way (min member id; GraphOpsSpec pins
    * tier equality). */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxPeels: Int = 40, maxRounds: Int = 400,
      driverEdgeLimit: Int = 2000000): DataFrame = {
    // loopFrame (r16): the tier probe, the Tarjan collect (small tier) or
    // the peel rounds (distributed tier) all run over this frame — AQE-off
    // under the size gate, same job-count rationale as the other loops
    val e = loopFrame(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b")).distinct()).localCheckpoint(true)
    val small = e.limit(driverEdgeLimit + 1).count() <= driverEdgeLimit
    if (small) tarjanDriver(e)
    else stronglyConnectedComponentsWithStats(e, "a", "b", maxPeels, maxRounds)._1
  }

  /** Driver-local tier: iterative Tarjan (explicit stack — recursion
    * would blow the JVM stack at ~10k-node cycles) over a collected,
    * bounded edge list. Output labels = min member id, the same
    * convention as the distributed tier and the undirected operators. */
  private def tarjanDriver(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val edgeRows = e.collect().map(r => (r.get(0), r.get(1)))
    val nodes = (edgeRows.map(_._1) ++ edgeRows.map(_._2)).distinct
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val adj = Array.fill(n)(List.empty[Int])
    edgeRows.foreach { case (a, b) => val i = idx(a); adj(i) = idx(b) :: adj(i) }
    val index = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val stack = new scala.collection.mutable.ArrayDeque[Int]()
    val comp = Array.fill(n)(-1)
    var counter = 0
    var nComp = 0
    // explicit DFS frames: (node, remaining neighbors)
    val frames = new scala.collection.mutable.ArrayDeque[(Int, List[Int])]()
    for (root <- 0 until n if index(root) < 0) {
      index(root) = counter; low(root) = counter; counter += 1
      stack.prepend(root); onStack(root) = true
      frames.prepend((root, adj(root)))
      while (frames.nonEmpty) {
        val (v, rest) = frames.removeHead()
        rest match {
          case w :: tail =>
            frames.prepend((v, tail))
            if (index(w) < 0) {
              index(w) = counter; low(w) = counter; counter += 1
              stack.prepend(w); onStack(w) = true
              frames.prepend((w, adj(w)))
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            if (low(v) == index(v)) {
              var done = false
              while (!done) {
                val w = stack.removeHead(); onStack(w) = false
                comp(w) = nComp
                done = w == v
              }
              nComp += 1
            }
            frames.headOption.foreach { case (parent, _) =>
              low(parent) = math.min(low(parent), low(v))
            }
        }
      }
    }
    // label every SCC by its minimum member (generic ordering: Spark's
    // own ordering on the id column, applied after the frame is rebuilt)
    import scala.jdk.CollectionConverters._
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row(nodes(i), comp(i))).asJava
    val idType = e.schema("a").dataType
    val df = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType, nullable = false),
        org.apache.spark.sql.types.StructField("__c", org.apache.spark.sql.types.IntegerType, nullable = false))))
    val labels = df.groupBy(col("__c")).agg(min(col("node")).as("scc"))
    df.join(broadcast(labels), Seq("__c")).select(col("node"), col("scc"))
  }

  /** EXACT strongly connected components of a DIRECTED edge list —
    * trim / forward-color / backward-sweep peeling (the FW-BW–coloring
    * family: Fleischer–Hendrickson–Pinar 2000, Orzan 2004, Slota et al.
    * 2014) as a pure DataFrame recurrence. The reference has no directed-
    * graph algorithms; this is the directed twin of
    * [[connectedComponentsStar]], built for event-transition and citation
    * graphs where reachability is one-way.
    *
    * Per peel, on the still-unassigned subgraph:
    *  1. TRIM to a fixpoint: a node with no in-edge or no out-edge can sit
    *     on no cycle — it is its own SCC. Trimming alone resolves every
    *     DAG-shaped region (most transition graphs are near-DAGs), each
    *     round two key-only distincts and three anti-joins.
    *  2. COLOR forward to a fixpoint: color(v) = max id with a directed
    *     path to v. Colors only INCREASE, and self-loops fold "keep own"
    *     and "max over in-neighbors" into ONE grouped max per round (the
    *     [[labelPropagateMin]] trick, directed).
    *  3. SWEEP backward: within a color class c the pivot is node c itself
    *     (the class maximum — nothing larger reaches it). The members of
    *     c's class that REACH c are exactly SCC(c): mutual reachability
    *     with the pivot, both directions proven by construction. Every
    *     color class sweeps simultaneously — one peel can retire thousands
    *     of SCCs, which is what keeps the peel count small (expected
    *     O(log n) on random digraphs, Orzan's measurement).
    * Discovered SCCs are labeled by their MINIMUM member (the same
    * deterministic convention the undirected operators use, so an oracle
    * rebuilds labels from a recursive mutual-reachability closure), then
    * removed; the loop repeats on the remainder.
    *
    * Scale: every step is a node-keyed equi-join / grouped agg / anti-join
    * — hash-partitioned, AQE-skew-splittable, no single-reducer stage; the
    * working frames are `localCheckpoint`ed per mutation (lineage cut; NOT
    * persist — the CacheManager keys on canonicalized plans). Unlike star
    * contraction there is NO topology-independent round bound: the color
    * fixpoint needs forward-set-depth rounds (a directed n-cycle needs n).
    * `maxRounds` is the loud guard; graphs that trip it need a
    * partition-local Tarjan contraction first (documented trade, not
    * hidden).
    *
    * Returns the labels plus (peel count, total round count) — the
    * ScaleProbe hook. Output: (node, scc) over every endpoint of the
    * non-self-loop edge set. Callers who don't pick tiers by hand should
    * use [[stronglyConnectedComponents]] (bounded driver Tarjan below the
    * probe limit, this operator above it). */
  def stronglyConnectedComponentsWithStats(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxPeels: Int = 40, maxRounds: Int = 400): (DataFrame, Int, Int) = {
    var e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var active = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct().localCheckpoint(true)
    var assigned = active.where(lit(false))
      .select(col("node"), col("node").as("scc")).localCheckpoint(true)
    var peels = 0
    var rounds = 0
    def spendRound(): Unit = {
      rounds += 1
      require(rounds <= maxRounds,
        s"SCC did not resolve in $maxRounds propagation rounds — forward-set " +
          "depth exceeds the guard (directed near-cycle of that length?); " +
          "contract partition-local SCCs with Tarjan first, or raise maxRounds")
    }
    while (active.limit(1).collect().nonEmpty && peels < maxPeels) {
      peels += 1
      // 1. TRIM: peel nodes outside every cycle (no in- or no out-edge)
      var trimming = true
      while (trimming) {
        spendRound()
        val interior = e.select(col("a").as("node")).distinct()
          .join(e.select(col("b").as("node")).distinct(), Seq("node"))
        val trimmed = active.join(interior, Seq("node"), "left_anti")
          .localCheckpoint(true) // probed once, joined four times below
        if (trimmed.limit(1).collect().isEmpty) trimming = false
        else {
          assigned = assigned
            .unionByName(trimmed.select(col("node"), col("node").as("scc")))
            .localCheckpoint(true)
          active = active.join(trimmed, Seq("node"), "left_anti")
            .localCheckpoint(true)
          e = e.join(trimmed.select(col("node").as("a")), Seq("a"), "left_anti")
            .join(trimmed.select(col("node").as("b")), Seq("b"), "left_anti")
            .select(col("a"), col("b")).localCheckpoint(true)
        }
      }
      if (active.limit(1).collect().nonEmpty) {
        // 2. COLOR: forward max-propagation to a fixpoint
        val eSelf = e.unionByName(
          active.select(col("node").as("a"), col("node").as("b")))
          .localCheckpoint(true)
        var colors = active.select(col("node"), col("node").as("color"))
          .localCheckpoint(true)
        var stable = false
        while (!stable) {
          spendRound()
          val next = eSelf
            .join(colors.select(col("node").as("a"), col("color").as("ca")),
              Seq("a"))
            .groupBy(col("b"))
            .agg(max(col("ca")).as("color"))
            .select(col("b").as("node"), col("color"))
            .localCheckpoint(true)
          // colors only increase — one changed-row probe is the fixpoint test
          stable = next
            .join(colors.select(col("node"), col("color").as("prev")), Seq("node"))
            .where(col("color") =!= col("prev"))
            .limit(1).collect().isEmpty
          colors = next
        }
        // 3. SWEEP: grow "reaches the pivot" backward inside each class
        var reached = colors.where(col("node") === col("color"))
          .localCheckpoint(true)
        var nReached = reached.count()
        var growing = true
        while (growing) {
          spendRound()
          val step = e
            .join(reached.select(col("node").as("b"), col("color")), Seq("b"))
            .select(col("a").as("node"), col("color"))
            .join(colors, Seq("node", "color")) // stay inside the class
          reached = reached.unionByName(step).distinct().localCheckpoint(true)
          val n2 = reached.count() // monotone-growing set: counts decide
          growing = n2 != nReached
          nReached = n2
        }
        val labels = reached.groupBy(col("color")).agg(min(col("node")).as("scc"))
        val found = reached.join(labels, Seq("color"))
          .select(col("node"), col("scc")).localCheckpoint(true)
        assigned = assigned.unionByName(found).localCheckpoint(true)
        active = active.join(found.select(col("node")), Seq("node"), "left_anti")
          .localCheckpoint(true)
        e = e.join(found.select(col("node").as("a")), Seq("a"), "left_anti")
          .join(found.select(col("node").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b")).localCheckpoint(true)
      }
    }
    require(active.limit(1).collect().isEmpty,
      s"SCC peeling did not finish in $maxPeels peels — raise maxPeels " +
        "(each peel retires every current pivot's SCC; tripping this needs " +
        "an adversarial chain of nested SCCs)")
    (assigned, peels, rounds)
  }

  /** Topological LAYERS of the SCC condensation: contract each strongly
    * connected component (labels from [[stronglyConnectedComponents]]) to
    * one node — the condensation is a DAG by construction — and assign
    * every component its longest-path depth from the DAG's sources (the
    * scheduling wave a dependency executor would run it in; sources are
    * layer 0). The standard longest-path recurrence as a DataFrame
    * fixpoint: layers only INCREASE and are bounded by condensation depth,
    * so Σ layer is monotone and one scalar per round detects the fixpoint
    * (the [[connectedComponentsMin]] convergence trick, maximizing). The
    * self-loop fold keeps one layer-frame reference per round.
    *
    * Scale: condensation edges are two label joins + one distinct off the
    * original edge list; per round one equi-join + grouped max, all keyed
    * on component ids. Round count = condensation depth — for a DAG of
    * depth d that is d rounds, the honest bound (a dependency graph deeper
    * than `maxDepth` is almost certainly a cycle that SCC contraction
    * should have folded; the guard fails loudly rather than looping).
    *
    * Two-tier like [[stronglyConnectedComponents]]: when the probed
    * condensation (components + cross edges) fits under
    * `driverNodeLimit`, a driver-local Kahn longest-path pass replaces
    * depth-many distributed rounds — condensations are usually tiny even
    * when the underlying graph is not. */
  def condensationLayers(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, maxDepth: Int = 100,
      driverNodeLimit: Int = 2000000): DataFrame = {
    // loopFrame (r16): the condensation probes/collects (small tier) or
    // layer rounds (distributed tier) run AQE-off under the size gate
    val e = loopFrame(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct())
    val ce = e
      .join(labels.select(col("node").as("a"), col("scc").as("cu")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("scc").as("cv")), Seq("b"))
      .where(col("cu") =!= col("cv"))
      .select(col("cu"), col("cv")).distinct()
      .localCheckpoint(true)
    val comps = labels.select(col("scc")).distinct().localCheckpoint(true)
    val small =
      comps.limit(driverNodeLimit + 1).count() <= driverNodeLimit &&
        ce.limit(driverNodeLimit + 1).count() <= driverNodeLimit
    if (small) return kahnLayersDriver(comps, ce, maxDepth)
    // weighted self-loop fold: w=0 keeps own layer, w=1 relaxes in-edges
    val esym = ce.select(col("cu").as("a"), col("cv").as("b"), lit(1L).as("w"))
      .unionByName(comps.select(col("scc").as("a"), col("scc").as("b"), lit(0L).as("w")))
      .localCheckpoint(true)
    var layer = comps.select(col("scc").as("node"), lit(0L).as("layer"))
      .localCheckpoint(true)
    var mass = 0L
    var converged = false
    var round = 0
    while (!converged && round < maxDepth) {
      round += 1
      val next = esym
        .join(layer.select(col("node").as("a"), col("layer").as("la")), Seq("a"))
        .groupBy(col("b"))
        .agg(max(col("la") + col("w")).as("layer"))
        .select(col("b").as("node"), col("layer"))
        .localCheckpoint(true)
      val nextMass = next.agg(sum(col("layer"))).head.getLong(0)
      converged = nextMass == mass
      mass = nextMass
      layer = next
    }
    require(converged,
      s"condensation depth exceeds $maxDepth — the SCC labels fed in do " +
        "not contract every cycle (wrong labels?) or the DAG is " +
        "adversarially deep; raise maxDepth")
    layer.select(col("node").as("scc"), col("layer"))
  }

  /** Driver tier for [[condensationLayers]]: Kahn topological order with
    * longest-path relaxation over the collected condensation. Cycles in
    * the input (= wrong SCC labels) leave nodes unprocessed and fail the
    * same loud way the distributed guard does. */
  private def kahnLayersDriver(comps: DataFrame, ce: DataFrame,
      maxDepth: Int): DataFrame = {
    val spark = comps.sparkSession
    val nodes = comps.collect().map(_.get(0))
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val adj = Array.fill(n)(List.empty[Int])
    val indeg = Array.fill(n)(0)
    ce.collect().foreach { r =>
      val u = idx(r.get(0)); val v = idx(r.get(1))
      adj(u) = v :: adj(u); indeg(v) += 1
    }
    val layer = Array.fill(n)(0L)
    val queue = scala.collection.mutable.Queue(
      (0 until n).filter(indeg(_) == 0): _*)
    var processed = 0
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      processed += 1
      adj(u).foreach { v =>
        if (layer(u) + 1 > layer(v)) layer(v) = layer(u) + 1
        indeg(v) -= 1
        if (indeg(v) == 0) queue.enqueue(v)
      }
    }
    require(processed == n,
      "condensation contains a cycle — the SCC labels fed in do not " +
        "contract every cycle (wrong labels?)")
    require(n == 0 || layer.max <= maxDepth,
      s"condensation depth ${if (n == 0) 0 else layer.max} exceeds $maxDepth")
    import scala.jdk.CollectionConverters._
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row(nodes(i), layer(i))).asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("scc",
          comps.schema("scc").dataType, nullable = false),
        org.apache.spark.sql.types.StructField("layer",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
