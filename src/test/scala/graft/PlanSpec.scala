package graft

import graft.staging.{StagedArtifacts, Staging}

/** Plan-shape regression tests: the physical plans the engine relies on for
  * scale must keep their key properties (pushdown, pruning, broadcast
  * strategy, pre-shuffle top-k pruning). String checks over the executed
  * plan — crude but catches strategy regressions immediately.
  *
  * The EXACT-COUNT pins (exchanges == 2, BroadcastHashJoin count == 2, …)
  * deliberately freeze a physical shape under THIS suite's config:
  * AQE on, default `spark.sql.autoBroadcastJoinThreshold` (10 MB),
  * `spark.sql.shuffle.partitions` = 32 (see [[SparkSpec]]), sf0.001 inputs.
  * If one fails after a Spark upgrade or a config change, first diff the
  * printed plan against the assertion's intent — a count drift with the
  * same join/exchange STRUCTURE is plan-shape drift (update the pin), while
  * a new SortMergeJoin or a lost shared exchange is a real scale
  * regression. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()

  test("filter+project pushes predicates into the parquet scan and prunes columns") {
    val p = plan("q_filter_project")
    // the one-line plan render truncates long filter lists; check the parts
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity,45.0)"), "range predicate not pushed")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"), "column pruning lost")
  }

  test("mapping join broadcasts the mapping side") {
    val p = plan("q_mapping_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("LeftOuter"), "mapping join must stay left-outer by default")
  }

  test("snowflake join broadcasts both dimension tables") {
    val p = plan("q_snowflake_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimensions must not sort-merge")
  }

  test("ranked top-k prunes per group before the shuffle (WindowGroupLimit)") {
    val p = plan("q_topk_window")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("inverted index runs all term-wise work on one term exchange with group-limit pruning") {
    val p = plan("q_inverted_index")
    // posting-head row_number ≤ k must bound the per-term sort/collect
    // (post-exchange — the term shuffle itself is irreducible, df needs
    // every row) instead of materializing full per-term sorts
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // exactly two shuffles: (term, doc) tf aggregation, then the term
    // partitioning shared by both windows AND the final per-term fold —
    // a third exchange would mean the fold lost the window partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected 2 exchanges (tf + term stage), got:\n${p.take(3000)}")
  }

  test("aggregations do partial (map-side) aggregation before the exchange") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size == 1, "q1 must shuffle exactly once")
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    import graft.sources.Tables
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
          .toList.foreach(rmTree)
        finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previously-aborted run can leave the managed location behind
      rmTree(java.nio.file.Paths.get("spark-warehouse", t))
    }
    Tables.writeBucketed(
      Tables.read(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_custkey", 4)
    Tables.writeBucketed(
      Tables.read(spark, dir, "customer").select("c_custkey", "c_name")
        .withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 4)
    val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
    // disable broadcast so the shuffle would be visible if bucketing failed
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        .queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(joined.count() > 0)
  }

  test("q_dynamic_prune's fact scan carries a runtime dynamicpruning partition filter") {
    val p = plan("q_dynamic_prune")
    // the dim side's runtime key set must reach the fact scan as a
    // partition filter — the access-path property that lets a 100 TB
    // fact table open only the matching lang directories
    assert(p.contains("dynamicpruning"), p.take(3000))
  }

  test("q_bucket_join joins co-bucketed tables without exchanging either side") {
    // run once to stage the bucketed pair, then pin the plan with
    // broadcast off — under broadcast the bucketing would be invisible
    // at this SF and the pin would prove nothing
    SparkEntry.queries("q_bucket_join")(spark, dir).collect()
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val p = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SparkEntry.queries("q_bucket_join")(spark, dir)
        .queryExecution.executedPlan.toString()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(p.contains("Bucketed: true"), p.take(3000))
    // the join key moves nothing: the ONLY exchange is the final
    // mktsegment rollup — an o_custkey hashpartitioning would mean the
    // bucketed layout was ignored and the fact table reshuffles at scale
    assert(!p.contains("hashpartitioning(o_custkey"),
      s"join-side exchange found:\n${p.take(3000)}")
    assert("Exchange hashpartitioning\\(c_mktsegment".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("bucketed cross-dedup joins the staged reference with zero reference-side exchange") {
    val p = plan("q_cross_dedup_bucketed")
    // the staged reference must be read bucketed IN PLACE …
    assert(p.contains("Bucketed: true"), p.take(3000))
    // … and never shuffled: at most one bkey exchange may exist (the small
    // batch entering the bucket layout — at this SF the batch is broadcast
    // instead, which is zero). Two would mean the huge-at-scale reference
    // itself is being exchanged, the exact cost bucketed staging removes.
    val n = "hashpartitioning\\(bkey".r.findAllIn(p).size
    assert(n <= 1, s"expected <=1 bkey exchange (batch side only), got $n:\n${p.take(3000)}")
  }

  test("salted join equals the plain join") {
    import graft.operators.Skew
    val orders = graft.sources.Tables.read(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    val customer = graft.sources.Tables.read(spark, dir, "customer")
      .withColumnRenamed("c_custkey", "o_custkey").select("o_custkey", "c_name")
    val plain = orders.join(customer, "o_custkey").count()
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", 8).count()
    assert(plain == salted)
  }

  test("repetition profile is a zero-shuffle per-row projection") {
    val docs = graft.sources.Tables.read(spark, dir, "documents")
    val p = graft.ext.TextAnalysis.repetitionProfile(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), "a per-document statistic must not shuffle")
    assert(!p.contains("Generate"), "the sorted-run form must not explode bigrams")
  }

  test("IVF centroid assignment is a narrow projection (no corpus shuffle/window)") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.read(spark, dir, "embeddings")
    val cents = graft.ext.Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val p = graft.ext.Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Window"), "assignment must not use a per-row window")
    assert(!p.contains("Exchange"), "assignment must not shuffle the corpus")
  }

  test("winsorize broadcasts the per-group caps onto the fact scan") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the tiny caps frame must broadcast, not shuffle the fact table")
    // both percentile stages ride the staged value-count histogram — a
    // lineitem scan here means the sufficient-statistic pushdown regressed
    assert(p.contains("graft_pricecnt_"), p.take(2000))
    assert(!p.contains("lineitem.parquet"),
      "winsorize must read the staged (flag, price, cnt) frame, not the fact table")
  }

  test("MAD outliers broadcast both stat frames onto the fact scan") {
    val p = plan("q_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "median/MAD frames are per-group tiny and must broadcast")
    // same sufficient-statistic contract as q_winsorize
    assert(p.contains("graft_pricecnt_"), p.take(2000))
    assert(!p.contains("lineitem.parquet"),
      "MAD audit must read the staged (flag, price, cnt) frame, not the fact table")
  }

  test("FK sketch is join-free: provenance flags fold in one group-max per candidate") {
    val p = plan("q_fk_sketch")
    assert(!p.contains("Join"),
      "membership must come from tagged group-max flags, not joins back against the full sets")
    assert(p.contains("TakeOrderedAndProject"),
      "the bottom-k must be a bounded TakeOrdered, not a global sort")
  }

  test("column profile folds distinct counts from the histogram, not an Expand") {
    val p = plan("q_column_profile")
    // exactly ONE Expand: the unpivot itself. countDistinct would add a
    // second (its rewrite duplicates the unpivoted rows through the first
    // aggregate); the two-level histogram aggregation must not reappear
    assert("Expand".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("salted join broadcasts the replicated dimension") {
    val p = plan("q_salted_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "saltFactor-replicated dimension is still broadcast-sized")
  }

  test("benchmark overlap broadcasts the bench gram set") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle on gram text")
  }

  test("duplicate-line profile: one line-hash exchange + one doc rollup, no text shuffle") {
    val p = plan("q_line_dedup")
    assert(p.contains("hashpartitioning(line_hash"), p.take(2000))
    assert(!p.contains("hashpartitioning(chunk_text"),
      "an exchange is carrying raw line text")
    // dedup + doc-frequency window must SHARE the line_hash exchange; with
    // the doc rollup that is 2 shuffles total for the whole profile
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, plan has $exchanges:\n" + p.take(3000))
  }

  test("correlated scalar subquery decorrelates to an aggregate + join (no per-row loop)") {
    val p = plan("q_scalar_subquery")
    // RewriteCorrelatedScalarSubquery must turn the per-row subquery into
    // one grouped aggregate joined back — a nested-loop/cartesian shape
    // would re-run the aggregate per outer row
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "scalar subquery fell back to a nested loop")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p.take(2000))
  }

  test("semantic dedup: assignment is narrow; only the centroid_id pair join shuffles") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.read(spark, dir, "embeddings")
    val cents = graft.ext.Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val assigned = graft.ext.Similarity
      .assignToCentroidsCosine(emb, "vec_id", "embedding", cents)
    val pa = assigned.queryExecution.executedPlan.toString()
    assert(!pa.contains("Exchange"), "cosine assignment must not shuffle the corpus")
    assert(!pa.contains("Window"), "cosine assignment must not use a per-row window")
    // the full operator: corpus shuffles ONLY on centroid_id for the
    // within-bucket pair join (broadcast at this SF is fine too — what must
    // never appear is a cartesian all-pairs)
    val p = graft.ext.Dedup
      .semanticNearDuplicates(emb, "vec_id", "embedding", nlist = 8, threshold = 0.9)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair generation must join on centroid_id, never cross-join the corpus")
  }

  test("importance weights: both LM count-windows collapse into one Window node") {
    val p = plan("q_importance_weights")
    // tc and rc are windows over the same term partitioning — CollapseWindow
    // must merge them so the two LMs share ONE term exchange; a second
    // Window node would mean the (doc, term) frame shuffles twice
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected 1 Window node, got $windows:\n" + p.take(3000))
  }

  test("bm25: the query-term filter runs below every exchange; top-k is TakeOrdered") {
    val p = plan("q_bm25")
    // the corpus must never shuffle whole — the isin filter sits in the
    // explode projection, so the first shuffle carries only (doc,
    // query-term) rows. The plan string renders outer nodes first, so the
    // filter being DEEPER than every exchange means it runs earlier.
    val lastExchange = p.lastIndexOf("Exchange hashpartitioning")
    val termFilter = p.indexOf(" IN (spark,merge,vector)")
    assert(lastExchange >= 0 && termFilter >= 0, p.take(3000))
    assert(termFilter > lastExchange,
      "query-term filter must run below the deepest exchange:\n" + p.take(3000))
    // global top-20 must be a TakeOrdered, never a full Sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("source divergence: one term exchange feeds the window; totals broadcast") {
    val p = plan("q_source_divergence")
    // per-stratum totals and the corpus total must arrive as broadcasts —
    // a sort-merge join here would re-shuffle the (stratum, term) frame
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(3000))
  }

  test("pagerank: per-round joins are exchange-free on the bucketed edge side") {
    // the staged bipartite table is DISTINCT + bucketed/sorted on src
    // (stagedBipartiteEdges), so the degree rollup and every per-round
    // rank join read buckets in place: the ONLY src-keyed movement
    // allowed anywhere is of the node-sized rank frame (hashpartitioning
    // on `node`); an `Exchange hashpartitioning(src` would mean the 100 TB
    // edge frame reshuffles inside every iteration — the exact cost the
    // bucketed staging exists to delete
    val df = SparkEntry.queries("q_pagerank")(spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString()
    // r16: the loop runs on the AQE-off clone (GraphOps.loopFrame), so the
    // executed plan is CLASSIC — the pin's original guard was only against
    // asserting on an unexecuted initial AQE plan
    assert(!p.contains("isFinalPlan=false"), p.take(500))
    assert(!"Exchange hashpartitioning\\(src".r.findAllIn(p).hasNext,
      "edge-side exchange found inside the iteration loop:\n" + p.take(3000))
    // the degree-annotated edge frame is pinned once (withDeg checkpoint
    // preserving the bucket partitioning), so the iterations consume an
    // ExistingRDD scan, not a per-iteration re-derivation
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "pinned edge frame missing from the loop:\n" + p.take(3000))
    // and the staged table itself IS the bucketed layout: a key-rollup
    // over it must read buckets in place — no exchange, bucket-aware scan
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val tp = spark.table(Staging.stagedTableName(s"graft_bipartite_$digest"))
      .groupBy(org.apache.spark.sql.functions.col("src")).count()
      .queryExecution.executedPlan.toString()
    assert(tp.contains("Bucketed: true"),
      "staged edge table scan is not bucket-aware:\n" + tp.take(3000))
    assert(!tp.contains("Exchange"),
      "src rollup over the bucketed table still exchanges:\n" + tp.take(3000))
  }

  test("broadcast-iteration pagerank: ZERO hash exchange in any round") {
    // the edgesByDst variant's structural claim, pinned the way the
    // exchange form's is (r13 verdict #4) — and STRENGTHENED by what
    // writing the pin surfaced: a bare localCheckpoint dropped the
    // bucket layout (auto-bucketed-scan read the files unbucketed when
    // the checkpoint's own plan needed no distribution), so each round
    // was shipping its map-side-combined dst partials. GraphOps'
    // pinKeepingLayout records HashPartitioning(dst) into the pinned
    // swapped view, after which each round is: ExistingRDD scan →
    // broadcast join of the node-sized contribution frame → dst sum
    // folded IN PLACE. Zero hash exchange of any size, any round — the
    // 100 TB plan exactly.
    import org.apache.spark.sql.functions.col
    val sym = StagedArtifacts.stagedBipartiteEdges(spark, dir)
    val df = graft.graph.GraphOps.pageRankFixedPoint(
      sym, "src", "dst", iterations = 5, assumeDistinct = true,
      assumeNoDangling = true,
      edgesByDst = Some(sym.select(col("dst").as("src"), col("src").as("dst"))))
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString()
    // r16: classic plan on the AQE-off loop clone (see q_pagerank pin)
    assert(!p.contains("isFinalPlan=false"), p.take(500))
    assert(!"Exchange hashpartitioning".r.findAllIn(p).hasNext,
      "hash exchange inside the broadcast-iteration loop:\n" + p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "the contribution frame is not broadcast — the variant degenerated:\n" + p.take(3000))
    // the swapped edge view is pinned once: the rounds consume
    // ExistingRDD scans, not per-round re-derivations of the staged table
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "pinned swapped edge view missing from the loop:\n" + p.take(3000))
  }

  test("bfs: ZERO hash exchange in any relax round (pinned layout + broadcast frontier)") {
    // r15, the r14 hazard sweep's one REAL hit: bfsEdges bare-checkpointed
    // a projection of the bucketed co-purchase scan while its comment
    // claimed the checkpoint "preserves the scan's bucket partitioning" —
    // exactly the false claim the r14 pagerank pin disproved. The fix is
    // the pagerank broadcast-iteration move: read the symmetric table
    // UNSWAPPED (bucket column = the per-round GROUP key `a`),
    // pinKeepingLayout the relax frame, broadcast the node-sized distance
    // frame into each round — the per-round min then folds IN PLACE on
    // the recorded HashPartitioning(a). Zero hash exchange of any size in
    // any round; the only non-broadcast movement is the one-row seed
    // aggregate (SinglePartition, not hash).
    val df = SparkEntry.queries("q_bfs_dist")(spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString()
    // r16: classic plan on the AQE-off loop clone (see q_pagerank pin)
    assert(!p.contains("isFinalPlan=false"), p.take(500))
    assert(!"Exchange hashpartitioning".r.findAllIn(p).hasNext,
      "hash exchange inside the BFS relax loop:\n" + p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "the distance frame is not broadcast — the relax degenerated:\n" + p.take(3000))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "pinned relax frame missing from the loop:\n" + p.take(3000))
  }

  test("layout pin is session-local: a concurrent planner keeps bucket-aware scans") {
    // r15 (r14 verdict #2): pinKeepingLayout plans its eager checkpoint
    // on a cached cloned session whose conf carries autoBucketedScan
    // off — the caller session's conf is never written, so there is no
    // window in which a concurrent planner could observe the flip (the
    // r14 implementation flipped the shared conf under a lock and
    // documented the bystander hazard instead of removing it). Exercise
    // it live: pins loop in a background thread while this thread plans
    // a bucket-keyed rollup repeatedly — every plan must stay
    // bucket-aware and the session flag must read true throughout.
    import org.apache.spark.sql.functions.col
    val sym = StagedArtifacts.stagedCoPurchaseSym(spark, dir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pinner = new Thread(() => {
      try while (!stop.get()) {
        // construction pins eSelf via pinKeepingLayout (an eager
        // checkpoint job per loop pass)
        graft.graph.GraphOps.bfsFromMinNode(sym, "a", "b", maxHops = 1,
          assumeSymmetric = true): Unit
      } catch { case t: Throwable => err.set(t) }
    })
    pinner.start()
    try (1 to 25).foreach { _ =>
      val p = sym.groupBy(col("a")).count()
        .queryExecution.executedPlan.toString()
      assert(p.contains("Bucketed: true"),
        "concurrent planner lost the bucket-aware scan during a pin:\n" + p.take(2000))
      assert(spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true") == "true",
        "the layout pin flipped the MAIN session's autoBucketedScan conf")
    } finally { stop.set(true); pinner.join(30000) }
    assert(err.get() == null, s"pinner thread failed: ${err.get()}")
  }

  test("closeness: per-round frontier joins are exchange-free on the pinned edge side") {
    // multiSourceBfs's eSelf is the same pinned projection (bucket column
    // = the join key `a`); the (seed, node)-keyed frontier is the only
    // frame allowed to move — it re-keys per round by construction. An
    // `Exchange hashpartitioning(a#` would mean the 100 TB edge frame
    // reshuffles inside every hop.
    val df = SparkEntry.queries("q_closeness")(spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(!"Exchange hashpartitioning\\(a#".r.findAllIn(p).hasNext,
      "edge-side exchange found inside the multi-source BFS loop:\n" + p.take(3000))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "pinned relax frame missing from the loop:\n" + p.take(3000))
  }

  test("staged bipartite table is a symmetric closure (the assumeNoDangling certificate)") {
    // q_pagerank/q_ppr pass assumeNoDangling on the strength of this
    // property: the closure holds every edge's reverse, so every dst is a
    // src and no node can leak rank mass. Pin it ON THE STAGED TABLE
    // itself (not the builder expression) — a staging change that drops
    // the reversed half must fail here, not as silently corrupted ranks.
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("q_pagerank")(spark, dir).queryExecution.toRdd.count()
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val e = spark.table(Staging.stagedTableName(s"graft_bipartite_$digest"))
    val asymmetric = e.select(col("dst").as("src"), col("src").as("dst"))
      .except(e.select(col("src"), col("dst")))
    assert(asymmetric.isEmpty,
      "staged bipartite table is missing reversed edges — the " +
        "assumeNoDangling certification no longer holds")
  }

  test("label-prop: per-round joins are exchange-free on the bucketed co-purchase side") {
    // the staged symmetric co-purchase table (stagedCoPurchaseSym) is
    // bucketed/sorted on `a` and read ROLES-SWAPPED so the bucket column
    // IS the per-round join key `b`: the only allowed movement inside a
    // round is of the node-sized label frame (hashpartitioning on `a`
    // AFTER the map-side partial min). An `Exchange hashpartitioning(b`
    // would mean the 100 TB edge frame reshuffles inside every iteration.
    val df = SparkEntry.queries("q_label_prop")(spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(!"Exchange hashpartitioning\\(b#".r.findAllIn(p).hasNext,
      "edge-side exchange found inside the label recurrence:\n" + p.take(3000))
    assert(p.contains("Bucketed: true"),
      "label rounds are not reading the bucketed staged table:\n" + p.take(3000))
    // the staged symmetric table itself: a degree rollup on the bucket key
    // reads buckets in place — this is the layout contract every flagged
    // GraphOps derivation (degrees, adjacency windows, peel rounds) rides
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val tp = spark.table(Staging.stagedTableName(s"graft_copurch_$digest"))
      .where(org.apache.spark.sql.functions.col("a") =!=
        org.apache.spark.sql.functions.col("b"))
      .groupBy(org.apache.spark.sql.functions.col("a")).count()
      .queryExecution.executedPlan.toString()
    assert(tp.contains("Bucketed: true"),
      "staged co-purchase scan is not bucket-aware:\n" + tp.take(3000))
    assert(!tp.contains("Exchange"),
      "degree rollup over the bucketed table still exchanges:\n" + tp.take(3000))
    // the walk family's ranked-adjacency windows partition by the bucket
    // key: both row_number and the degree count must run on the scan's
    // own distribution (an exchange here would reshuffle the 100 TB
    // adjacency before every walk batch)
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("v"))
    val ap = spark.table(Staging.stagedTableName(s"graft_copurch_$digest"))
      .where(org.apache.spark.sql.functions.col("a") =!=
        org.apache.spark.sql.functions.col("b"))
      .select(org.apache.spark.sql.functions.col("a").as("v"),
        org.apache.spark.sql.functions.col("b").as("n"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number()
        .over(wf.orderBy(org.apache.spark.sql.functions.col("n"))))
      .withColumn("deg", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(wf))
      .queryExecution.executedPlan.toString()
    assert(!ap.contains("Exchange"),
      "ranked adjacency re-exchanges the bucketed scan:\n" + ap.take(3000))
  }

  /** The published location a staged bucketed table is registered at. */
  private def stagedLocation(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $name")
      .where("col_name = 'Location'").head().getString(1)))

  test("staged bucketed tables re-register across processes without a rewrite") {
    // cross-JVM staging reuse: a completed bucketed staging survives as
    // files + a _GRAFT_STAGED marker; a fresh process (simulated here by
    // dropping the in-memory catalog entry and re-registering the DDL
    // over the existing location) must reattach WITHOUT rewriting data.
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val name = Staging.stagedTableName(s"graft_copurch_$digest")
    SparkEntry.queries("q_label_prop")(spark, dir).queryExecution.toRdd.count()
    val loc = stagedLocation(name)
    assert(java.nio.file.Files.exists(loc.resolve("_GRAFT_STAGED.properties")),
      "staging marker missing — cross-JVM reuse has nothing to probe")
    val before = spark.table(name).collect().map(_.toString).sorted.toSeq
    val dataFiles = java.nio.file.Files.list(loc).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    assert(dataFiles.length == 16, s"expected 16 one-file buckets, got ${dataFiles.length}")
    val mtimes = dataFiles.map(java.nio.file.Files.getLastModifiedTime(_))
    // simulate the next JVM: catalog entry gone, files + marker remain
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(loc.resolve("_GRAFT_STAGED.properties"))
    try props.load(in) finally in.close()
    spark.sql(s"CREATE TABLE $name (${props.getProperty("schema")}) USING PARQUET " +
      s"CLUSTERED BY (a) SORTED BY (a) INTO 16 BUCKETS LOCATION '${loc.toUri}'")
    assert(spark.table(name).count() == props.getProperty("rows").toLong,
      "re-registered table row count disagrees with the marker")
    assert(spark.table(name).collect().map(_.toString).sorted.toSeq == before)
    // the re-registered layout still scans bucket-aware and exchange-free
    val tp = spark.table(name)
      .groupBy(org.apache.spark.sql.functions.col("a")).count()
      .queryExecution.executedPlan.toString()
    assert(tp.contains("Bucketed: true"), tp.take(2000))
    assert(!tp.contains("Exchange"), tp.take(2000))
    // and nothing was rewritten
    dataFiles.zip(mtimes).foreach { case (f, t0) =>
      assert(java.nio.file.Files.getLastModifiedTime(f) == t0,
        s"reuse rewrote $f")
    }
  }

  test("staging reuses a valid prior build and rebuilds on input mutation") {
    // own input dir (the fixture dirs are read-only): q_label_prop reads
    // only lineitem, so one copied file is a complete input
    val tmp = tempDir("graft_stale_test")
    val li = tmp.resolve("lineitem.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "lineitem.parquet"), li)
    val d = tmp.toString
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val name = Staging.stagedTableName(s"graft_copurch_$digest")
    // the staging is content-addressed: its location changes with the
    // input, so the marker is resolved through the registered table
    def marker = stagedLocation(name).resolve(Staging.StagingMarkerName)
    def run(): Seq[String] = {
      val r = SparkEntry.queries("q_label_prop")(spark, d)
        .collect().map(_.toString).sorted.toSeq
      r
    }
    def markerFp(): String = {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(marker)
      try p.load(in) finally in.close()
      p.getProperty("fp")
    }
    val r1 = run()
    val fp1 = markerFp()
    val loc1 = stagedLocation(name)
    val m1 = java.nio.file.Files.getLastModifiedTime(marker)
    // the staged DATA files must be untouched by a reuse (their mtimes
    // are the rewrite tell; the marker's mtime is NOT — reuse touches it
    // as the GC liveness signal, see sweepStaleStagings' age guard)
    def dataFileTimes(): Map[String, java.nio.file.attribute.FileTime] = {
      val st = java.nio.file.Files.list(loc1)
      try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString != Staging.StagingMarkerName)
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally st.close()
    }
    val files1 = dataFileTimes()
    // fresh process, untouched input -> reuse (staging files not rewritten)
    Staging.resetStagingRefsForTest()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    assert(run() == r1)
    assert(markerFp() == fp1)
    assert(stagedLocation(name) == loc1, "reuse must serve the published path")
    assert(dataFileTimes() == files1, "reuse path rewrote the staging")
    assert(java.nio.file.Files.getLastModifiedTime(marker)
      .compareTo(m1) >= 0,
      "reuse must refresh (touch) the marker — the GC liveness signal")
    // fresh process, MUTATED input (mtime bump = upstream rewrite) ->
    // new fingerprint -> a new staging at a new path, the old one untouched
    java.nio.file.Files.setLastModifiedTime(li,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(li).toMillis + 5000))
    Staging.resetStagingRefsForTest()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    assert(run() == r1, "same bytes, new mtime: results must be unchanged")
    assert(markerFp() != fp1, "mutated input did not force a staging rebuild")
    val loc2 = stagedLocation(name)
    assert(loc2 != loc1, "a mutated input must stage a new path")
    assert(dataFileTimes() == files1, "the rebuild touched the old input's staging")
    // fresh process, same input, STALE CODE: the fingerprint's first
    // component is the digest of the compiled graft classes
    // (Staging.logicDigest), so a frame staged by an older build
    // carries a different prefix — simulate one by rewriting the marker
    // with a bogus logic digest and prove the next probe REBUILDS
    // instead of serving the stale frame (the failure mode the manual
    // StagingEpoch constant could not rule out: builder edited, epoch
    // bump forgotten, stale frame served silently)
    val fp2 = markerFp()
    assert(fp2.startsWith(Staging.logicDigest + ":"),
      s"staging fingerprint must lead with the code digest, got $fp2")
    val staleProps = new java.util.Properties()
    val in2 = java.nio.file.Files.newInputStream(marker)
    try staleProps.load(in2) finally in2.close()
    staleProps.setProperty("fp",
      "0" * Staging.logicDigest.length + fp2.drop(Staging.logicDigest.length))
    val out2 = java.nio.file.Files.newOutputStream(marker)
    try staleProps.store(out2, null) finally out2.close()
    Staging.resetStagingRefsForTest()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    assert(run() == r1, "rebuild from current code: results must be unchanged")
    assert(markerFp() == fp2,
      "a marker from different code must force a rebuild under the current digest")
    // leave the shared staging set coherent for later tests in this JVM,
    // and clear this test's throwaway catalog + warehouse entries (the
    // tmp-dir digest is random per run — leftovers would only accrete)
    Staging.resetStagingRefsForTest()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Seq(loc1, loc2).foreach(graft.etl.Context.deleteRecursively)
    graft.etl.Context.deleteRecursively(tmp)
  }

  test("funnel: every stage scan is type-pruned at the parquet reader") {
    val p = plan("q_funnel")
    // three stage scans, each with its event_type filter PUSHED — a funnel
    // that reads the whole event log per stage re-reads 100 TB three times
    for (t <- Seq("view", "click", "purchase"))
      assert(p.contains(s"EqualTo(event_type,$t)"),
        s"stage filter for '$t' not pushed to the scan:\n" + p.take(3000))
  }

  test("scd2: both windows and the run aggregation share ONE user exchange") {
    val p = plan("q_scd2")
    // lag-gate window, running-sum window, groupBy(user_id, run_id), and
    // the lead() window all cluster by user_id: hash partitioning on
    // user_id satisfies every one of them (grouping keys are a superset),
    // so a second hash exchange means an operator lost the partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected 1 shared user_id exchange:\n${p.take(3000)}")
  }

  test("containment: posting-list equi-join, never a cartesian product") {
    val p = plan("q_containment")
    // the defining property vs q_jaccard_pairs: candidate pairs come from
    // an EQUI-join on the gram key (hash- or broadcast-based), so the
    // doc_id != filter rides the join instead of gating an all-pairs
    // product. At sf0.001 the gram side broadcasts; at scale the same
    // plan becomes a hash shuffle on the gram key — either way, never NLJ
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("skew profile: one count-per-key exchange, then a single-row reduce") {
    val p = plan("q_skew_profile")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the per-key count exchange:\n${p.take(3000)}")
    // the key column is the only one read
    assert(p.contains("ReadSchema: struct<l_partkey:bigint>"),
      "scan not pruned to the key column:\n" + p.take(2000))
  }

  test("rrf fusion: both lists are top-k-bounded BELOW the fusion join") {
    val p = plan("q_rrf_hybrid")
    // the fusion join itself may shuffle (full-outer can't broadcast) —
    // that's 20-row traffic and irrelevant at any scale. What must hold
    // is that the BOUNDING happens upstream of the join: the lexical side
    // collapses to TakeOrdered(limit=20) before ranking, and the fused
    // output is itself TakeOrdered(limit=10) — corpus-sized data never
    // reaches the fusion
    assert(p.contains("FullOuter"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"lexical list not bounded before fusion:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      s"fused output not TakeOrdered-bounded:\n${p.take(3000)}")
  }

  test("html extraction is a zero-shuffle per-row projection") {
    val p = plan("q_html_extract")
    assert(!p.contains("Exchange"),
      s"the raw-web map stage must not shuffle:\n${p.take(2000)}")
  }

  test("rolling features ride exactly one user exchange") {
    val p = plan("q_rolling_features")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("temporal joins (PIT, label window) never degrade to a nested-loop product") {
    for (q <- Seq("q_pit_join", "q_label_window")) {
      val p = plan(q)
      // the range predicates must ride the user equi-key join as
      // post-join conditions — a missing equi-key would surface as a
      // nested-loop/cartesian whose cost is users² at scale
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(2000)}")
    }
  }

  test("equi-depth histogram has no single-partition stage (distributed rank)") {
    val p = plan("q_equidepth_hist")
    assert(!p.contains("SinglePartition"),
      s"the rank must stay partitioned:\n${p.take(3000)}")
  }

  test("expectations: one-pass constraints share a single fact aggregation") {
    val p = plan("q_expectations")
    // orders is scanned exactly 3x: the fused one-pass aggregate and the
    // FK check's orphan + total legs — a 4th scan would mean a
    // constraint stopped folding into the shared pass
    val scans = "orders\\.parquet".r.findAllIn(p).size
    assert(scans == 3, s"expected 3 orders scans, got $scans:\n${p.take(3000)}")
  }

  test("trend slope: one fact exchange feeds one aggregation, no window, no join") {
    val p = plan("q_trend_slope")
    // the whole OLS reduces to grouped moment sums: one hash exchange on
    // the group key between partial and final aggregation
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Window"), "OLS must not window the fact table")
    assert(!p.contains("Join"), "OLS must not join")
    // only the three needed columns reach the scan
    assert(p.contains("ReadSchema: struct<o_totalprice:double," +
      "o_orderdate:timestamp_ntz,o_orderpriority:string>"),
      s"column pruning lost:\n${p.take(3000)}")
  }

  test("event transitions and paths ride the shared user-hash exchange") {
    for (q <- Seq("q_event_transitions", "q_event_paths")) {
      val p = plan(q)
      // one user_id exchange for the lag window; the path/pair counting
      // aggregates the tiny vocabulary afterwards (its exchange moves
      // <= vocab rows per partition thanks to partial aggregation)
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
        s"$q: expected exactly one user exchange:\n${p.take(3000)}")
    }
    // the top-k path list is TakeOrdered, never a global sort
    assert(plan("q_event_paths").contains("TakeOrderedAndProject(limit=20"),
      "path top-k must be TakeOrdered")
  }

  test("sorted-neighborhood has no single-partition exchange or global window") {
    val p = plan("q_sorted_neighborhood")
    // the r5 implementation ran Window.orderBy(skey) with no partitionBy —
    // an Exchange SinglePartition funneling the dictionary through one
    // reducer; the rank+band-join rewrite must keep every stage parallel
    assert(!p.contains("SinglePartition"),
      s"single-reducer stage crept back in:\n${p.take(3000)}")
    // the only window is the per-range-bucket row_number
    assert(p.contains("Window"), "per-partition rank window missing")
    assert(p.contains("hashpartitioning(__grk_pid"),
      s"rank window is not partitioned by the range bucket:\n${p.take(3000)}")
  }

  test("incremental agg merge does partial aggregation and no raw-row rejoin") {
    val p = plan("q_incremental_agg")
    // both sub-states partial-aggregate before their exchange, and the
    // merge itself is one aggregation over state rows — a plan with a
    // join would mean the merge went back to raw rows
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Join"), s"state merge must not rejoin raw rows:\n${p.take(3000)}")
  }

  test("snapshot diff shuffles content hashes, never document text") {
    val p = plan("q_snapshot_diff")
    // each side must reduce to (doc_id, md5) BELOW its exchange: the
    // projected schema at the exchange carries the hash, not the text
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p.take(2000))
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(exchangeIdx >= 0, s"id-keyed exchange missing:\n${p.take(3000)}")
    assert(p.contains("md5"), "hash projection lost")
  }

  test("curriculum sharding ranks globally with no single-partition stage") {
    val p = plan("q_curriculum")
    assert(!p.contains("SinglePartition"),
      s"global rank degenerated to one reducer:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(__grk_pid"),
      "rank window is not partitioned by the range bucket")
  }

  test("fk sketch: bottom-k sampling is TakeOrdered, never a global sort") {
    val p = plan("q_fk_sketch")
    // orderBy(h).limit(k) must plan as per-partition top-k + bounded merge
    // (TakeOrderedAndProject) — a full Sort + GlobalLimit would move every
    // distinct key through one ordering stage
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k lost its pre-shuffle pruning:\n${p.take(3000)}")
  }

  test("PQ encoding is a zero-shuffle unrolled-literal projection") {
    val p = plan("q_pq_codes")
    // codebooks are collected and unrolled as literals; the encode itself
    // must stay one narrow scan — any Exchange means the argmin degenerated
    // to a join or window
    assert(!p.contains("Exchange"),
      s"PQ encode grew a shuffle:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"PQ encode joined instead of unrolling:\n${p.take(3000)}")
  }

  test("merge upsert shuffles content hashes, never document text") {
    val p = plan("q_merge_upsert")
    // same discipline as q_snapshot_diff: both sides reduce to
    // (doc_id, md5, op) BELOW the full-outer exchange
    assert(p.contains("FullOuter"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning(doc_id"),
      s"id-keyed exchange missing:\n${p.take(3000)}")
    assert(p.contains("md5"), "hash projection lost")
  }

  test("compaction plan rides the distributed prefix sum, never a global window") {
    val p = plan("q_compaction_plan")
    // `sum(v).over(Window.orderBy(date))` would be an Exchange
    // SinglePartition holding every file row; the GlobalRank prefix sum
    // must keep the per-range-bucket window + broadcast offsets shape
    assert(!p.contains("SinglePartition"),
      s"prefix sum degenerated to one reducer:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(__grk_pid"),
      "prefix-sum window is not partitioned by the range bucket")
    assert(p.contains("BroadcastHashJoin"),
      "partition offsets must join by broadcast")
  }

  test("SCC stage plans are node-keyed joins and aggregates only") {
    // the operator is iterative/driver-coordinated, so pin the shape of
    // its one potentially-degenerate stage: the edge projection feeding it
    // (lag window partitioned by order, never unpartitioned)
    val q = SparkEntry.queries("q_scc")
    val p = q(spark, dir).queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"),
      s"SCC output stage grew a product:\n${p.take(3000)}")
  }

  test("fuzzy linkage is dictionary-first: Levenshtein runs above the distinct-name aggregate") {
    for (q <- Seq("q_fuzzy_match", "q_jaro_rank")) {
      val p = plan(q)
      // the name dictionary is built by aggregation (HashAggregate on
      // p_name) and the block join is an equi-join — a plan where the
      // similarity runs against raw part ROWS would lose the aggregate
      // below the join, and a non-equi block would cartesian
      assert(p.contains("HashAggregate"), s"$q: dictionary aggregate lost")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: block join degenerated to a product:\n${p.take(3000)}")
    }
  }

  test("RI audit: every relation audits key-only scans") {
    val p = plan("q_ri_audit")
    // anti-joins on the key columns only — each child scan must read just
    // its FK column (n_child counts ride the same scan)
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"), p.take(3000))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      "lineitem audit must read only the FK column")
  }

  test("prefix-filter join stays parallel: staged ranks, equi-joins only") {
    val p = plan("q_prefix_join")
    // the rank artifact comes pre-staged (stagedPrefixDocs): every
    // consumer — both candidate sides and both verify joins — must be a
    // plain columnar scan of the staged parquet, with the candidate
    // sides PRUNED to (id, sz, keys): reading hs there would ship the
    // hashed shingle arrays through the explode. The dictionary-rank
    // stage's no-single-reducer property is GlobalRank's, pinned via
    // q_curriculum / q_sorted_neighborhood and exercised at staging
    // build time. Here: no single-partition DATA stage anywhere (Spark's
    // injected runtime bloom-filter subqueries do aggregate their sketch
    // on one partition — that is a fixed-size sketch merge, not a data
    // funnel, so it is the one allowed form), and candidate generation +
    // verify are equi-joins — a product would be the all-pairs plan this
    // operator exists to avoid
    assert(p.contains("graft_prefixrank_"),
      s"q_prefix_join is not reading the staged rank artifact:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<id:bigint,sz:bigint,keys:array<bigint>>"),
      s"candidate sides lost column pruning on the staged scan:\n${p.take(3000)}")
    assert(!p.contains("Scan ExistingRDD"),
      "staged q_prefix_join must not re-materialize the rank artifact per call")
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val ctx = lines.slice(math.max(0, i - 2), i).mkString
        assert(ctx.contains("bloom_filter_agg"),
          s"non-bloom single-partition stage at plan line $i:\n${p.take(3000)}")
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate join degenerated to a product:\n${p.take(3000)}")
  }

  test("substring-dup shuffles 16-byte gram hashes, never gram texts") {
    val p = plan("q_substring_dup")
    // the gram window is keyed by the md5 projection...
    assert(p.contains("Exchange hashpartitioning(__gh"),
      s"gram-hash exchange missing:\n${p.take(3000)}")
    // ...and there are exactly two exchanges: gram window + per-doc agg
    // (partial-aggregated). A third would mean the 40-char texts moved.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected 2 exchanges (gram + doc):\n${p.take(3000)}")
  }

  test("heavy hitters partial-aggregates MG summaries map-side") {
    val p = plan("q_heavy_hitters")
    // partial + final ObjectHashAggregate: each map task ships one
    // <= capacity-entry summary, so the single final partition receives
    // tasks x capacity rows — bounded by configuration, not data
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2,
      s"partial/final MG aggregation pair missing:\n${p.take(3000)}")
  }

  test("k-anonymity broadcasts every crowd count and dimension onto one fact scan") {
    val p = plan("q_k_anonymity")
    // nation, region, and both level-count tables are domain-bounded —
    // all four join back by broadcast; the fact side must never sort-merge
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"fact-side shuffle crept into the ladder:\n${p.take(3000)}")
  }

  test("z-order audit reads only the two dimension columns and aggregates once") {
    val p = plan("q_zorder")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      s"scan reads more than the two curve dimensions:\n${p.take(3000)}")
    // one hash exchange total: the file_id aggregation (partial-aggregated;
    // the scalar max row rides a broadcast, not an exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly 1 hash exchange:\n${p.take(3000)}")
  }

  test("balanced shards rank has no single-partition stage") {
    val p = plan("q_balanced_shards")
    assert(!p.contains("SinglePartition"),
      s"global size rank degenerated to one reducer:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(__grk_pid"),
      "rank window is not partitioned by the range bucket")
  }

  test("link prediction wedges through equi-joins, never a cartesian") {
    val p = plan("q_link_predict")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge join degenerated:\n${p.take(3000)}")
    // the non-adjacency contract is a hash anti-join, not a filter scan
    assert(p.contains("LeftAnti"), s"anti-join lost:\n${p.take(3000)}")
  }

  test("incremental median works on state rows: partial agg + window on the state exchange") {
    val p = plan("q_incremental_median")
    // the value-count states partial-aggregate before their exchange
    assert(p.contains("HashAggregate") && p.contains("partial_count"),
      s"state build lost map-side combine:\n${p.take(3000)}")
    assert(!p.contains("SinglePartition"),
      s"quantile fold degenerated to one reducer:\n${p.take(3000)}")
  }

  test("t-closeness grid joins stay broadcast (domain-bounded frames only)") {
    val p = plan("q_t_closeness")
    // nation dim, the band frame, the totals row and the zero-fill join
    // are all bounded by domain sizes; the only exchanges are the two
    // count aggregations and the per-group window — the fact table itself
    // must never sort-merge against anything
    assert(!p.contains("SortMergeJoin"),
      s"a domain-bounded frame fell off the broadcast path:\n${p.take(3000)}")
  }

  test("negative sampling: bucket equi-join, anti-join, pre-shuffle top-k prune") {
    val p = plan("q_negative_sample")
    // candidate generation must be a bucket EQUI-join (broadcast anchors),
    // never a gated cross product over the full anchors × items grid
    assert(p.contains("BroadcastHashJoin"),
      s"anchor bucket join must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to a grid scan:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), "purchased-set exclusion must be an anti-join")
    assert(p.contains("WindowGroupLimit"),
      s"per-anchor top-k must prune before the rank shuffle:\n${p.take(3000)}")
  }

  test("ewma and anomaly ride one key exchange each (window + agg share it)") {
    for ((q, key) <- Seq("q_ewma" -> "user_id", "q_anomaly" -> "event_type")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q grew a single-reducer stage")
      val n = s"Exchange hashpartitioning\\($key".r.findAllIn(p).size
      assert(n >= 1 && ("Exchange hashpartitioning".r.findAllIn(p).size <= 2),
        s"$q should shuffle on $key (plus at most the pre-agg), got:\n${p.take(3000)}")
    }
  }

  test("compression ratio is a zero-shuffle per-row projection") {
    val p = plan("q_compression_ratio")
    assert(!p.contains("Exchange"),
      s"a per-row quality scan must not shuffle:\n${p.take(3000)}")
  }

  test("random walks: ranked adjacency is materialized once, steps are equi-joins") {
    val p = plan("q_random_walks")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"walk step degenerated:\n${p.take(3000)}")
    // the localCheckpointed adjacency shows up as reused RDD scans — the
    // per-step joins must NOT re-derive the window (one Window total
    // would mean re-derivation; zero means the checkpoint is upstream)
    assert(!p.contains("Window"),
      s"a step join re-derived the adjacency ranking:\n${p.take(3000)}")
  }

  test("correlation: hour-pair join is an equi-join over the hourly aggregate") {
    val p = plan("q_correlation")
    assert(!p.contains("CartesianProduct"),
      s"series join degenerated:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"moment sums lost map-side combine:\n${p.take(3000)}")
  }

  test("zone-prune reads only the two curve dimensions on both arms") {
    val p = plan("q_zone_prune")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      s"scan reads more than the curve dimensions:\n${p.take(3000)}")
  }

  test("blocklist is a zero-shuffle scan until the final aggregation-free filter") {
    val p = plan("q_blocklist")
    assert(!p.contains("Exchange"),
      s"a per-row AC scan must not shuffle:\n${p.take(3000)}")
  }

  test("attribution: equi-join on user, top-1 credit pruned pre-shuffle") {
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"),
      s"as-of credit degenerated:\n${p.take(3000)}")
    assert(p.contains("WindowGroupLimit"),
      s"rn=1 must prune per purchase before the rank shuffle:\n${p.take(3000)}")
  }

  test("imputation broadcasts the median table onto one fact scan") {
    val p = plan("q_impute_median")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"the domain-bounded median frame fell off the broadcast path:\n${p.take(3000)}")
  }

  test("frame sampling is one shuffle-free pass reading only the id column") {
    val p = plan("q_frame_sample")
    assert(!p.contains("Exchange"),
      s"per-payload frame sampling must not shuffle:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"video synthesis should scan only doc_id:\n${p.take(3000)}")
    assert(p.contains("MapPartitions"), "the batch-shaped decode loop is gone")
  }

  test("dp release is one map-combined aggregation, noise as a projection") {
    val p = plan("q_dp_release")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("partial_count"), "count lost map-side combine")
  }

  test("golden record is one cluster aggregation with map-side partials, no window") {
    val p = plan("q_golden_record")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("partial_max") && p.contains("partial_min"),
      s"struct-argmax lost map-side combine:\n${p.take(3000)}")
    assert(!p.contains("Window"), "survivorship must not need a window")
  }

  test("phrase search tokenizes once and joins term-filtered postings only") {
    val p = plan("q_phrase_search")
    // the corpus explode happens once: posting branches read the
    // checkpointed postings RDD, not a re-tokenized scan per term
    assert(!p.contains("Generate posexplode"),
      s"postings were re-derived instead of reused:\n${p.take(3000)}")
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2,
      s"expected both posting branches on the checkpoint:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"term-filtered postings should broadcast:\n${p.take(3000)}")
  }

  test("association rules: staged baskets, one pair aggregation, pruned support scans") {
    val p = plan("q_assoc_rules")
    // the cap-window pipeline ran at staging time, not in the query
    assert(!p.contains("Window"),
      s"basket cap must come pre-staged, not recomputed:\n${p.take(3000)}")
    // ONE pair self-join (both rule directions explode from its output)
    assert("BroadcastHashJoin \\[g".r.findAllIn(p).size == 1,
      s"the quadratic pair join must run once:\n${p.take(3000)}")
    // support/N consumers read only the columns they need from the stage
    assert(p.contains("ReadSchema: struct<i:bigint>") &&
      p.contains("ReadSchema: struct<g:bigint>"),
      s"staged-basket scans lost column pruning:\n${p.take(3000)}")
    // the staged basket table is BUCKETED AND SORTED on g: a basket-key
    // rollup reads buckets in place, and — with broadcast off, the
    // at-scale regime where both self-join sides are large — the
    // quadratic pair self-join itself runs exchange-free on the bucket
    // key (the same contract q_bucket_join pins for the fact-dim join)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val bkt = spark.table(Staging.stagedTableName(s"graft_baskets_$digest"))
    val gp = bkt.groupBy(org.apache.spark.sql.functions.col("g")).count()
      .queryExecution.executedPlan.toString()
    assert(gp.contains("Bucketed: true") && !gp.contains("Exchange"),
      s"staged basket scan is not bucket-aware:\n${gp.take(2000)}")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val jp = bkt.as("x").join(bkt.as("y"),
          org.apache.spark.sql.functions.col("x.g") ===
            org.apache.spark.sql.functions.col("y.g") &&
          org.apache.spark.sql.functions.col("x.i") <
            org.apache.spark.sql.functions.col("y.i"))
        .queryExecution.executedPlan.toString()
      assert(!jp.contains("Exchange"),
        s"bucketed basket self-join re-exchanges:\n${jp.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("web extraction product is staged: consumers scan parquet, never re-extract") {
    // all consumers, ONE staged single-pass build (stagedWebProducts):
    // each plan must read the combined staged parquet — a regexp in the
    // plan means the extraction chain ran per-query again
    for (q <- Seq("q_html_extract", "q_web_corpus_funnel")) {
      val p = plan(q)
      assert(p.contains("graft_webprod_"),
        s"$q is not reading the staged extraction product:\n${p.take(3000)}")
      assert(!p.contains("regexp_replace"),
        s"$q re-runs the extraction regex chain per call:\n${p.take(3000)}")
    }
    // the link-axis consumers read their struct-array axis of the SAME
    // combined product (one explode each) — none may re-run a regex or
    // re-synthesize pages
    for (q <- Seq("q_url_normalize", "q_anchor_stats")) {
      val p = plan(q)
      assert(p.contains("graft_webprod_"),
        s"$q is not reading its staged link frame:\n${p.take(3000)}")
      assert(!p.contains("regexp_extract"),
        s"$q re-runs link extraction per call:\n${p.take(3000)}")
    }
    val dp = plan("q_domain_profile")
    assert(dp.contains("graft_webprod_"),
      s"domain profile must join the two staged product axes:\n${dp.take(3000)}")
    assert(dp.contains("ReadSchema: struct<doc_id:bigint,text_len:bigint>"),
      s"domain profile lost pruning on the staged scan:\n${dp.take(3000)}")
    // the single-pass claim itself: the combined BUILD's plan scans the
    // raw page frame exactly once (previously extract, links and anchors
    // each re-synthesized and re-scanned the HTML in separate builds)
    val pages = spark.read.parquet(s"$dir/documents.parquet").select(
      org.apache.spark.sql.functions.col("doc_id"),
      graft.ext.WebText.synthesizeHtml(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.lit(""))).as("html"))
    val bp = graft.ext.WebText.extractAll(pages, "doc_id", "html",
      "corp.example.com").queryExecution.executedPlan.toString()
    assert("documents\\.parquet".r.findAllIn(bp).size == 1,
      s"combined web build must scan the page frame exactly once:\n${bp.take(3000)}")
    // the funnel still materializes ONE frame per call — the near-dup
    // prep over its query-derived survivor sub-plan (gate + exact-dedup
    // output; hashOrderJaccardPairs checkpoints its prep frame, measured
    // ~2.5 -> ~1.8 s). The funnel's FINAL plan can't show it (cluster
    // resolution evaluates the pair pipeline eagerly), so pin the
    // operator contract: all four impl consumers read the one
    // checkpoint and the input sub-plan appears nowhere
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").groupBy("text")
      .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
    val mp = graft.ext.Dedup.hashOrderJaccardPairs(docs, "doc_id", "text",
        ngram = 3, threshold = 0.8)
      .queryExecution.executedPlan.toString()
    assert(mp.contains("Scan ExistingRDD"),
      s"hashOrderJaccardPairs did not checkpoint the prep frame:\n${mp.take(2000)}")
    assert(!mp.contains("HashAggregate(keys=[text"),
      s"a consumer re-derives the aggregated input past the checkpoint:\n${mp.take(2000)}")
  }

  test("er candidate generation reads the staged neighborhood ranks, no per-call GlobalRank") {
    // q_er_pipeline's FINAL plan can't show the rank scans — the cluster
    // resolution tier evaluates the candidate pipeline eagerly and the
    // closure re-enters as a broadcast local relation — so pin the
    // candidate sub-plan the query actually executes: each pass must be
    // a parquet scan of its staged rank frame, with no Scan ExistingRDD
    // (GlobalRank's localCheckpoint signature = a per-call rank pass)
    val (rankedName, rankedPkey) = StagedArtifacts.stagedErRanks(spark, dir)
    for ((r, nm) <- Seq((rankedName, "errankname"), (rankedPkey, "errankpkey"))) {
      val p = graft.ext.Dedup
        .sortedNeighborhoodPairsFromRanked(r, window = 3, payload = Seq("name"))
        .queryExecution.executedPlan.toString()
      assert(p.contains(s"graft_${nm}_"),
        s"$nm pass is not reading its staged rank frame:\n${p.take(3000)}")
      assert(!p.contains("Scan ExistingRDD"),
        s"$nm pass still runs GlobalRank per call:\n${p.take(3000)}")
    }
  }

  test("partition prune: lang is a PARTITION filter, absent from the data path") {
    val p = plan("q_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang must prune at the directory level:\n${p.take(3000)}")
    assert(p.contains("(lang") && p.contains("= en)"), p.take(3000))
    // the scan reads only the aggregation's columns; lang never appears
    // as a data filter because it is not IN the files
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"column pruning lost on the partitioned layout:\n${p.take(3000)}")
  }

  test("profile drift: one scan per snapshot, map-side partials under the distinct") {
    val p = plan("q_profile_drift")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"each snapshot must be profiled in a single unpivot scan:\n${p.take(3000)}")
    assert(p.contains("Expand"), "unpivot shape lost")
    assert(p.contains("partial_count"), "profile aggs lost map-side combine")
  }

  test("purged folds: bounds broadcast onto one event scan, single map-combined rollup") {
    val p = plan("q_purged_folds")
    // the k-row bounds frame reaches the event scan as a broadcast
    // nested-loop (cross) join — never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "bounds must broadcast")
    // exactly one hash exchange: the k-group rollup (its partials are
    // map-side combined); more would mean the tag-and-count stage shuffled
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected only the fold rollup exchange:\n${p.take(3000)}")
    assert(p.contains("partial_sum"), "fold counts lost map-side combine")
  }

  test("erasure audit: every fact scan reads only its key column") {
    val p = plan("q_erasure_audit")
    // keys-only column pruning on each audited fact scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"lineitem must be scanned keys-only:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<user_id:bigint>"),
      s"events must be scanned keys-only:\n${p.take(3000)}")
    // the audit joins are all broadcast at this scale — none may
    // sort-merge (at 100 TB a big erase set falls back to hash shuffle,
    // but never to a per-row subquery)
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("int8 top-k: corpus never shuffles — scale stat and queries broadcast") {
    val p = plan("q_int8_topk")
    // the corpus side is joined only via broadcasts (max|x| single row +
    // query codes); the sole exchange partitions the SCORED frame for the
    // per-query rank window, which WindowGroupLimit bounds to k
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune pre-shuffle:\n${p.take(3000)}")
    // 2 code-building scans (corpus + queries); the scale stat is a
    // localCheckpointed single row, paid once, absent from this plan
    val corpusScans = "FileScan parquet".r.findAllIn(p).size
    assert(corpusScans <= 2, s"embeddings re-scanned $corpusScans times")
  }

  test("encoding audit is one zero-shuffle codegen'd scan") {
    val p = plan("q_encoding_audit")
    assert(!p.contains("Exchange"),
      s"per-row counters must not shuffle:\n${p.take(3000)}")
    assert("FileScan parquet".r.findAllIn(p).size == 1, "documents scanned once")
    assert(p.contains("*(1)"), "counters fell out of whole-stage codegen")
  }

  test("bigram LM: every frame is bounded by distinct bigram tuples, rollup map-combined") {
    val p = plan("q_bigram_lm")
    // tf aggregation must map-side combine before its exchange (the
    // token-position explosion never crosses the wire raw)
    assert(p.contains("partial_count"), p.take(3000))
    assert(p.contains("partial_sum"), "per-doc rollup lost map-side combine")
    // totals broadcast; the unigram join may broadcast or hash — but the
    // corpus never cartesians
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("table fingerprint: pure map-combined aggs, no join, no shuffle beyond partial merges") {
    val p = plan("q_table_fingerprint")
    assert(!p.contains("Join"), s"fingerprinting must not join:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_bit_xor"),
      "xor fold lost map-side combine")
    // five tables, five scans — none repeated
    assert("FileScan parquet".r.findAllIn(p).size == 5, p.take(3000))
  }

  test("column diff: one equi-join and ONE aggregation for all columns") {
    val p = plan("q_diff_columns")
    // a per-column job would show several aggregate pairs; the unpivot
    // must ride a single (partial, final) aggregation over the join
    assert("partial_count".r.findAllIn(p).size == 1,
      s"per-column counters must share one aggregation pass:\n${p.take(3000)}")
    assert(p.contains("Generate") || p.contains("Expand") || p.contains("stack"),
      "constant unpivot shape lost")
  }

  test("lateness profile: one user exchange shared by window and rollup") {
    val p = plan("q_lateness_profile")
    // the window's user-hash exchange is the ONLY data-sized shuffle; the
    // bounded 25-bucket rollup map-combines into a tiny second exchange
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(p.contains("partial_count"), "bucket rollup lost map-side combine")
  }

  test("bootstrap CI: the replica explode never shuffles raw rows") {
    val p = plan("q_bootstrap_ci")
    // rows × 100 replicas must aggregate map-side into <= 100 partials
    // per task BEFORE any exchange — the generate feeds a partial agg
    assert(p.contains("Generate explode"), p.take(3000))
    assert(p.contains("partial_sum"), "replica means lost map-side combine")
    assert(!p.contains("SortMergeJoin"), "full-mean frame must broadcast")
  }

  test("KS test: D aggregation is map-combined over the checkpointed cum frame") {
    // the range-partitioned prefix sums live UPSTREAM of the eager
    // localCheckpoint (GlobalRankSpec pins that shape); the visible plan
    // is the downstream consumer: the totals are a bounded 1-row max
    // (its SinglePartition final step is over <= numPartitions partials,
    // configuration-bounded) broadcast to the cum scan, and the D max is
    // map-combined — never a data-sized shuffle of raw rows
    val p = plan("q_ks_test")
    assert(p.contains("partial_max"), s"D max lost map-side combine:\n${p.take(3000)}")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row totals must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"KS grew a data-sized join:\n${p.take(3000)}")
  }

  test("stratified sample: the gate is a narrow pass over two broadcast scalars") {
    val p = plan("q_stratified_sample")
    // stratum counts and the 1-row minimum broadcast; the corpus-side
    // gate never sort-merge-joins
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"per-stratum rates must broadcast, not shuffle the corpus:\n${p.take(3000)}")
  }

  test("benford / cramers_v / mutual_info: grouped counts with map-side combine, tiny broadcasts") {
    for (q <- Seq("q_benford", "q_cramers_v", "q_mutual_info")) {
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side combine:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"),
        s"$q's marginals must broadcast, not shuffle:\n${p.take(3000)}")
    }
  }

  test("hits: per-round rank joins are equi-joins, never cartesian") {
    // the 1-row max rides a broadcast cross join (BNLJ over one row is
    // the intended shape); what must never appear is an unbroadcast
    // cartesian over data-sized frames
    val p = plan("q_hits")
    assert(!p.contains("CartesianProduct"),
      s"a HITS round degenerated to a cartesian:\n${p.take(3000)}")
  }

  test("ivfpq: the probed scan is a broadcast join over the code-width index") {
    val p = plan("q_ivfpq_topk")
    // probes (queries x nprobe, with LUTs) broadcast to the corpus index;
    // the corpus itself never shuffles before the per-query top-k window
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ fell back to all-pairs:\n${p.take(3000)}")
  }

  test("hits half-round: ZERO hash exchange, node frame broadcast, fold in place") {
    // replays ONE real auth half-round of GraphOps.hitsFixedPoint over
    // the staged symmetric table (the real rounds materialize inside
    // localCheckpoint jobs, invisible to a plan dump of the query
    // result). r15 contract, from the executed-plan probe that rebuilt
    // the round shape: (1) the node-sized hub frame is the BROADCAST
    // side — without the hint the planner broadcast the pinned EDGE
    // frame and streamed the rank frame, backwards at any scale; (2)
    // because the join side is broadcast, the dst-partitioned edge view
    // serves the FOLD key, so the dst sum folds in place — zero hash
    // exchange of any size in the half-round; (3) the raw frame is
    // pinned before its max/scale references (asserted structurally in
    // hitsFixedPoint itself — here the half-round plan must be
    // exchange-free and node-side-built).
    import org.apache.spark.sql.functions.{broadcast, col, lit, sum}
    val sym = StagedArtifacts.stagedBipartiteEdges(spark, dir)
    val e = graft.graph.GraphOps.pinForProbe(
      sym.where(col("src") % 2 === 0).select(col("src"), col("dst")))
    val eDst = graft.graph.GraphOps.pinForProbe(
      sym.where(col("src") % 2 === 1)
        .select(col("dst").as("src"), col("src").as("dst")))
    val hub = e.select(col("src").as("node")).distinct()
      .withColumn("hub_fp", lit(1000000L))
    val authRaw = eDst.join(broadcast(hub), col("src") === col("node"))
      .groupBy(col("dst")).agg(sum(col("hub_fp")).as("raw"))
    authRaw.queryExecution.toRdd.count()
    val p = authRaw.queryExecution.executedPlan.toString()
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(!"Exchange hashpartitioning".r.findAllIn(p).hasNext,
      s"hash exchange inside a HITS half-round — the fold lost the pinned layout:\n${p.take(3000)}")
    // the broadcast must build from the node frame (a HashAggregate-
    // derived distinct), never from the pinned edge scan: an edge-side
    // build is the wrong side at any scale
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE query stages are tree LEAVES — expand through them so the
    // broadcast nodes inside materialized stages are visible
    def expand(pl: SparkPlan): Seq[SparkPlan] = {
      val inner = pl match {
        case q: QueryStageExec        => expand(q.plan)
        case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
        case _                        => Seq.empty
      }
      pl +: (pl.children.flatMap(expand) ++ inner)
    }
    val all = expand(authRaw.queryExecution.executedPlan)
    val bcasts = all.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty, s"no broadcast in the half-round:\n${p.take(3000)}")
    bcasts.foreach { b =>
      val sub = expand(b.child)
      val hasAgg = sub.exists(_.isInstanceOf[HashAggregateExec])
      val isBareEdgeScan = !hasAgg && sub.exists(_.isInstanceOf[RDDScanExec])
      assert(!isBareEdgeScan,
        s"broadcast builds from the pinned EDGE frame (wrong side):\n${b.toString.take(2000)}")
    }
  }

  test("ann tuning: all four sweep points read the ONE staged IVF index") {
    val p = plan("q_ann_tuning")
    // the index (centroids + corpus assignment) is nprobe-independent and
    // staged once (stagedIvf16); each sweep point must be a plain scan of
    // the staged assignment — four scans of the same parquet, zero
    // re-assignment projections (the unrolled-literal argmin would show
    // as a repeated euclidean expression forest over the raw embeddings)
    assert("graft_ivfassign16".r.findAllIn(p).size >= 4,
      s"sweep points are not reading the staged assignment:\n${p.take(3000)}")
  }

  test("ks/wasserstein: both read the ONE staged cumulative frame, not lineitem") {
    for (q <- Seq("q_ks_test", "q_wasserstein")) {
      val p = plan(q)
      assert(p.contains("graft_abrcum"),
        s"$q is not reading the staged cum frame:\n${p.take(3000)}")
      assert(!p.contains("lineitem.parquet"),
        s"$q re-derives the cum frame from lineitem per query:\n${p.take(3000)}")
    }
  }
}
