package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.graphx.{Edge, Graph}

import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Graph analytics over the staged co-purchase projection and the
  * order<->part bipartite graph: ranking, components, cores, walks and
  * community metrics, plus the basket mining that shares their staging. */
object GraphQueries extends QueryFamily("graph") {

  // GraphX materialization: in-degree of part nodes in the order->part
  // edge set. (At 100 TB the same answer is a groupBy — GraphX is for the
  // iterative algorithms; this entry proves the materialization path.)
  query("q_graph_degree")((s, dir) => {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    val edgeRdd = li.select(col("l_orderkey"), col("l_partkey")).rdd
      .map(r => Edge(r.getLong(0) * 2, r.getLong(1) * 2 + 1, 1))
    val g = Graph.fromEdges(edgeRdd, 0)
    g.inDegrees
      .filter { case (vid, _) => vid % 2 == 1 }
      .map { case (vid, deg) => ((vid - 1) / 2, deg.toLong) }
      .toDF("node_id", "degree")
  }) {
    "SELECT l_partkey AS node_id, count(*) AS degree FROM lineitem GROUP BY l_partkey"
  }

  // fixed-point integer PageRank (5 power iterations) over the symmetric
  // order<->part bipartite graph — the deterministic DataFrame twin of
  // the GraphX float path: micro-unit integer ranks, DIV-quantized edge
  // contributions, long sums — bit-identical in any engine, so the
  // iterative algorithm itself is value-checked (the oracle replays all
  // five iterations as staged CTEs)
  query("q_pagerank")((s, dir) => {
    // assumeNoDangling: the staged table IS the symmetric closure
    // (stagedBipartiteEdges unions both orientations), so every dst
    // appears as a src by construction — the per-call anti-join
    // re-proof is an edge-sized job the staging already paid for
    // (GraphOpsSpec pins that the unflagged check still rejects
    // dangling graphs)
    // broadcast-iteration form: the SAME symmetric src-bucketed table,
    // columns swapped, is the identical edge set arriving partitioned
    // on dst (the q_hits two-layout move) — each round then broadcasts
    // only the node-sized (rank div outdeg) frame; the join is map-only
    // and the dst sum folds in place on the layout-keeping pin: ZERO
    // hash exchange per round (PlanSpec pins it — bit-identical integer
    // ranks; see pageRankFixedPoint's regime note)
    val sym = stagedBipartiteEdges(s, dir)
    graft.graph.GraphOps.pageRankFixedPoint(
      sym, "src", "dst", iterations = 5,
      assumeDistinct = true, assumeNoDangling = true,
      edgesByDst = Some(sym.select(col("dst").as("src"), col("src").as("dst"))))
  }) {
    // all five integer power iterations replayed as staged CTEs (recursive
    // CTEs cannot aggregate in the recursive term); UNION dedups, and
    // reverse edges can never collide with forward ones (parity-disjoint
    // namespaces), so it equals the Spark side's union+distinct
    val base =
      """WITH e0 AS (
        |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem GROUP BY 1, 2),
        | e2 AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        | deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e2 GROUP BY 1),
        | pr0 AS (SELECT src AS node, cast(1000000 AS bigint) AS rank_fp FROM deg)""".stripMargin
    val steps = (1 to 5).map { i =>
      s""",
         | pr$i AS (
         |  SELECT e2.dst AS node,
         |    cast(150000 + (sum(p.rank_fp // d.outdeg) * 85) // 100 AS bigint) AS rank_fp
         |  FROM pr${i - 1} p JOIN e2 ON p.node = e2.src JOIN deg d ON p.node = d.src
         |  GROUP BY 1)""".stripMargin
    }.mkString
    base + steps + "\nSELECT node, rank_fp FROM pr5"
  }

  // personalized PageRank on the same bipartite graph: teleport mass
  // concentrated on the seed parts (node % 100 = 1 — partkey ≡ 0 mod
  // 50), the query-dependent proximity rank recommendation systems use
  // where q_pagerank's uniform teleport measures global centrality.
  // Same integer fixed-point recurrence; all 5 rounds replayed as
  // staged CTEs in the oracle
  query("q_ppr")((s, dir) => {
    val e2 = stagedBipartiteEdges(s, dir)
    // node % 100 == 1 implies odd, and every odd node in the symmetric
    // frame appears in BOTH columns (the closure holds each edge's
    // reverse) — identical seed set to filtering e0's dst before
    // symmetrization, read off the SRC column because the staged table
    // is bucketed on src: the seed distinct then folds in place instead
    // of re-exchanging the edge table on dst
    val seeds = e2.select(col("src").as("node"))
      .where(col("node") % 100 === 1).distinct()
    // assumeNoDangling: same symmetric-closure certification as
    // q_pagerank — the counts job drops its anti-join leg
    graft.graph.GraphOps.personalizedPageRankFixedPoint(
      e2, "src", "dst", seeds, iterations = 5, assumeDistinct = true,
      assumeNoDangling = true,
      // broadcast-iteration form: swapped symmetric view = same edge
      // set partitioned on dst (see q_pagerank)
      edgesByDst = Some(e2.select(col("dst").as("src"), col("src").as("dst"))))
  }) {
    // the personalized variant: same staged rounds, teleport and initial
    // mass concentrated on the seed set via the same integer divisions;
    // multiply-referenced frames MATERIALIZED (DuckDB re-evaluates
    // inlined CTEs per reference — the q_k_truss lesson)
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem GROUP BY 1, 2),
        | e2 AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        | deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg FROM e2 GROUP BY 1),
        | sd AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e0 WHERE dst % 100 = 1),
        | nn AS (SELECT count(*)::BIGINT AS n FROM deg),
        | ns AS (SELECT count(*)::BIGINT AS ns FROM sd),
        | pr0 AS (
        |  SELECT d.src AS node,
        |    cast(CASE WHEN sd.node IS NOT NULL
        |      THEN (1000000 * nn.n) // ns.ns ELSE 0 END AS bigint) AS rank_fp
        |  FROM deg d LEFT JOIN sd ON d.src = sd.node, nn, ns)""".stripMargin
    val steps = (1 to 5).map { i =>
      s""",
         | pr$i AS (
         |  SELECT t.node,
         |    cast(CASE WHEN sd.node IS NOT NULL
         |      THEN (150000 * nn.n) // ns.ns ELSE 0 END + t.flow AS bigint) AS rank_fp
         |  FROM (
         |    SELECT e2.dst AS node,
         |      (sum(p.rank_fp // d.outdeg) * 85) // 100 AS flow
         |    FROM pr${i - 1} p JOIN e2 ON p.node = e2.src JOIN deg d ON p.node = d.src
         |    GROUP BY 1) t LEFT JOIN sd ON t.node = sd.node, nn, ns)""".stripMargin
    }.mkString
    base + steps + "\nSELECT node, rank_fp FROM pr5"
  }

  // HITS hubs/authorities on the DIRECTED order->part bipartite graph
  // (GraphOps.hitsFixedPoint — Kleinberg's two mutually-recursive
  // scores, which pagerank's single uniform-teleport rank cannot
  // express): 3 integer max-normalized rounds; authorities rank parts
  // by the hub quality of the orders citing them, hubs rank orders by
  // how authoritative their parts are. Rides the staged symmetric edge
  // table (forward direction = even src); every round replayed as
  // staged CTEs in the oracle
  query("q_hits")((s, dir) => {
    val sym = stagedBipartiteEdges(s, dir)
    // the symmetric src-bucketed table serves BOTH join directions:
    // even-src rows are the forward (order→part) edges bucketed by the
    // order node; odd-src rows are the same edges reversed — swapping
    // the columns yields the identical forward edge set arriving
    // hash-partitioned on the PART node (= forward dst), which makes
    // the per-round auth→hub join edge-side exchange-free too
    graft.graph.GraphOps.hitsFixedPoint(
      sym.where(col("src") % 2 === 0),
      "src", "dst", iterations = 3, assumeDistinct = true,
      edgesByDst = Some(sym.where(col("src") % 2 === 1)
        .select(col("dst").as("src"), col("src").as("dst"))))
  }) {
    // all three max-normalized HITS rounds replayed as staged CTEs (the
    // q_pagerank pattern); the per-round max is a scalar subquery over
    // the MATERIALIZED raw frame, mirroring the Spark side's broadcast
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem GROUP BY 1, 2),
        | h0 AS (SELECT DISTINCT src AS node, cast(1000000 AS bigint) AS hub_fp FROM e0)""".stripMargin
    val steps = (1 to 3).map { i =>
      s""",
         | a${i}r AS MATERIALIZED (
         |  SELECT e0.dst AS node, sum(h.hub_fp)::BIGINT AS raw
         |  FROM h${i - 1} h JOIN e0 ON h.node = e0.src GROUP BY 1),
         | a$i AS MATERIALIZED (
         |  SELECT node, cast((raw * 1000000) // (SELECT max(raw) FROM a${i}r) AS bigint) AS auth_fp
         |  FROM a${i}r),
         | h${i}r AS MATERIALIZED (
         |  SELECT e0.src AS node, sum(a.auth_fp)::BIGINT AS raw
         |  FROM a$i a JOIN e0 ON a.node = e0.dst GROUP BY 1),
         | h$i AS MATERIALIZED (
         |  SELECT node, cast((raw * 1000000) // (SELECT max(raw) FROM h${i}r) AS bigint) AS hub_fp
         |  FROM h${i}r)""".stripMargin
    }.mkString
    base + steps +
      "\nSELECT node, 'hub' AS kind, hub_fp AS score_fp FROM h3" +
      "\nUNION ALL SELECT node, 'auth' AS kind, auth_fp AS score_fp FROM a3"
  }

  // per-part triangle counts over the co-purchase graph (parts sharing
  // >= 2 orders; see coPurchaseEdges for the basket-size cap that
  // bounds the projection's quadratic step). Triangle closure is
  // DEGREE-ORIENTED wedge closing — O(m^1.5) wedge volume regardless of
  // skew, equi-joins and integers end-to-end (GraphOps.triangleCounts)
  query("q_triangles")((s, dir) => {
    graft.graph.GraphOps.triangleCounts(stagedCoPurchaseSym(s, dir), "a", "b",
      assumeSymmetric = true)
  }) {
    // same orientation (a < b, dedup), same wedge-close joins, same
    // per-node explode — triangles appear exactly once as a < b < c
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | e AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | tri AS (
      |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      | n AS (
      |  SELECT a AS node_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT node_id, count(*)::BIGINT AS n_triangles FROM n GROUP BY 1""".stripMargin
  }

  // min-label propagation communities over the same co-purchase graph:
  // 5 rounds of `label := min over neighbors∪self` — k-bounded connected
  // components, bit-deterministic (integer min), so the oracle replays
  // the recurrence round by round like q_pagerank's
  query("q_label_prop")((s, dir) => {
    graft.graph.GraphOps.labelPropagateMin(stagedCoPurchaseSym(s, dir), "a", "b",
      iterations = 5, assumeSymmetric = true)
      .select(col("node").as("node_id"), col("label").as("community"))
  }) {
    // the recurrence replayed round by round (q_pagerank's pattern):
    // symmetric closure + self-loops, then 5 rounds of min-over-neighbors
    (s"WITH $labelPropChainSql" +
      "\nSELECT node AS node_id, label AS community FROM l5")
  }

  // EXACT connected components on the co-purchase graph via alternating
  // large-star/small-star contraction (Kiveris et al. 2014): O(log n)
  // rounds on ANY topology, vs the min-label fixpoint twin
  // (connectedComponentsMin, cross-validated in GraphOpsSpec) whose
  // round count is the component diameter. Same deterministic
  // integer-min output; oracle = recursive reachability closure
  query("q_components")((s, dir) => {
    graft.graph.GraphOps.connectedComponentsStar(stagedCoPurchaseSym(s, dir), "a", "b",
      assumeSymmetric = true)
      .select(col("node").as("node_id"), col("label").as("component"))
  }) {
    // exact CC: min reachable id per node (self included via least) over
    // the same thresholded co-purchase edges
    """WITH RECURSIVE li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | ed AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | edges AS MATERIALIZED (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      |SELECT src AS node_id, least(src, min(dst)) AS component
      |FROM reach GROUP BY src""".stripMargin
  }

  // hop-bounded BFS from the smallest co-purchase node: exact shortest
  // hop counts within 4 hops, as a fixed-iteration min-relax recurrence
  // (integers end-to-end, so the oracle replays the frontier expansion
  // with a bounded recursive CTE). The seed is a one-row aggregate over
  // the ONCE-materialized edge frame, never collected to the driver.
  query("q_bfs_dist")((s, dir) => {
    graft.graph.GraphOps.bfsFromMinNode(stagedCoPurchaseSym(s, dir), "a", "b",
      maxHops = 4, assumeSymmetric = true)
      .select(col("node").as("node_id"), col("hops"))
  }) {
    // bounded recursive frontier expansion over the same thresholded
    // co-purchase edges; UNION dedups (node, d) states so the walk set
    // stays <= |V| * (maxHops + 1)
    """WITH RECURSIVE li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | ed AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | edges AS MATERIALIZED (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
      | reach(node, d) AS (
      |  SELECT min(a), 0::BIGINT FROM edges
      |  UNION
      |  SELECT e.b, r.d + 1 FROM reach r JOIN edges e ON e.a = r.node
      |  WHERE r.d < 4)
      |SELECT node AS node_id, min(d) AS hops FROM reach GROUP BY node""".stripMargin
  }

  // 3-truss of the co-purchase graph (edge-level cohesion, one notch
  // stronger than the k-core): peel every triangle-free edge to the
  // fixpoint, reporting survivors with in-truss support. Each round
  // re-derives the degree orientation on the shrinking edge set, so
  // the wedge join keeps its O(m^1.5) skew bound all the way down.
  // (k = 3 is the fixture-honest choice: the 4-truss of this graph is
  // EMPTY — almost no co-purchase edge sits in two triangles — and an
  // empty oracle row set certifies nothing; the K4 cascade at k = 4/5
  // is pinned in GraphOpsSpec instead.)
  query("q_k_truss")((s, dir) => {
    // the oracle unrolls exactly 3 peel rounds — if a fixture ever
    // needs a deeper peel the two engines would silently diverge, so
    // assert the measured depth against the oracle's unroll here
    val (truss, rounds) = graft.graph.GraphOps.kTrussWithRounds(
      stagedCoPurchaseSym(s, dir), "a", "b", k = 3, assumeSymmetric = true)
    require(rounds <= 3, s"q_k_truss peeled $rounds rounds but the " +
      "oracle unrolls only 3 — deepen the oracle CTE before trusting this fixture")
    truss
  }) {
    // the peel unrolled: measured convergence is 1 drop round at this
    // fixture; 3 rounds are unrolled (extra rounds are no-ops on a
    // converged set), then the final support recomputes on the
    // stabilized edges — same left-join/zero-coalesce as the operator
    // every CTE MATERIALIZED: DuckDB inlines multiply-referenced CTEs,
    // and each peel round references the previous edge set three times
    // and its triangle set three more — the naive unroll re-evaluated
    // the projection ~3^rounds times (532 s at sf0.01; 0.5 s hinted)
    def peel(i: Int) =
      s""", tri$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e$i e1
         |  JOIN e$i e2 ON e1.b = e2.a
         |  JOIN e$i e3 ON e3.a = e1.a AND e3.b = e2.b),
         | sup$i AS MATERIALIZED (
         |  SELECT a, b, count(*)::BIGINT AS sup FROM (
         |    SELECT x AS a, y AS b FROM tri$i
         |    UNION ALL SELECT x, z FROM tri$i
         |    UNION ALL SELECT y, z FROM tri$i) GROUP BY 1, 2),
         | e${i + 1} AS MATERIALIZED (SELECT a, b FROM sup$i WHERE sup >= 1)""".stripMargin
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
       | e0 AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |${peel(0)}
       |${peel(1)}
       |${peel(2)}
       |SELECT e.a, e.b, coalesce(f.sup, 0) AS support
       |FROM e3 e LEFT JOIN sup2 f USING (a, b)""".stripMargin
  }

  // sampled harmonic closeness centrality (Eppstein-Wang estimator
  // shape): per-source BFS from an md5-gated ~3% node sample,
  // distances truncated at 4 hops, the harmonic sum computed
  // fraction-free as Σ 12/d integers + ONE final division — no float
  // summation order to disagree on. Sample size and hop cap are the
  // two explicit scale knobs; the frontier is (seed, node)-keyed
  query("q_closeness")((s, dir) => {
    val edges = stagedCoPurchaseSym(s, dir)
    // the symmetric closure's `a` column already covers every endpoint
    // (self-loops included), so the seed domain is ONE exchange-free
    // distinct over the bucket key instead of a two-sided union
    val seeds = edges.select(col("a").as("seed")).distinct()
      .where(graft.functions.HashFunctions
        .md5PrefixLong("cc:", col("seed"), 8) % 29 === 0)
    graft.graph.GraphOps.harmonicCloseness(edges, "a", "b", seeds, maxHops = 4,
      assumeSymmetric = true)
  }) {
    // same capped projection; per-seed recursive closure with the depth
    // guard, the same md5 seed gate, 12//d integer terms, one division
    """WITH RECURSIVE li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | ed AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | edges AS MATERIALIZED (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
      | seeds AS (
      |  SELECT DISTINCT a AS node FROM edges
      |  WHERE ('0x' || substr(md5('cc:' || cast(a AS varchar)), 1, 8))::BIGINT % 29 = 0),
      | reach(seed, node, d) AS (
      |  SELECT node, node, 0::BIGINT FROM seeds
      |  UNION
      |  SELECT r.seed, e.b, r.d + 1 FROM reach r JOIN edges e ON e.a = r.node
      |  WHERE r.d < 4),
      | dist AS (SELECT seed, node, min(d) AS hops FROM reach GROUP BY 1, 2)
      |SELECT node AS node_id, count(*)::BIGINT AS n_reached,
      |  sum(12 // hops)::BIGINT AS harmonic_num,
      |  cast(sum(12 // hops) AS double) / cast(12 AS double) AS harmonic
      |FROM dist WHERE hops > 0 GROUP BY 1""".stripMargin
  }

  // 3-core of the co-purchase graph by distributed batch peeling
  // (membership + in-core degree): a deterministic set fixpoint —
  // integers, no tie-breaks — so the oracle replays the peel as 16
  // unrolled CTE rounds (the fixture's measured peeling depth is 10;
  // past the fixpoint further peels are provable no-ops)
  query("q_k_core")((s, dir) => {
    graft.graph.GraphOps.kCore(stagedCoPurchaseSym(s, dir), "a", "b", k = 3,
      assumeSymmetric = true)
      .select(col("node_id"), col("core_degree"))
  }) {
    // the peel unrolled: deg_i over adj_{i-1}, keep edges whose BOTH ends
    // have degree >= 3 — 16 rounds (fixture depth 10; extra rounds are
    // no-ops at the fixpoint), then the in-core degree count. Every level
    // is AS MATERIALIZED: each references its predecessor three times, so
    // an inlining planner would otherwise expand the chain 3^16-fold
    val peels = (1 to 16).map { i =>
      s""",
         | deg$i AS MATERIALIZED (SELECT s, count(*)::BIGINT AS c FROM adj${i - 1} GROUP BY 1),
         | adj$i AS MATERIALIZED (
         |  SELECT x.s, x.d FROM adj${i - 1} x
         |  JOIN deg$i da ON x.s = da.s
         |  JOIN deg$i db ON x.d = db.s
         |  WHERE da.c >= 3 AND db.c >= 3)""".stripMargin
    }.mkString
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
       | ed AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       | adj0 AS MATERIALIZED (SELECT a AS s, b AS d FROM ed UNION SELECT b AS s, a AS d FROM ed)$peels
       |SELECT s AS node_id, count(*)::BIGINT AS core_degree FROM adj16 GROUP BY 1""".stripMargin
  }

  // link prediction on the co-purchase graph: common-neighbor count
  // (integer-exact) + Adamic-Adar for every NON-adjacent pair — the
  // "customers also bought" candidate generator. Wedges at the middle
  // vertex with a stop-hub degree cap (see GraphOps.linkPrediction for
  // the Σ deg² skew bound), one pair-keyed agg, one anti-join
  query("q_link_predict")((s, dir) => {
    graft.graph.GraphOps.linkPrediction(stagedCoPurchaseSym(s, dir), "a", "b",
      minShared = 2, maxDegree = 1024, assumeSymmetric = true)
      .select(col("u"), col("w"), col("common_neighbors"), col("adamic_adar"))
  }) {
    // same capped edge projection as q_triangles; wedges at the middle
    // vertex, stop-hub cap (a no-op at fixture scale, mirrored for
    // semantic parity), NOT EXISTS for the non-adjacency contract
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | e AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | adj AS MATERIALIZED (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e),
      | deg AS (SELECT v, count(*)::BIGINT AS d FROM adj GROUP BY 1),
      | ctr AS (SELECT adj.v, adj.n, deg.d FROM adj JOIN deg USING (v) WHERE d <= 1024),
      | pairs AS (
      |  SELECT x.n AS u, y.n AS w, count(*)::BIGINT AS common_neighbors,
      |    round(sum(1.0 / ln(x.d)), 6) AS adamic_adar
      |  FROM ctr x JOIN ctr y ON x.v = y.v AND x.n < y.n
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT u, w, common_neighbors, adamic_adar FROM pairs p
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.u AND e.b = p.w)""".stripMargin
  }

  // DeepWalk-style positive-pair walks on the co-purchase graph, fully
  // deterministic (md5 choice — the oracle replays each step); every
  // 20th node seeds a 4-step walk. See GraphOps.randomWalks for the
  // one-ranked-adjacency, one-join-per-step plan shape
  query("q_random_walks")((s, dir) => {
    graft.graph.GraphOps.randomWalksFromNodes(stagedCoPurchaseSym(s, dir),
      "a", "b", col("node") % 20 === 0, steps = 4, assumeSymmetric = true)
      .select(col("walk_id"), col("step").cast("long").as("step"), col("node"))
  }) {
    // each step replayed as one join on (node, md5-choice rank) — the
    // determinism contract in GraphOps.randomWalks, unrolled
    (s"WITH $walksChainSql\n" +
      "SELECT walk_id, step, node FROM walks")
  }

  // visit-count centrality from the sampled walks — stationary-ish
  // visit mass without a fixpoint: one agg over the walk table
  query("q_walk_centrality")((s, dir) => {
    graft.graph.GraphOps.randomWalksFromNodes(stagedCoPurchaseSym(s, dir),
      "a", "b", col("node") % 20 === 0, steps = 4, assumeSymmetric = true)
      .groupBy(col("node").as("node_id"))
      .agg(count(lit(1)).as("visits"),
        countDistinct(col("walk_id")).as("n_walks"))
  }) {
    // visit counts over the identical walk table — centrality estimation
    // from sampled walks (the PageRank-adjacent signal DeepWalk uses)
    (s"WITH $walksChainSql\n" +
      "SELECT node AS node_id, count(*)::BIGINT AS visits," +
      " count(DISTINCT walk_id)::BIGINT AS n_walks FROM walks GROUP BY 1")
  }

  // skip-gram training pairs: (center, context) co-occurrences within
  // walk-window 2 — the DeepWalk/node2vec positive-pair extraction; one
  // walk_id equi-join (walk tables are seed-sized, never |E|-sized)
  query("q_skipgram_pairs")((s, dir) => {
    val walks = graft.graph.GraphOps.randomWalksFromNodes(
      stagedCoPurchaseSym(s, dir), "a", "b", col("node") % 20 === 0, steps = 4,
      assumeSymmetric = true)
    walks.as("x").join(walks.as("y"),
        col("x.walk_id") === col("y.walk_id") &&
          (col("y.step") - col("x.step")).isin(1, 2))
      .groupBy(col("x.node").as("node_a"), col("y.node").as("node_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }) {
    // skip-gram (center, context) pair frequencies within walk-window 2
    (s"WITH $walksChainSql\n" +
      """SELECT x.node AS node_a, y.node AS node_b, count(*)::BIGINT AS n_pairs
        |FROM walks x JOIN walks y ON x.walk_id = y.walk_id
        |  AND y.step - x.step IN (1, 2)
        |GROUP BY 1, 2""".stripMargin)
  }

  // incremental maintenance of the co-purchase projection ITSELF — the
  // piece that keeps stagedCoPurchaseSym fresh at 100 TB without
  // rescanning history: per-order pair counts are a mergeable state
  // (an order's items all arrive together, so pairs never straddle the
  // history/delta boundary and count addition is exact), the weight
  // threshold applies AFTER the merge (thresholding inside the state
  // would silently drop pairs whose support only clears minShared once
  // combined — counts ARE the state, the filter is the view). Oracle =
  // full recompute: merge(history, delta) == rebuild, hash-exact
  query("q_incremental_copurchase")((s, dir) => {
    // both halves slice the STAGED capped basket frame by a WHOLE-GROUP
    // predicate (an order is history or delta with all its rows), and
    // the cap window + dedup commute with whole-group filters — so
    // each slice's pair state is row-identical to projecting the raw
    // slice, with the distinct+cap pipeline paid once at staging
    // (GraphOps.coOccurrencePairsFromBaskets documents the argument)
    val baskets = stagedBaskets(s, dir)
    def pairState(df: DataFrame) = graft.graph.GraphOps
      .coOccurrencePairsFromBaskets(df, "g", "i", minShared = 1)
    val merged = graft.operators.Incremental.mergeStates(
      Seq(pairState(baskets.where(col("g") % 10 =!= 0)),
        pairState(baskets.where(col("g") % 10 === 0))),
      Seq("pa", "pb"), Seq("w" -> "sum"))
    merged.where(col("w") >= 2)
  }) {
    // the oracle REBUILDS from scratch — equality proves the state merge
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256)
      |SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*)::BIGINT AS w
      |FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |  AND x.l_partkey < y.l_partkey
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
  }

  // market-basket association rules over order baskets: both directed
  // rules per co-purchase pair, confidence and lift from distinct-
  // counted supports, N via a one-row broadcast (no driver collect).
  // Same capped basket projection as the graph queries (the one
  // quadratic step is bounded by maxGroupSize); ratios are raw IEEE
  // long/long divisions so the oracle replays them bit-for-bit. The
  // basket frame is STAGED once (four consumers: both self-join sides,
  // supports, N), and the pair aggregation runs once — both rule
  // directions explode from the same pair rows
  query("q_assoc_rules")((s, dir) => {
    graft.ext.MarketBasket.associationRulesFromBaskets(
      stagedBaskets(s, dir), minShared = 2)
  }) {
    // same capped baskets, supports as distinct-counted longs, both rule
    // directions via UNION ALL, ratios as the same long/long IEEE
    // divisions the Spark side emits
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_groups FROM li),
      | supp AS (
      |  SELECT l_partkey AS i, count(*)::BIGINT AS supp FROM li GROUP BY 1),
      | pairs AS (
      |  SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*)::BIGINT AS pair_supp
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | directed AS (
      |  SELECT pa AS antecedent, pb AS consequent, pair_supp FROM pairs
      |  UNION ALL
      |  SELECT pb AS antecedent, pa AS consequent, pair_supp FROM pairs)
      |SELECT d.antecedent, d.consequent, d.pair_supp,
      |  sa.supp AS ante_supp, sc.supp AS cons_supp, n.n_groups,
      |  d.pair_supp / cast(sa.supp AS double) AS confidence,
      |  (d.pair_supp * n.n_groups) / cast(sa.supp * sc.supp AS double) AS lift
      |FROM directed d
      |  JOIN supp sa ON sa.i = d.antecedent
      |  JOIN supp sc ON sc.i = d.consequent
      |  CROSS JOIN n""".stripMargin
  }

  // Newman modularity of the label-prop communities over the staged
  // co-purchase graph — the partition-quality score community detection
  // is judged by, computed fraction-free (integer sums, one division;
  // see GraphOps.modularity)
  query("q_modularity")((s, dir) => {
    val edges = stagedCoPurchaseSym(s, dir)
    val labels = graft.graph.GraphOps.labelPropagateMin(edges, "a", "b",
      iterations = 5, assumeSymmetric = true)
    graft.graph.GraphOps.modularity(edges, "a", "b", labels, "node", "label",
      assumeSymmetric = true)
  }) {
    // Newman modularity of the q_label_prop communities, fraction-free:
    // every sum stays an integer, one final IEEE division
    (s"WITH $labelPropChainSql" +
      """,
        | lab AS (SELECT node AS n, label AS c FROM l5),
        | mm AS (SELECT count(*)::BIGINT AS m FROM ed),
        | intra AS (
        |  SELECT sum(CASE WHEN la.c IS NOT NULL AND la.c = lb.c THEN 1 ELSE 0 END)::BIGINT
        |    AS intra_edges
        |  FROM ed LEFT JOIN lab la ON la.n = ed.a LEFT JOIN lab lb ON lb.n = ed.b),
        | deg AS (
        |  SELECT n, count(*)::BIGINT AS d
        |  FROM (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1),
        | degc AS (
        |  SELECT lab.c, sum(d)::BIGINT AS deg_c
        |  FROM deg JOIN lab ON lab.n = deg.n GROUP BY 1),
        | sq AS (
        |  SELECT sum(deg_c * deg_c)::BIGINT AS sum_deg_sq,
        |    count(*)::BIGINT AS n_communities FROM degc)
        |SELECT mm.m, intra.intra_edges, sq.n_communities,
        |  CAST(4 * mm.m * intra.intra_edges - sq.sum_deg_sq AS DOUBLE)
        |    / (4 * mm.m * mm.m) AS modularity
        |FROM mm, intra, sq""".stripMargin)
  }

  // degree assortativity of the co-purchase graph — hub-mixing in one
  // number, integer moments + three IEEE ops (GraphOps.assortativity)
  query("q_assortativity")((s, dir) => {
    graft.graph.GraphOps.assortativity(stagedCoPurchaseSym(s, dir), "a", "b",
      assumeSymmetric = true)
  }) {
    // both-direction endpoint degrees; the same √A·√B Pearson form as
    // q_correlation — integer moments, three IEEE ops
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | ed AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | deg AS (
      |  SELECT n, count(*)::BIGINT AS d
      |  FROM (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1),
      | sym AS (
      |  SELECT da.d AS x, db.d AS y
      |  FROM ed JOIN deg da ON da.n = ed.a JOIN deg db ON db.n = ed.b
      |  UNION ALL
      |  SELECT db.d, da.d
      |  FROM ed JOIN deg da ON da.n = ed.a JOIN deg db ON db.n = ed.b),
      | g AS (
      |  SELECT count(*)::BIGINT AS mm, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
      |    sum(y * y)::BIGINT AS syy
      |  FROM sym)
      |SELECT mm // 2 AS m,
      |  CASE WHEN mm * sxx - sx * sx <= 0 OR mm * syy - sy * sy <= 0 THEN NULL
      |       ELSE CAST(mm * sxy - sx * sy AS DOUBLE) /
      |         (sqrt(CAST(mm * sxx - sx * sx AS DOUBLE)) *
      |          sqrt(CAST(mm * syy - sy * sy AS DOUBLE)))
      |  END AS assortativity
      |FROM g""".stripMargin
  }

  // log2-binned degree distribution of the co-purchase graph — the
  // heavy-tail audit (is this a power law? where does the hub mass
  // sit?) that sizes skew defenses BEFORE they're needed. The bin is
  // exact integer arithmetic: floor(log2 d) = length(bin(d)) − 1 on
  // both engines — no float log in sight
  query("q_degree_distribution")((s, dir) => {
    // degree per node over the symmetric staged closure: one
    // map-combined count on the bucket key, exchange-free — the
    // explode-both-endpoints rollup this replaced paid a full shuffle
    val deg = stagedCoPurchaseSym(s, dir).where(col("a") =!= col("b"))
      .groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val buckets = deg
      .select((length(bin(col("d"))) - 1).cast("long").as("bucket"), col("d"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
    buckets.crossJoin(broadcast(buckets.agg(sum(col("n_nodes")).as("total"))))
      .select(col("bucket"), col("n_nodes"), col("min_deg"), col("max_deg"),
        (col("n_nodes").cast("double") / col("total").cast("double")).as("share"))
  }) {
    // same capped projection and degree aggregation; the same
    // length(bin())-1 integer log2
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | ed AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | deg AS (
      |  SELECT n, count(*)::BIGINT AS d
      |  FROM (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1),
      | g AS (
      |  SELECT (length(bin(d)) - 1)::BIGINT AS bucket,
      |    count(*)::BIGINT AS n_nodes,
      |    min(d)::BIGINT AS min_deg, max(d)::BIGINT AS max_deg
      |  FROM deg GROUP BY 1),
      | t AS (SELECT sum(n_nodes)::BIGINT AS total FROM g)
      |SELECT bucket, n_nodes, min_deg, max_deg,
      |  cast(n_nodes AS double) / cast(total AS double) AS share
      |FROM g, t""".stripMargin
  }

  // per-community conductance of the label-prop partition — the
  // localized cut-quality score the single global modularity number
  // cannot give: which community leaks. Unlabeled endpoints count as
  // leakage; integer cut/volume sums, one division per community
  query("q_conductance")((s, dir) => {
    val edges = stagedCoPurchaseSym(s, dir)
    val labels = graft.graph.GraphOps.labelPropagateMin(edges, "a", "b",
      iterations = 5, assumeSymmetric = true)
    graft.graph.GraphOps.conductance(edges, "a", "b",
      labels, "node", "label", assumeSymmetric = true)
  }) {
    // same label chain; straddling edges explode to both communities,
    // volumes from member degrees, the guarded min-side division
    (s"WITH $labelPropChainSql" +
      """,
        | lab AS (SELECT node AS n, label AS c FROM l5),
        | led AS (
        |  SELECT ed.a, ed.b, la.c AS ca, lb.c AS cb
        |  FROM ed LEFT JOIN lab la ON la.n = ed.a
        |    LEFT JOIN lab lb ON lb.n = ed.b),
        | cuts AS (
        |  SELECT c, count(*)::BIGINT AS cut FROM (
        |    SELECT unnest([ca, cb]) AS c FROM led
        |    WHERE ca IS NULL OR cb IS NULL OR ca <> cb)
        |  WHERE c IS NOT NULL GROUP BY 1),
        | deg AS (
        |  SELECT n, count(*)::BIGINT AS d
        |  FROM (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1),
        | vol AS (
        |  SELECT lab.c, count(*)::BIGINT AS n_nodes, sum(d)::BIGINT AS volume
        |  FROM deg JOIN lab ON lab.n = deg.n GROUP BY 1),
        | tot AS (SELECT (count(*) * 2)::BIGINT AS total_volume FROM ed)
        |SELECT vol.c AS community, n_nodes, volume,
        |  coalesce(cut, 0)::BIGINT AS cut,
        |  CASE WHEN least(volume, total_volume - volume) = 0 THEN NULL
        |  ELSE cast(coalesce(cut, 0) AS double) /
        |    cast(least(volume, total_volume - volume) AS double) END AS conductance
        |FROM vol LEFT JOIN cuts ON cuts.c = vol.c CROSS JOIN tot""".stripMargin)
  }

  // global clustering coefficient = closed / all triplets, fraction-free:
  // Σ per-node triangle counts is exactly 3T, wedge total Σd(d−1) is
  // exactly 2W — C = 2·Σn_tri / Σd(d−1) is one integer ratio, and the
  // triangle/wedge totals divide out exactly (both divisibilities are
  // structural). Rides the degree-oriented closure + the staged edges
  query("q_clustering_coeff")((s, dir) => {
    val edges = stagedCoPurchaseSym(s, dir)
    val tri = graft.graph.GraphOps.triangleCounts(edges, "a", "b",
        assumeSymmetric = true)
      .agg(coalesce(sum(col("n_triangles")), lit(0L)).as("tri3"))
    val deg = edges.where(col("a") =!= col("b"))
      .groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val wed = deg.agg(sum(col("d") * (col("d") - 1)).as("w2"),
      count(lit(1)).as("n_nodes"))
    tri.crossJoin(wed)
      .select((col("tri3") / 3).cast("long").as("total_triangles"),
        (col("w2") / 2).cast("long").as("wedges"), col("n_nodes"),
        ((lit(2L) * col("tri3")).cast("double") / col("w2")).as("global_cc"))
  }) {
    // triangle CTE shared with q_triangles' oracle; the ratio of the two
    // structural integer totals
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
      | e AS MATERIALIZED (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      | tri AS (
      |  SELECT count(*)::BIGINT AS t
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      | deg AS (
      |  SELECT n, count(*)::BIGINT AS d
      |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      | wed AS (
      |  SELECT sum(d * (d - 1))::BIGINT AS w2, count(*)::BIGINT AS n_nodes
      |  FROM deg)
      |SELECT tri.t AS total_triangles, wed.w2 // 2 AS wedges, wed.n_nodes,
      |  CAST(6 * tri.t AS DOUBLE) / wed.w2 AS global_cc
      |FROM tri, wed""".stripMargin
  }

  // strongly connected components of a DIRECTED graph (trim + FW-BW
  // coloring peels, GraphOps.stronglyConnectedComponents) — the directed
  // twin of q_components. Edges: part -> next part in pick order within
  // each order (lag over (orderkey, linenumber) — LINEAR in lineitems,
  // never the deg² wedge projection); cycles arise because pick orders
  // disagree across orders. Endpoint domain capped at partkey <= 400 so
  // the oracle's recursive mutual-reachability closure stays
  // |nodes|·|reach|-bounded; the operator itself never materializes a
  // closure — per round it is node-keyed joins/aggs only
  query("q_scc")((s, dir) => {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val e = t(s, dir, "lineitem")
      .where(col("l_partkey") <= 400)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("prev", lag(col("l_partkey"), 1).over(w))
      .where(col("prev").isNotNull && col("prev") =!= col("l_partkey"))
      .select(col("prev").as("src"), col("l_partkey").as("dst"))
      .distinct()
    graft.graph.GraphOps.stronglyConnectedComponents(e, "src", "dst")
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy(col("scc"))))
  }) {
    // same lag/filter pipeline, then SCC from first principles: recursive
    // reachability closure -> mutual pairs -> scc = min mutually-reachable
    // id (the label convention the operator guarantees). The closure is
    // oracle-side only and bounded by the partkey <= 400 domain cap
    """WITH RECURSIVE lagd AS (
      |  SELECT lag(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS src,
      |    l_partkey AS dst
      |  FROM lineitem WHERE l_partkey <= 400),
      | e AS (SELECT DISTINCT src, dst FROM lagd WHERE src IS NOT NULL AND src <> dst),
      | nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      | reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      | mutual AS (
      |  SELECT r1.src AS u, r1.dst AS v
      |  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src),
      | lab AS (
      |  SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc
      |  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
      |  GROUP BY n.node)
      |SELECT node, scc, count(*) OVER (PARTITION BY scc)::BIGINT AS scc_size
      |FROM lab""".stripMargin
  }

  // topological layers of the SCC condensation: contract the components
  // of the repeat-co-pick precedence digraph (edge multiplicity >= 2
  // denoises one-off orderings, leaving real DAG structure — 4 layers
  // on the fixture), then assign each component its longest-path depth
  // from the DAG sources — the dependency-scheduling wave structure
  // (which batches can run in parallel, how deep the chain is). Layers
  // via GraphOps.condensationLayers (driver Kahn under the probe bound,
  // monotone distributed fixpoint above it, tier equality pinned); the
  // oracle replays a recursive walk with UNION dedup, bounded by
  // components x depth
  query("q_topo_layers")((s, dir) => {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("prev", lag(col("l_partkey"), 1).over(w))
      .where(col("prev").isNotNull && col("prev") =!= col("l_partkey"))
      .groupBy(col("prev").as("src"), col("l_partkey").as("dst"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select(col("src"), col("dst"))
    val labels = graft.graph.GraphOps
      .stronglyConnectedComponents(edges, "src", "dst")
    val layers = graft.graph.GraphOps
      .condensationLayers(edges, "src", "dst", labels)
    labels.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
      .join(layers, Seq("scc"))
  }) {
    // the q_scc closure machinery on the denoised (multiplicity >= 2)
    // precedence digraph, extended by the condensation walk: contract
    // labels, take distinct cross-component edges, then a recursive
    // longest-path walk from the sources with UNION dedup ((node, depth)
    // pairs are bounded by components x depth)
    """WITH RECURSIVE lagd AS (
      |  SELECT lag(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS src,
      |    l_partkey AS dst
      |  FROM lineitem WHERE l_partkey <= 2000),
      | e AS (
      |  SELECT src, dst FROM lagd WHERE src IS NOT NULL AND src <> dst
      |  GROUP BY src, dst HAVING count(*) >= 2),
      | nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      | reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      | mutual AS (
      |  SELECT r1.src AS u, r1.dst AS v
      |  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src),
      | lab AS (
      |  SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc
      |  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
      |  GROUP BY n.node),
      | ce AS (
      |  SELECT DISTINCT la.scc AS cu, lb.scc AS cv
      |  FROM e JOIN lab la ON la.node = e.src JOIN lab lb ON lb.node = e.dst
      |  WHERE la.scc <> lb.scc),
      | comps AS (SELECT DISTINCT scc FROM lab),
      | walk AS (
      |  SELECT scc AS node, 0 AS d FROM comps
      |  WHERE scc NOT IN (SELECT cv FROM ce)
      |  UNION
      |  SELECT ce.cv, w.d + 1 FROM walk w JOIN ce ON ce.cu = w.node),
      | layers AS (SELECT node AS scc, max(d) AS layer FROM walk GROUP BY 1)
      |SELECT l.scc, count(*)::BIGINT AS n_members, min(layers.layer)::BIGINT AS layer
      |FROM lab l JOIN layers ON layers.scc = l.scc
      |GROUP BY l.scc""".stripMargin
  }

  /** The 5-round min-label-propagation chain in SQL, ending in CTEs `ed`
    * (the capped co-purchase edges, a < b) and `l5` (node → community) —
    * shared by the q_label_prop and q_modularity oracles. */
  private val labelPropChainSql: String = {
    val base =
      """li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
        | ed AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | es AS MATERIALIZED (
        |  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
        |  UNION SELECT a, a FROM (SELECT a FROM ed UNION SELECT b AS a FROM ed)),
        | l0 AS (SELECT a AS node, a AS label FROM es WHERE a = b)""".stripMargin
    val steps = (1 to 5).map { i =>
      s""",
         | l$i AS (
         |  SELECT es.a AS node, min(l.label) AS label
         |  FROM es JOIN l${i - 1} l ON l.node = es.b GROUP BY 1)""".stripMargin
    }.mkString
    base + steps
  }

  /** The deterministic-walk chain in SQL, ending in a `walks` CTE — the
    * capped co-purchase projection, the id-ordered ranked adjacency, and
    * each of the four md5-choice steps replayed exactly as
    * [[graft.graph.GraphOps.randomWalks]] computes them. Shared by the
    * q_random_walks / q_walk_centrality / q_skipgram_pairs oracles. */
  private val walksChainSql: String = {
    val base =
      """li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256),
        | ed AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | adj AS MATERIALIZED (
        |  SELECT v, n,
        |    row_number() OVER (PARTITION BY v ORDER BY n) AS rnk,
        |    count(*) OVER (PARTITION BY v) AS deg
        |  FROM (SELECT a AS v, b AS n FROM ed UNION ALL SELECT b, a FROM ed)),
        | w0 AS (
        |  SELECT node AS walk_id, node, 0::BIGINT AS step
        |  FROM (SELECT DISTINCT a AS node FROM ed UNION SELECT DISTINCT b FROM ed)
        |  WHERE node % 20 = 0)""".stripMargin
    val steps = (1 to 4).map { s =>
      s""",
         | w$s AS (
         |  SELECT f.walk_id, a.n AS node, $s::BIGINT AS step
         |  FROM w${s - 1} f JOIN adj a ON a.v = f.node
         |    AND a.rnk = cast(('0x' || substr(md5(f.walk_id || '|' || $s), 1, 15))::UBIGINT
         |      AS BIGINT) % a.deg + 1)""".stripMargin
    }.mkString
    base + steps +
      """,
        | walks AS (
        |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)""".stripMargin
  }
}
