package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // two components: {A1,A2,B1} connected, {C1} isolated
  private def nodes = Seq(
    ("Person", "A1"), ("Person", "A2"), ("Company", "B1"), ("Person", "C1")
  ).toDF("label", "id")

  private def edges = Seq(
    ("KNOWS", "Person", "A1", "Person", "A2"),
    ("WORKS_AT", "Person", "A1", "Company", "B1"),
    ("WORKS_AT", "Person", "A2", "Company", "B1")
  ).toDF("type", "start_label", "src", "end_label", "dst")

  test("denseVertexIds assigns unique contiguous ids") {
    val vids = GraphOps.denseVertexIds(nodes)
    assert(vids.count() == 4)
    assert(vids.select("vid").distinct().count() == 4)
    assert(vids.agg(max("vid")).head().getLong(0) == 3L)
  }

  test("degrees via DataFrame aggregation") {
    val d = GraphOps.degrees(nodes, edges).collect()
      .map(r => (r.getAs[String]("id"), (r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg")))).toMap
    assert(d("A1") == (2L, 0L))
    assert(d("B1") == (0L, 2L))
    assert(d("C1") == (0L, 0L))
  }

  // GraphX's own algorithms over the graph toGraphX materializes: the
  // vertex attrs and edge directions must survive the dense-id translation

  test("GraphX connected components find the isolated vertex") {
    val g = GraphOps.toGraphX(nodes, edges)
    assert(g.connectedComponents().vertices.map(_._2).distinct().count() == 2)
  }

  test("GraphX shortest paths measure hops to a landmark") {
    // distance TO landmark B1 along edge direction: A1 -> B1 = 1 hop,
    // A2 -> B1 = 1 hop, B1 itself = 0; C1 unreachable (absent)
    val g = GraphOps.toGraphX(nodes, edges)
    val b1 = g.vertices.filter(_._2 == (("Company", "B1"))).keys.first()
    val sp = org.apache.spark.graphx.lib.ShortestPaths.run(g, Seq(b1)).vertices
      .join(g.vertices).collect()
      .flatMap { case (_, (hops, (_, id))) => hops.get(b1).map(id -> _) }.toMap
    assert(sp("B1") == 0)
    assert(sp("A1") == 1 && sp("A2") == 1)
    assert(!sp.contains("C1"))
  }

  test("GraphX pagerank gives the hub the highest score") {
    val g = GraphOps.toGraphX(nodes, edges)
    val top = g.pageRank(0.001).vertices.join(g.vertices)
      .collect().maxBy(_._2._1)._2._2._2
    assert(top == "B1")
  }

  test("fixed-point integer PageRank replays the recurrence exactly") {
    // symmetric star 1 <-> 2, 1 <-> 3: outdeg 1->2, 2->1, 3->1
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRankFixedPoint(e, "src", "dst", iterations = 2)
      .as[(Long, Long)].collect().toMap
    // iter1: node1 gets 1e6 + 1e6 -> 150000 + (2e6*85)//100 = 1850000;
    //        nodes 2,3 get 1e6 div 2 = 500000 -> 150000 + 425000 = 575000
    // iter2: node1 gets 575000*2 -> 150000 + (1150000*85)//100 = 1127500;
    //        nodes 2,3 get 1850000 div 2 -> 150000 + (925000*85)//100 = 936250
    assert(out == Map(1L -> 1127500L, 2L -> 936250L, 3L -> 936250L))
    // total mass stays near n*1e6 (DIV leakage only): sanity, not exactness
    assert(out.values.sum <= 3000000L && out.values.sum > 2900000L)
  }

  test("HITS replays the max-normalized integer recurrence exactly") {
    // directed bipartite: h1 -> {a1, a2}, h2 -> {a1} (hubs 1,2; auths 10,20)
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val out = GraphOps.hitsFixedPoint(e, "src", "dst", iterations = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // round 1: auth_raw a10 = 2e6, a20 = 1e6 -> max 2e6 -> a10 = 1e6,
    //          a20 = 500000; hub_raw h1 = 1e6 + 5e5 = 1.5e6, h2 = 1e6
    //          -> max 1.5e6 -> h1 = 1e6, h2 = (1e6*1e6) div 1.5e6 = 666666
    // round 2: auth_raw a10 = 1e6 + 666666 = 1666666, a20 = 1e6
    //          -> a10 = 1e6, a20 = (1e6*1e6) div 1666666 = 600000;
    //          hub_raw h1 = 1e6 + 600000 = 1.6e6, h2 = 1e6
    //          -> h1 = 1e6, h2 = (1e6*1e6) div 1.6e6 = 625000
    assert(out == Map(
      (1L, "hub") -> 1000000L, (2L, "hub") -> 625000L,
      (10L, "auth") -> 1000000L, (20L, "auth") -> 600000L), out.toString)
    // the leading hub and authority are pinned at exactly 1e6 every round
    assert(out((1L, "hub")) == 1000000L && out((10L, "auth")) == 1000000L)
  }

  test("assumeDistinct and the default path agree once the input is deduped") {
    // the staged-table contract: distinct-of-input == input implies both
    // paths replay the identical recurrence — a duplicated-edge input
    // through the DEFAULT path must equal the pre-deduped input through
    // the assumeDistinct path (which skips the dedup to keep bucket
    // partitioning alive)
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 2L), (3L, 1L))
      .toDF("src", "dst")
    val ded = dup.distinct()
    val a = GraphOps.pageRankFixedPoint(dup, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    val b = GraphOps.pageRankFixedPoint(ded, "src", "dst", iterations = 3,
      assumeDistinct = true).as[(Long, Long)].collect().toMap
    assert(a == b, s"pagerank diverged: $a vs $b")
    val seeds = Seq(Tuple1(2L)).toDF("node")
    val pa = GraphOps.personalizedPageRankFixedPoint(dup, "src", "dst", seeds,
      iterations = 3).as[(Long, Long)].collect().toMap
    val pb = GraphOps.personalizedPageRankFixedPoint(ded, "src", "dst", seeds,
      iterations = 3, assumeDistinct = true).as[(Long, Long)].collect().toMap
    assert(pa == pb, s"ppr diverged: $pa vs $pb")
  }

  test("HITS with a dst-partitioned second view equals the single-frame path") {
    // edgesByDst is a caller-certified row-identical view that may arrive
    // under any partitioning — the recurrence must be layout-invariant
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 20L))
      .toDF("src", "dst")
    val one = GraphOps.hitsFixedPoint(e, "src", "dst", iterations = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // a shuffled/repartitioned copy stands in for the bucketed reverse half
    val byDst = e.repartition(4, $"dst")
    val two = GraphOps.hitsFixedPoint(e, "src", "dst", iterations = 3,
      assumeDistinct = true, edgesByDst = Some(byDst))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(one == two, s"HITS diverged under the two-layout store: $one vs $two")
  }

  test("PageRank broadcast-iteration variant equals the exchange form bit-for-bit") {
    // the symmetric closure of a small graph: every dst is a src, so the
    // no-dangling contract holds and the swapped view is the same edge
    // set under a different partitioning — the recurrence must be
    // layout-invariant (integer sums are order-independent)
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val sym = e0.union(e0.select($"dst".as("src"), $"src".as("dst"))).distinct()
    val base = GraphOps.pageRankFixedPoint(sym, "src", "dst", iterations = 4,
      assumeDistinct = true).as[(Long, Long)].collect().toMap
    val bcast = GraphOps.pageRankFixedPoint(sym, "src", "dst", iterations = 4,
      assumeDistinct = true,
      edgesByDst = Some(sym.select($"dst".as("src"), $"src".as("dst"))))
      .as[(Long, Long)].collect().toMap
    assert(base == bcast, s"pagerank diverged under the two-layout store: $base vs $bcast")
  }

  test("PPR broadcast-iteration variant equals the exchange form bit-for-bit") {
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val sym = e0.union(e0.select($"dst".as("src"), $"src".as("dst"))).distinct()
    val seeds = Seq(2L).toDF("node")
    val base = GraphOps.personalizedPageRankFixedPoint(sym, "src", "dst",
      seeds, iterations = 4, assumeDistinct = true)
      .as[(Long, Long)].collect().toMap
    val bcast = GraphOps.personalizedPageRankFixedPoint(sym, "src", "dst",
      seeds, iterations = 4, assumeDistinct = true,
      edgesByDst = Some(sym.select($"dst".as("src"), $"src".as("dst"))))
      .as[(Long, Long)].collect().toMap
    assert(base == bcast, s"ppr diverged under the two-layout store: $base vs $bcast")
  }

  test("edgesByDst without assumeDistinct is rejected, not silently wrong") {
    // the swapped view is consumed raw in the broadcast-iteration loop —
    // a non-distinct caller would get deg from deduped edges but
    // contributions over duplicated edges (ADVICE r13): the contract
    // violation must be loud
    val e0 = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val swapped = e0.select($"dst".as("src"), $"src".as("dst"))
    intercept[IllegalArgumentException] {
      GraphOps.pageRankFixedPoint(e0, "src", "dst", iterations = 1,
        edgesByDst = Some(swapped))
    }
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRankFixedPoint(e0, "src", "dst",
        Seq(1L).toDF("node"), iterations = 1, edgesByDst = Some(swapped))
    }
  }

  test("personalized PageRank replays the seed-concentrated recurrence exactly") {
    // symmetric star 1 <-> 2, 1 <-> 3; seed = {2}. N=3, |S|=1:
    // init: node2 = 3e6, others 0; teleport T = 450000 per round to node2
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(2L).toDF("node")
    val out = GraphOps.personalizedPageRankFixedPoint(e, "src", "dst", seeds,
      iterations = 2).as[(Long, Long)].collect().toMap
    // iter1: inflow(1) = 3e6 div 1 = 3e6 -> (3e6*85)//100 = 2550000;
    //        node2 = 450000 + 0 (node1 rank 0, div 2 = 0); node3 = 0
    // iter2: inflow(1) = rank2 div 1 + rank3 div 1 = 450000 ->
    //          (450000*85)//100 = 382500
    //        node2 = 450000 + (2550000 div 2 * 85)//100 = 450000+1083750
    //        node3 = (2550000 div 2 * 85)//100 = 1083750
    assert(out == Map(1L -> 382500L, 2L -> 1533750L, 3L -> 1083750L), out.toString)
    // proximity ordering: the seed outranks its 2-hop peer
    assert(out(2L) > out(3L))
    // empty seed set is rejected loudly
    val ex = intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRankFixedPoint(
        e, "src", "dst", Seq.empty[Long].toDF("node"), 1)
    }
    assert(ex.getMessage.contains("seed"))
  }

  test("min-label propagation reaches the component minimum within diameter rounds") {
    // two components: path 5-3-7-9 (diameter 3) and pair 10-12; mixed
    // directions prove the symmetric closure
    val e = Seq((3L, 5L), (7L, 3L), (7L, 9L), (12L, 10L)).toDF("s", "d")
    val out = GraphOps.labelPropagateMin(e, "s", "d", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 9L -> 3L, 10L -> 10L, 12L -> 10L))
    // one round only reaches distance-1 neighbors: 9 sees min(7,9) = 7
    val r1 = GraphOps.labelPropagateMin(e, "s", "d", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(9L) == 7L && r1(5L) == 3L && r1(3L) == 3L)
  }

  test("star-contraction CC labels path + pair graphs exactly") {
    val e = Seq((4L, 2L), (6L, 4L), (6L, 8L), (10L, 8L), (30L, 20L)).toDF("s", "d")
    val out = GraphOps.connectedComponentsStar(e, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 2L, 4L -> 2L, 6L -> 2L, 8L -> 2L, 10L -> 2L,
      20L -> 20L, 30L -> 20L))
  }

  test("star-contraction CC converges in O(log n) rounds on a high-diameter path") {
    // a 256-node path has diameter 255: the min-label fixpoint would need
    // ~255 rounds (its 100-round guard aborts), star contraction a handful
    val e = (1L until 256L).map(i => (i, i + 1)).toDF("s", "d")
    val (labels, rounds) = GraphOps.connectedComponentsStarWithRounds(e, "s", "d")
    assert(rounds <= 12, s"expected ~log2(256)=8 rounds, took $rounds")
    val out = labels.as[(Long, Long)].collect().toMap
    assert(out.size == 256 && out.values.forall(_ == 1L))
  }

  test("fixed-point PageRank rejects dangling nodes loudly") {
    // node 3 has an in-edge but no out-edge: its mass would silently leak
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.pageRankFixedPoint(e, "src", "dst", iterations = 1)
    }
    assert(ex.getMessage.contains("dangling"))
  }

  test("assumeNoDangling skips the re-proof without changing ranks on a symmetric closure") {
    // the flag is a caller certification (symmetric closure => every dst
    // is a src), not a semantics switch: ranks must be bit-identical
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val checked = GraphOps.pageRankFixedPoint(sym, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    val certified = GraphOps.pageRankFixedPoint(sym, "src", "dst", iterations = 3,
      assumeNoDangling = true).as[(Long, Long)].collect().toMap
    assert(checked == certified)
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val pprChecked = GraphOps.personalizedPageRankFixedPoint(
      sym, "src", "dst", seeds, iterations = 3)
      .as[(Long, Long)].collect().toMap
    val pprCertified = GraphOps.personalizedPageRankFixedPoint(
      sym, "src", "dst", seeds, iterations = 3, assumeNoDangling = true)
      .as[(Long, Long)].collect().toMap
    assert(pprChecked == pprCertified)
    // the unflagged PPR path must still reject a dangling graph
    val dangling = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRankFixedPoint(
        dangling, "src", "dst", seeds, iterations = 1)
    }
    assert(ex.getMessage.contains("dangling"))
  }

  test("fixpoint CC agrees with GraphX connectedComponents on a seeded random graph") {
    // both algorithms label a component by its minimum vertex id, so the
    // outputs are directly comparable — an independent implementation
    // (Pregel) validating the star-contraction fixpoint on 300 random
    // edges, at two seeds
    for ((seed, n) <- Seq((42, 120), (1234, 150))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val mine = GraphOps.connectedComponentsStar(edges.toDF("s", "d"), "s", "d")
        .as[(Long, Long)].collect().toMap
      val gx = org.apache.spark.graphx.Graph
        .fromEdgeTuples(spark.sparkContext.parallelize(edges), 0)
        .connectedComponents().vertices.collect().toMap
      assert(mine == gx, s"seed $seed")
    }
  }

  test("DataFrame triangle counts agree with GraphX TriangleCount on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val mine = GraphOps.triangleCounts(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long)].collect().toMap
    val gx = org.apache.spark.graphx.Graph
      .fromEdgeTuples(spark.sparkContext.parallelize(edges), 0)
      .triangleCount().vertices.collect().toMap
      .filter(_._2 > 0).map { case (k, v) => (k: Long, v.toLong) }
    assert(mine == gx)
  }

  test("DataFrame triangle counts close wedges exactly once per triangle") {
    // K4 minus edge (1,4): triangles (1,2,3) and (2,3,4). Mixed edge
    // directions prove the undirected orientation step.
    val e = Seq((2L, 1L), (1L, 3L), (2L, 3L), (4L, 2L), (3L, 4L), (3L, 2L))
      .toDF("s", "d")
    val out = GraphOps.triangleCounts(e, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("degree-oriented triangle counts match the id-oriented closure on a hub graph") {
    // mid-id hub star + leaf ring: the worst case for id orientation
    // (wedges route through the hub's id) and the exact shape the
    // degree-oriented implementation exists to bound. Output must be
    // IDENTICAL — orientation changes join volume, never the result.
    val h = 40L
    val mid = h / 2
    val ids = (0L to h).filter(_ != mid)
    val star = ids.map(i => (i, mid)) ++
      ids.map(i => (i, i + 1)).filter { case (_, b) => b != mid && b <= h }
    val e = star.toDF("s", "d")
    val mine = GraphOps.triangleCounts(e, "s", "d")
      .as[(Long, Long)].collect().toMap
    val idOriented = {
      val eo = e.select(least($"s", $"d").as("a"), greatest($"s", $"d").as("b"))
        .where($"a" =!= $"b").distinct()
      eo.as("e1").join(eo.as("e2"), $"e1.b" === $"e2.a")
        .join(eo.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
        .select(explode(array($"e1.a", $"e1.b", $"e2.b")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("c"))
        .as[(Long, Long)].collect().toMap
    }
    assert(mine == idOriented)
    // every consecutive leaf pair closes a triangle with the hub
    assert(mine(mid) == star.count { case (_, b) => b != mid })
  }

  test("coOccurrencePairs drops mega-groups at the cap and keeps the rest exact") {
    // two orders of 3 items (pairs appear in both -> w = 2) plus one
    // mega-basket of 30 items: with the cap at 29 the mega-basket
    // contributes NOTHING; uncapped it would add (30 choose 2) pairs
    val small = (1 to 2).flatMap(o => Seq(1L, 2L, 3L).map(p => (o.toLong, p)))
    val mega = (1L to 30L).map(p => (99L, 100L + p))
    val items = (small ++ mega).toDF("grp", "item")
    val capped = GraphOps.coOccurrencePairs(items, "grp", "item",
        minShared = 2, maxGroupSize = 29)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L)))
    // raising the cap admits the mega-basket, but its pairs still fail
    // the minShared threshold — the two defenses are independent
    val uncapped = GraphOps.coOccurrencePairs(items, "grp", "item",
        minShared = 2, maxGroupSize = 1000)
      .as[(Long, Long, Long)].collect().toSet
    assert(uncapped == capped)
  }

  test("hop-bounded BFS distances are exact and silent beyond the horizon") {
    // path 1-2-3-4 plus disconnected 5-6; mixed edge directions prove the
    // undirected symmetrization
    val e = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 6L)).toDF("s", "d")
    // the seed is the minimum node, 1
    val out = GraphOps.bfsFromMinNode(e, "s", "d", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    // node 4 is 3 hops away -> absent at maxHops=2; 5/6 unreachable
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // a wider horizon reaches node 4 with the exact distance, and the
    // min over a multi-source run's per-source distances is the
    // distance to the nearest source
    val out3 = GraphOps.bfsFromMinNode(e, "s", "d", maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out3(4L) == 3L)
    val multi = GraphOps.multiSourceBfs(e, "s", "d",
        Seq(1L, 4L).toDF("seed"), maxHops = 2)
      .groupBy("node").agg(min("hops"))
      .as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("kCore peels cascades: clique survives, triangle and tail peel at k=3") {
    // K4 on 1-4 (every degree 3) + a triangle 10-12 (degrees 2) + a
    // CASCADING appendage off the clique: 4-20, 20-21, 20-22, 21-22,
    // 21-23. At k=3 round 1 peels the triangle, 22 (deg 2) and 23
    // (deg 1); that drops 20 and 21 to deg < 3, so round 2 peels them —
    // a genuine cascade — leaving the clique as the exact 3-core.
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (4L, 20L), (20L, 21L), (20L, 22L), (21L, 22L), (21L, 23L)
    ).toDF("s", "d")
    val (core3, rounds) = GraphOps.kCoreWithRounds(e, "s", "d", k = 3)
    val got = core3.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(rounds == 2, s"cascade should take exactly 2 peel rounds, got $rounds")
    // k=2: only the pendant 23 peels; in-core degrees drop accordingly
    val got2 = GraphOps.kCore(e, "s", "d", k = 2).as[(Long, Long)].collect().toMap
    assert(got2.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 22L))
    assert(got2(10L) == 2L && got2(1L) == 3L && got2(20L) == 3L && got2(21L) == 2L)
    // k=1 on a clean graph is a no-op: everything survives with its degree
    val got1 = GraphOps.kCore(e, "s", "d", k = 1).as[(Long, Long)].collect().toMap
    assert(got1.keySet.size == 11 && got1(23L) == 1L)
    // loud guard on adversarial depth: a 30-path at k=2 peels 2 ends per
    // round — maxRounds = 3 must fail loudly, not silently under-peel
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("s", "d")
    val err = intercept[IllegalArgumentException](
      GraphOps.kCore(path, "s", "d", k = 2, maxRounds = 3).collect())
    assert(err.getMessage.contains("did not stabilize"))
  }

  test("linkPrediction scores exactly the non-adjacent pairs, hand-checked") {
    // square 1-2-4-3-1 with diagonal 2-3 and pendant 4-5:
    // non-adjacent pairs: (1,4) cn={2,3}, (1,5) cn={}, (2,5) cn={4},
    // (3,5) cn={4} — at minShared=2 only (1,4) survives.
    // deg: 1→2, 2→3, 3→3, 4→3, 5→1; AA(1,4) = 1/ln3 + 1/ln3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val got = GraphOps.linkPrediction(e, "s", "d", minShared = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    val (u, w, cn, aa) = got.head
    assert((u, w, cn) == ((1L, 4L, 2L)))
    val expectAa = math.floor(2.0 / math.log(3.0) * 1e6 + 0.5) / 1e6
    assert(math.abs(aa - expectAa) < 1e-9)
    // at minShared=1 the single-witness pairs appear too, adjacency
    // still excluded (no edge pair ever scores)
    val all = GraphOps.linkPrediction(e, "s", "d", minShared = 1)
      .select("u", "w").as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 4L), (2L, 5L), (3L, 5L)))
    // the stop-hub cap silences centers above the degree bound
    // stop-hub cap at 2 drops centers 2/3/4 (deg 3); the only surviving
    // wedge (2,3) at center 1 is adjacent, so the output is empty
    val capped = GraphOps.linkPrediction(e, "s", "d", minShared = 1, maxDegree = 2)
      .select("u", "w").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty,
      s"pairs witnessed only by capped-out centers must vanish, got $capped")
  }

  test("modularity replays the closed form on two bridged triangles") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("s", "d")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("node", "c")
    val r = GraphOps.modularity(e, "s", "d", labels, "node", "c")
      .as[(Long, Long, Long, Double)].collect().head
    // m=7, intra=6, deg_c = 7 each → Q = (4·7·6 − 98) / 196 = 70/196
    assert(r == ((7L, 6L, 2L, 70.0 / 196.0)), s"got $r")
    // an unlabeled endpoint makes its edges non-intra and leaves its
    // degree out of deg_c — the documented left-join semantics
    val partial = labels.where(col("node") =!= 6L)
    val r2 = GraphOps.modularity(e, "s", "d", partial, "node", "c")
      .as[(Long, Long, Long, Double)].collect().head
    // intra = 3 + 1 (only 4-5 remains in c2); deg² = 49 + 25
    assert(r2 == ((7L, 4L, 2L, (4.0 * 7 * 4 - 74) / 196.0)), s"got $r2")
  }

  test("assortativity is exactly -1 on a path's ends and NULL on a regular graph") {
    // path 1-2-3: endpoint degrees anti-correlate perfectly
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val r = GraphOps.assortativity(path, "s", "d")
      .as[(Long, Option[Double])].collect().head
    assert(r == ((2L, Some(-1.0))), s"got $r")
    // K3: every degree equal -> zero variance -> undefined, surfaced NULL
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val r2 = GraphOps.assortativity(k3, "s", "d")
      .as[(Long, Option[Double])].collect().head
    assert(r2 == ((3L, None)), s"got $r2")
  }

  test("randomWalks: every hop is an edge, length is exact, and replays identically") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val seeds = col("node").isin(1L, 4L)
    val walks = GraphOps.randomWalksFromNodes(e, "s", "d", seeds, steps = 3)
      .as[(Long, Long, Int)].collect().toSet // (walk_id, node, step)
    // two walks, each with steps 0..3 and exactly one node per step
    val byWalk = walks.groupBy(_._1)
    assert(byWalk.keySet == Set(1L, 4L))
    byWalk.foreach { case (w, rows) =>
      assert(rows.map(_._3).toSeq.sorted == Seq(0, 1, 2, 3), s"walk $w steps")
      assert(rows.head._1 == w)
    }
    // every consecutive hop must be a real edge
    val adj = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    byWalk.foreach { case (w, rows) =>
      val path = rows.toSeq.sortBy(_._3).map(_._2)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj.contains((a, b)), s"walk $w hopped a non-edge $a->$b")
      }
    }
    // determinism: a second evaluation is bit-identical
    val again = GraphOps.randomWalksFromNodes(e, "s", "d", seeds, steps = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(walks == again)
  }

  private def sccMap(edges: Seq[(Long, Long)]): (Map[Long, Long], Int, Int) = {
    val e = edges.toDF("src", "dst")
    val (labels, peels, rounds) =
      GraphOps.stronglyConnectedComponentsWithStats(e, "src", "dst")
    (labels.as[(Long, Long)].collect().toMap, peels, rounds)
  }

  test("SCC: two 3-cycles joined by a one-way bridge stay separate") {
    val (m, _, _) = sccMap(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // cycle A
      (3L, 4L), // one-way bridge — no path back
      (4L, 5L), (5L, 6L), (6L, 4L))) // cycle B
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(4L) == 4L && m(5L) == 4L && m(6L) == 4L)
  }

  test("SCC: a DAG resolves entirely inside the first trim peel") {
    val (m, peels, _) = sccMap(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (2L, 4L)))
    assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    assert(peels == 1, s"trim-to-fixpoint should finish a DAG in one peel, took $peels")
  }

  test("SCC: a single directed n-cycle is one component labeled by its min") {
    val n = 20
    val (m, _, _) = sccMap((0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)))
    assert(m.size == n)
    assert(m.values.toSet == Set(0L))
  }

  test("SCC: matches a brute-force transitive-closure oracle on a random digraph") {
    val rnd = new scala.util.Random(1234)
    val n = 12
    val edges = (for {
      a <- 0 until n; b <- 0 until n
      if a != b && rnd.nextDouble() < 0.18
    } yield (a.toLong, b.toLong)).toSeq
    // Floyd-Warshall reachability closure
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map { v =>
      val mutual = nodes.filter(u =>
        u == v || (reach(v.toInt)(u.toInt) && reach(u.toInt)(v.toInt)))
      v -> mutual.min
    }.toMap
    val (m, _, _) = sccMap(edges)
    assert(m == expected)
    // tier equality: the bounded driver Tarjan (the default path for
    // edge sets under the probe limit) produces the identical labels
    val viaTarjan = GraphOps
      .stronglyConnectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(viaTarjan == expected)
  }

  test("SCC: self-loop-only input has no non-trivial edges and yields nothing") {
    val (m, _, _) = sccMap(Seq((5L, 5L)))
    assert(m.isEmpty)
  }

  test("SCC: a cycle longer than the round guard fails loudly, never silently") {
    val e = (0 until 30).map(i => (i.toLong, ((i + 1) % 30).toLong)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.stronglyConnectedComponentsWithStats(e, "src", "dst",
        maxPeels = 40, maxRounds = 10)
    }
    assert(ex.getMessage.contains("maxRounds"),
      s"guard message must name the knob: ${ex.getMessage}")
  }

  test("condensation layers: longest-path depth over the contracted DAG") {
    // cycle A {0,1,2} -> singleton 10 -> cycle B {20,21,22}, plus a direct
    // A -> B shortcut: B's layer is the LONGEST path (2), not the shortcut
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (2L, 10L), (10L, 20L), (0L, 20L),
      (30L, 31L)) // detached pair of singletons: layers 0 and 1
      .toDF("src", "dst")
    val labels = GraphOps.stronglyConnectedComponents(edges, "src", "dst")
    val layers = GraphOps.condensationLayers(edges, "src", "dst", labels)
      .as[(Long, Long)].collect().toMap
    assert(layers == Map(0L -> 0L, 10L -> 1L, 20L -> 2L, 30L -> 0L, 31L -> 1L))
    // tier equality: forcing the distributed fixpoint (driverNodeLimit=0)
    // yields the identical layer map
    val distributed = GraphOps.condensationLayers(edges, "src", "dst", labels,
        driverNodeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(distributed == layers)
  }

  test("SCC: nested SCCs across a chain retire in few peels") {
    // three 3-cycles chained by one-way bridges: c0 -> c1 -> c2. Coloring
    // floods the max id forward, so the DOWNSTREAM cycle resolves first;
    // each peel retires at least one cycle plus the newly-trimmable rest.
    def cycle(base: Long) = Seq((base, base + 1), (base + 1, base + 2), (base + 2, base))
    val edges = cycle(0L) ++ cycle(10L) ++ cycle(20L) ++ Seq((2L, 10L), (12L, 20L))
    val (m, peels, _) = sccMap(edges)
    assert(m(0L) == 0L && m(1L) == 0L && m(2L) == 0L)
    assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L && m(22L) == 20L)
    assert(peels <= 4, s"expected few peels on a 3-chain of SCCs, took $peels")
  }

  test("multi-source BFS keeps per-seed distances; harmonic closeness sums exactly") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus isolated pair 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L))
      .toDF("s", "d")
    val seeds = Seq(1L, 5L).toDF("seed")
    val dist = GraphOps.multiSourceBfs(edges, "s", "d", seeds, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // per-seed, not collective-min: node 4 is 3 from seed 1 AND 1 from seed 5
    assert(dist((1L, 4L)) == 3L && dist((5L, 4L)) == 1L)
    assert(dist((1L, 1L)) == 0L && dist((5L, 2L)) == 3L)
    // truncation: node 6 is 5 hops from seed 1 -> absent for that seed
    assert(!dist.contains((1L, 6L)) && dist((5L, 6L)) == 1L)
    // unreachable component never appears
    assert(!dist.keys.exists(k => k._2 == 8L || k._2 == 9L))

    val close = GraphOps.harmonicCloseness(edges, "s", "d", seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // node 4: 1/3 (from 1) + 1/1 (from 5) = (4+12)/12; lcm(1..3)=6 -> num=2+6=8, /6
    assert(close(4L) == ((2L, 8L, 8.0 / 6.0)))
    // node 3: 1/2 + 1/2 -> num 3+3=6
    assert(close(3L) == ((2L, 6L, 1.0)))
    // node 1: its own seed distance is 0 (self-distances never count) and
    // seed 5 sits 4 hops away (truncated) -> absent from the report
    assert(!close.contains(1L))
    ()
  }

  test("conductance: hand-computed cuts, unlabeled endpoints count as leakage") {
    import spark.implicits._
    // two triangles bridged at 3-4, pendant 7 hanging off 6 UNLABELED
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L), (6L, 7L)).toDF("s", "d")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("node", "lbl")
    val phi = GraphOps.conductance(edges, "s", "d", labels, "node", "lbl")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = phi("A")
    // vol(A) = 2+2+3 = 7, cut(A) = the bridge; total volume = 16
    assert(a.getAs[Long]("n_nodes") == 3 && a.getAs[Long]("volume") == 7)
    assert(a.getAs[Long]("cut") == 1)
    assert(a.getAs[Double]("conductance") == 1.0 / 7.0)
    val b = phi("B")
    // vol(B) = 3+2+3 = 8; cut(B) = bridge + the half-labeled pendant edge
    assert(b.getAs[Long]("volume") == 8 && b.getAs[Long]("cut") == 2)
    assert(b.getAs[Double]("conductance") == 2.0 / 8.0)
    // one community spanning everything -> undefined, not a divide-by-zero
    val all = (1L to 7L).map(n => (n, "X")).toDF("node", "lbl")
    val whole = GraphOps.conductance(edges, "s", "d", all, "node", "lbl").head()
    assert(whole.isNullAt(whole.fieldIndex("conductance")))
  }

  test("k-truss: K4 survives at k=4, cascading peel empties weak structure") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge in 2 triangles), a triangle {5,6,7}
    // hanging off node 4 via edge 4-5, and a pendant edge 7-8
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tri = Seq((5L, 6L), (6L, 7L), (5L, 7L))
    val edges = (k4 ++ tri ++ Seq((4L, 5L), (7L, 8L))).toDF("s", "d")
    val (t4, rounds4) = GraphOps.kTrussWithRounds(edges, "s", "d", k = 4)
    val got4 = t4.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // only K4 survives k=4; every surviving edge keeps support 2
    assert(got4.keySet == k4.toSet, got4.toString)
    assert(got4.values.forall(_ == 2L))
    assert(rounds4 >= 1) // the bridge/pendant/triangle fringe peeled away
    // k=3 keeps both triangles' edges (support >= 1) but peels the
    // bridge 4-5 and pendant 7-8 (zero triangles)
    val got3 = GraphOps.kTrussWithRounds(edges, "s", "d", k = 3)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == (k4 ++ tri).toSet)
    // k=5 on K4: each edge has support 2 < 3 -> everything peels; the
    // operator returns the empty truss rather than erroring
    assert(GraphOps.kTrussWithRounds(edges, "s", "d", k = 5)._1.isEmpty)
  }

  test("assumeSymmetric: every flagged derivation is row-identical to the default path") {
    import spark.implicits._
    // seeded random canonical pair set (pa < pb, distinct) — the
    // coOccurrencePairs output contract — and its staged-table closure:
    // both orientations plus one (n, n, w=0) self-loop per node
    val rnd = new scala.util.Random(77)
    val pairSeq = (1 to 260).map { _ =>
      val x = rnd.nextInt(40).toLong; val y = rnd.nextInt(40).toLong
      (math.min(x, y), math.max(x, y))
    }.filter(p => p._1 != p._2).distinct
    val pairs = pairSeq.toDF("pa", "pb").withColumn("w", lit(2L))
    val sym0 = pairs.select(col("pa").as("a"), col("pb").as("b"), col("w"))
      .unionByName(pairs.select(col("pb").as("a"), col("pa").as("b"), col("w")))
    val sym = sym0.unionByName(sym0.select(col("a")).distinct()
        .select(col("a"), col("a").as("b"), lit(0L).as("w")))
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def same(name: String, base: org.apache.spark.sql.DataFrame,
        flagged: org.apache.spark.sql.DataFrame): Unit =
      assert(rows(base) == rows(flagged), s"$name diverged under assumeSymmetric")
    same("labelPropagateMin",
      GraphOps.labelPropagateMin(pairs, "pa", "pb", iterations = 5),
      GraphOps.labelPropagateMin(sym, "a", "b", iterations = 5, assumeSymmetric = true))
    same("connectedComponentsStar",
      GraphOps.connectedComponentsStar(pairs, "pa", "pb"),
      GraphOps.connectedComponentsStar(sym, "a", "b", assumeSymmetric = true))
    same("bfsFromMinNode",
      GraphOps.bfsFromMinNode(pairs, "pa", "pb", maxHops = 4),
      GraphOps.bfsFromMinNode(sym, "a", "b", maxHops = 4, assumeSymmetric = true))
    val seeds = Seq(0L, 5L, 10L, 15L).toDF("seed")
    same("multiSourceBfs",
      GraphOps.multiSourceBfs(pairs, "pa", "pb", seeds, maxHops = 3),
      GraphOps.multiSourceBfs(sym, "a", "b", seeds, maxHops = 3, assumeSymmetric = true))
    same("harmonicCloseness",
      GraphOps.harmonicCloseness(pairs, "pa", "pb", seeds, maxHops = 3),
      GraphOps.harmonicCloseness(sym, "a", "b", seeds, maxHops = 3, assumeSymmetric = true))
    same("kCore",
      GraphOps.kCore(pairs, "pa", "pb", k = 3),
      GraphOps.kCore(sym, "a", "b", k = 3, assumeSymmetric = true))
    same("kTruss",
      GraphOps.kTrussWithRounds(pairs, "pa", "pb", k = 3)._1,
      GraphOps.kTrussWithRounds(sym, "a", "b", k = 3, assumeSymmetric = true)._1)
    same("triangleCounts",
      GraphOps.triangleCounts(pairs, "pa", "pb"),
      GraphOps.triangleCounts(sym, "a", "b", assumeSymmetric = true))
    same("linkPrediction",
      GraphOps.linkPrediction(pairs, "pa", "pb", minShared = 2, maxDegree = 1024),
      GraphOps.linkPrediction(sym, "a", "b", minShared = 2, maxDegree = 1024,
        assumeSymmetric = true))
    same("randomWalksFromNodes",
      GraphOps.randomWalksFromNodes(pairs, "pa", "pb", col("node") % 5 === 0, steps = 4),
      GraphOps.randomWalksFromNodes(sym, "a", "b", col("node") % 5 === 0, steps = 4,
        assumeSymmetric = true))
    val labels = GraphOps.labelPropagateMin(pairs, "pa", "pb", iterations = 5)
      .localCheckpoint(true)
    same("modularity",
      GraphOps.modularity(pairs, "pa", "pb", labels, "node", "label"),
      GraphOps.modularity(sym, "a", "b", labels, "node", "label",
        assumeSymmetric = true))
    same("conductance",
      GraphOps.conductance(pairs, "pa", "pb", labels, "node", "label"),
      GraphOps.conductance(sym, "a", "b", labels, "node", "label",
        assumeSymmetric = true))
    same("assortativity",
      GraphOps.assortativity(pairs, "pa", "pb"),
      GraphOps.assortativity(sym, "a", "b", assumeSymmetric = true))
  }

  test("cloned pin/loop sessions do not keep their source sessions alive") {
    // the pin and loop clone caches are weak-keyed by the source session:
    // a cached clone must not reach its key, or every session that ever
    // pinned or looped a frame lives as long as the JVM
    def useOnce(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val s = spark.newSession()
      val df = s.range(0, 100).toDF("a")
      assert(GraphOps.pinForProbe(df).count() == 100)
      assert(GraphOps.loopFrame(df).count() == 100)
      new java.lang.ref.WeakReference(s)
    }
    val refs = (1 to 4).map(_ => useOnce())
    var tries = 0
    while (refs.exists(_.get != null) && tries < 20) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    assert(refs.forall(_.get == null),
      s"${refs.count(_.get != null)} of ${refs.size} dropped sessions are still reachable")
  }
}
