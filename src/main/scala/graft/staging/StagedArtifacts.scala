package graft.staging

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity}
import graft.queries.QueryHelpers.{cents, t}
import graft.staging.Staging._

/** Every frame or path the queries stage. Each artifact is a value built
  * through [[staged]], which records it as it is defined; [[prestageAll]]
  * forces exactly that record. A query stages only through these values:
  * the staging primitives are `private[staging]`.
  *
  * Not recorded (probe-only): [[stagedCoPurchaseSymBuckets]] with a
  * non-production bucket count, and [[Staging.dropProbeStaging]]. */
object StagedArtifacts {

  /** One staged artifact: `apply(s, dir)` stages it for `dir` on first
    * use in this process (or reuses a completed staging) and returns what
    * its consumers read. */
  final class Staged[A] private[StagedArtifacts] (val name: String,
      build: (SparkSession, String) => A) {
    def apply(s: SparkSession, dir: String): A = build(s, dir)
  }

  private val recorded = scala.collection.mutable.ArrayBuffer.empty[Staged[_]]

  private def staged[A](name: String)(build: (SparkSession, String) => A): Staged[A] = {
    val a = new Staged(name, build)
    recorded += a
    a
  }

  /** The co-purchase wedge projection shared by q_triangles /
    * q_label_prop / q_components / q_bfs_dist: undirected part-part edges
    * weighted by the number of orders both appear in, thresholded at
    * minShared = 2 (hub pruning — keeps the projected graph sparse: 1.2M
    * raw co-occurrence pairs -> 3.6k edges at sf0.1). The basket-size cap
    * and its rationale live on [[graft.graph.GraphOps.coOccurrencePairs]];
    * the oracle mirrors the cap (QUALIFY over the same window) so the
    * SEMANTICS, not just the fixture results, agree — TPC-ish baskets are
    * ≤ ~7 items, so at every test SF the cap is a no-op. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.coOccurrencePairs(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minShared = 2, maxGroupSize = 256)

  /** The co-purchase projection staged as its SYMMETRIC SELF-LOOP-CLOSED
    * closure, BUCKETED AND SORTED ON `a` (32 buckets) — the layout the
    * pair-form parquet staging of earlier rounds only promised: every
    * graph consumer (triangles, components, label-prop, BFS, closeness,
    * k-core, k-truss, link prediction, walks, modularity, conductance,
    * assortativity, degree distribution, clustering coefficient) starts
    * from some derivation of the symmetric closure, and under
    * [[graft.graph.GraphOps]]' `assumeSymmetric` contract each derivation
    * collapses to a bucket-preserving filter/projection of THIS table:
    * degree rollups, adjacency windows and per-round joins on the bucket
    * key run exchange-free, exactly as the bipartite staging did for
    * PageRank/HITS (PlanSpec pins the shapes). Contents: both
    * orientations of every [[coPurchaseEdges]] pair (pa < pb strict, so
    * the two orientations are distinct and loop-free by construction)
    * plus one (n, n, w=0) self-loop per node — the closure the
    * label-prop/BFS recurrences need, filtered in place (`a =!= b`) by
    * consumers that don't. Row-identical derivations keep every oracle
    * untouched. */
  private[graft] val stagedCoPurchaseSym: Staged[DataFrame] = staged("coPurchaseSym") { (s, dir) =>
    stagedCoPurchaseSymBuckets(s, dir, buckets = 16, nameTag = "")
  }

  /** The base (pre-digest-suffix) staging name [[stagedCoPurchaseSymBuckets]]
    * uses — probe cells resolve it to reclaim their probe-only stagings
    * via [[dropProbeStaging]]. */
  private[graft] def coPurchaseStagingBaseName(dir: String, nameTag: String): String =
    s"graft_copurch${nameTag}_${dirDigest(dir)}"

  /** Bucket-count-parameterized body of [[stagedCoPurchaseSym]] —
    * `private[graft]` so ScaleProbe can A/B bucket counts (the r13
    * bucket-sizing rule: bucket count must match the parallelism of the
    * exchange it replaces) under probe-only names that never collide
    * with the production staging. */
  private[graft] def stagedCoPurchaseSymBuckets(s: SparkSession, dir: String,
      buckets: Int, nameTag: String): DataFrame =
    stagedBucketedTable(s, dir, coPurchaseStagingBaseName(dir, nameTag),
        "a", buckets, Seq("lineitem")) {
      val p = coPurchaseEdges(s, dir)
      val sym = p.select(col("pa").as("a"), col("pb").as("b"), col("w"))
        .unionByName(p.select(col("pb").as("a"), col("pa").as("b"), col("w")))
      sym.unionByName(sym.select(col("a")).distinct()
        .select(col("a"), col("a").as("b"), lit(0L).as("w")))
    }

  /** The capped distinct (order, part) basket projection STAGED once per
    * (input content, code digest), BUCKETED AND SORTED ON the basket key
    * `g` — 32 buckets, sized to the session's parallelism: the r13 probe
    * measured the 16-bucket layout LOSING to plain parquet under
    * broadcast-off at every factor to 20× because the self-join was
    * capped at 16-way against the plain path's 32 shuffle partitions
    * (SCALE.md r13 (a)); bucket count must match the parallelism the
    * exchange it replaces would have used, locally 32 and at 1000
    * executors the cluster's core count. q_assoc_rules consumes it four
    * ways (both pair
    * self-join sides, each support side, N) and q_incremental_copurchase
    * derives both its history and delta pair states from whole-group
    * slices; without staging each consumer replays the distinct +
    * cap-window pipeline over lineitem. The bucketed layout makes the
    * ONE quadratic step — the per-basket pair self-join on `g` — read
    * buckets in place on BOTH sides (no exchange, no sort; same move as
    * [[stagedCoPurchaseSym]]), and whole-group filters (`g % 10`)
    * preserve it, so the incremental split rides the same layout. At
    * 100 TB the basket self-join is the dominant exchange of the rule
    * pipeline; bucketing deletes it for every consumer at one staging
    * write. */
  private[graft] val stagedBaskets: Staged[DataFrame] = staged("baskets") { (s, dir) =>
    stagedBucketedTable(s, dir, s"graft_baskets_${dirDigest(dir)}",
        "g", 32, Seq("lineitem"))(graft.ext.MarketBasket.cappedBaskets(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", maxGroupSize = 256))
  }

  /** The symmetric order<->part bipartite edge frame (orderkey*2 <->
    * partkey*2+1, both directions) staged once per (JVM, input dir) as a
    * DISTINCT table BUCKETED AND SORTED ON `src` (32 buckets, one file
    * per bucket) — q_pagerank / q_ppr / q_hits all replay fixed-point
    * recurrences whose per-round join hashes the edge frame on src, so a
    * plain parquet staging still re-exchanged ~1.2M edge rows inside
    * every round. The bucketed layout is exactly what
    * [[graft.graph.GraphOps.pageRankFixedPoint]]'s scaladoc prescribes
    * for 100 TB: the bucket write is paid once, and every later
    * src-keyed join / groupBy reads buckets in place — only the
    * node-sized rank frame moves per round (PlanSpec pins the
    * edge-side-exchange-free shape). The dedup the fixed points
    * previously ran per query also moves here (consumers pass
    * `assumeDistinct = true`; distinct-of-staged == staged-distinct, so
    * every oracle is untouched). Same once-per-dir discipline and
    * staging set as [[bucketedRefTable]]. */
  private[graft] val stagedBipartiteEdges: Staged[DataFrame] = staged("bipartiteEdges") { (s, dir) =>
    stagedBucketedTable(s, dir, s"graft_bipartite_${dirDigest(dir)}",
        "src", 32, Seq("lineitem")) {
      val e0 = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    }
  }

  /** The distinct-value cumulative-count frame over the A/R
    * extended-price slices STAGED once per (JVM, input dir) —
    * q_ks_test and q_wasserstein consume the IDENTICAL
    * byVal→withGlobalCumSums pipeline (one grouped collapse to distinct
    * cents values, then both groups' inclusive prefix sums plus the
    * 0-based value rank in ONE range exchange); without staging each
    * replays the lineitem scan + group + range exchange. Columns:
    * (v, r, cum_a, cum_r) — KS reads the cums only, Wasserstein
    * additionally joins r to r+1 for segment widths. Same discipline as
    * [[stagedCoPurchaseSym]]; row-identical to the inline build, so
    * both oracles are untouched. */
  private[graft] val stagedAbrCum: Staged[DataFrame] = staged("abrCum") { (s, dir) =>
    stagedParquet(s, dir, "abrcum", Seq("lineitem")) {
      val li = t(s, dir, "lineitem").where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("g"), cents(col("l_extendedprice")).as("v"))
      val byVal = li.groupBy(col("v")).agg(
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"))
      graft.operators.GlobalRank.withGlobalCumSums(
          byVal, Seq(col("v")),
          Seq((lit(1L): org.apache.spark.sql.Column) -> "r",
            col("ca") -> "cax", col("cr") -> "crx"))
        .select(col("v"), col("r"),
          (col("cax") + col("ca")).as("cum_a"), (col("crx") + col("cr")).as("cum_r"))
    }
  }

  /** The per-(returnflag, extendedprice) VALUE-COUNT frame staged once
    * per (JVM, input dir) — the sufficient statistic for every exact
    * rank/clip statistic on the price column. `percentile`'s frequency
    * argument replays the multiset exactly (percentile over {v × cnt}
    * == percentile over the raw rows, same interpolation), and the
    * money sums are integer-cents × cnt — so q_winsorize (p05/p95 caps
    * + clipped sums) and q_mad_outliers (median, MAD, outlier counts)
    * become weighted aggregates over this collapsed frame instead of
    * each re-scanning lineitem three times. At 100 TB this is the
    * classic histogram-pushdown: the count table is bounded by DISTINCT
    * prices, the one quantity the exact-percentile buffer was already
    * paying for, and it ships once instead of once per statistic.
    * Row-replication equivalence keeps both oracles untouched. */
  private[graft] val stagedPriceCounts: Staged[DataFrame] = staged("priceCounts") { (s, dir) =>
    stagedParquet(s, dir, "pricecnt", Seq("lineitem"))(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("cnt")))
  }

  /** The exact brute-force cosine top-10 over the shared retrieval
    * fixture (full embeddings corpus, `vec_id % 50 == 0` query set)
    * STAGED once per (JVM, input dir). Five retrieval-evaluation queries
    * (q_mrr, q_ann_tuning, q_mmr_rerank, q_ivf_recall, q_retrieval_ndcg)
    * consume slices of the same exact ground truth; without staging each
    * re-runs the full corpus×queries brute-force scan.
    * [[graft.ext.Similarity.bruteForceTopK]] ranks by the deterministic
    * total order (cosine desc, neighbor_id), so top-k at any k <= 10 is
    * exactly `where rank <= k` of this staged top-10 — every oracle is
    * untouched. The queries whose HEADLINE is the brute-force scan itself
    * (q_embed_topk, q_embed_topk_agg, q_rec_coverage) deliberately keep
    * computing it live: they are the exact-scan benchmark, this table is
    * ground truth for evaluating the approximate paths. */
  private[graft] val stagedExactNeighbors: Staged[DataFrame] = staged("exactNeighbors") { (s, dir) =>
    stagedParquet(s, dir, "exacttop10", Seq("embeddings")) {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ext.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10)
    }
  }

  /** The shared IVF index (nlist = 16, one Lloyd refine pass) over the
    * embeddings corpus STAGED once per (JVM, input dir): `q_ivf_recall`
    * probes it at nprobe = 8 and `q_ann_tuning` sweeps nprobe 1/2/4/8 —
    * five identical index builds without staging (the centroid sample,
    * refine pass, and corpus assignment are all query- and
    * nprobe-independent). Centroids stage first (16 rows), then the
    * assignment reads them back — [[graft.ext.Similarity.ivfSearch]]
    * consumes the pair. This is exactly the build-once/search-many
    * posture a production 100 TB index runs (assignment bucketed by
    * centroid_id is the scale layout; at fixture scale the plain staged
    * parquet already makes every probe a columnar scan). Value-identical
    * to the inline builds, so both oracles are untouched. */
  private[graft] val stagedIvf16: Staged[(DataFrame, DataFrame)] = staged("ivf16") { (s, dir) =>
    val cent = stagedParquet(s, dir, "ivfcent16", Seq("embeddings")) {
      val emb = t(s, dir, "embeddings")
      Similarity.refineCentroids(emb, "vec_id", "embedding",
        Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16), iterations = 1)
    }
    val assigned = stagedParquet(s, dir, "ivfassign16", Seq("embeddings")) {
      // narrow projection before assignment: the staged index carries
      // exactly (vec_id, embedding, centroid_id) — nothing else pays the
      // write or the per-probe scan
      Similarity.assignToCentroids(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cent)
    }
    (cent, assigned)
  }

  /** The IVF-PQ index staged once per (input content, epoch) — centroids
    * (16, one Lloyd pass), donor codebooks (4 subspaces × 16 entries) and
    * the coded corpus, all query-independent exactly like [[stagedIvf16]]:
    * without staging every q_ivfpq_topk run rebuilt centroid refinement,
    * the donor sample AND the full-corpus code assignment before probing.
    * Staged, only the ADC probe chain runs per query batch — the
    * build-once/search-many posture of the production layout (at 100 TB
    * the coded corpus is written bucketed by centroid_id). Value-identical
    * to the fused build, so the oracle is untouched. */
  private[graft] val stagedIvfPq: Staged[(DataFrame, DataFrame, DataFrame)] = staged("ivfPq") { (s, dir) =>
    val cent = stagedParquet(s, dir, "ivfpqcent", Seq("embeddings")) {
      val emb = t(s, dir, "embeddings")
      Similarity.refineCentroids(emb, "vec_id", "embedding",
        Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16),
        iterations = 1)
    }
    val donors = stagedParquet(s, dir, "ivfpqdon", Seq("embeddings")) {
      Similarity.pqDonorsFrame(t(s, dir, "embeddings"), "vec_id", "embedding",
        ncent = 16)
    }
    val index = stagedParquet(s, dir, "ivfpqidx", Seq("embeddings")) {
      Similarity.ivfPqCodedCorpus(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cent, Similarity.collectDonors(donors),
        dim = 64, nsub = 4)
    }
    (cent, donors, index)
  }

  /** Stage the q_cross_dedup_* reference corpus (doc_id < 400) as a
    * bucketed banding table, once per process and input dir — the table
    * name carries a digest of the dir so a warm-up SF can never leak its
    * staging into the timed SF. Returns the table name. */
  private[graft] val bucketedRefTable: Staged[String] = staged("refBands") { (s, dir) =>
    stagedBucketedTable(s, dir, s"graft_ref_bands_${dirDigest(dir)}", "bkey", 16,
      Seq("documents"))(
      Dedup.bandStagingFrame(t(s, dir, "documents").where(col("doc_id") < 400),
        "doc_id", "text", shingleSize = 5, numHashes = 128, bands = 16))
    stagedTableName(s"graft_ref_bands_${dirDigest(dir)}")
  }

  /** Stage orders and customer CO-BUCKETED on the customer key (16
    * buckets, sorted in-bucket), once per (JVM, input dir) — the layout
    * that makes the fact-dimension join exchange-free on BOTH sides: at
    * 100 TB the bucketed write is paid once and every later join on the
    * key reads buckets in place (q_bucket_join pins the plan; the same
    * move backs [[bucketedRefTable]] for the dedup reference corpus). */
  private[graft] val bucketedJoinTables: Staged[(String, String)] = staged("bucketedJoin") { (s, dir) =>
    val digest = dirDigest(dir)
    val to = s"graft_bkt_orders_$digest"
    val tc = s"graft_bkt_customer_$digest"
    stagedBucketedTable(s, dir, to, "o_custkey", 16, Seq("orders"))(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    stagedBucketedTable(s, dir, tc, "o_custkey", 16, Seq("customer"))(
      t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")))
    (stagedTableName(to), stagedTableName(tc))
  }

  /** Stage the image dHash fingerprints once per (JVM, input dir): the
    * BMP synth + decode + hash pass is the expensive image scan, and BOTH
    * image-similarity queries (near-dup pairs, duplicate clusters) consume
    * the identical (id, fp) frame — at 100 TB this staged 16-byte-per-row
    * table is what an image pipeline stores, decodes being paid once per
    * corpus, not per consumer. Row-identical to deriving in place, so the
    * exact all-pairs oracles are untouched. */
  private[graft] val stagedImageFingerprints: Staged[DataFrame] = staged("imageFingerprints") { (s, dir) =>
    stagedParquet(s, dir, "imgfp", Seq("documents"))(Multimodal.imageFingerprints(
      Multimodal.synthesizeGradientImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")))
  }

  /** Stage the minhash near-dup pair set (char-5-gram shingles, 128
    * hashes, 16 bands, jaccard ≥ 0.5) once per (JVM, input dir): SIX
    * queries — pairs, clusters, keep-best, leakage-safe split, the
    * split-leakage audit, and the dup-flow matrix — consume the
    * IDENTICAL pair set, and at 100 TB
    * a dedup pipeline materializes its verified candidate pairs exactly
    * once (id-pair rows, tiny next to the corpus) for every downstream
    * consumer. Row-identical to deriving in place; all five oracles are
    * untouched. */
  private[graft] val stagedMinhashPairs: Staged[DataFrame] = staged("minhashPairs") { (s, dir) =>
    stagedParquet(s, dir, "mhpairs", Seq("documents"))(Dedup.minhashNearDuplicates(
      t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5))
  }

  /** Stage documents HIVE-PARTITIONED by lang once per (JVM, input
    * dir) — the standard 100 TB layout move for a column every query
    * filters on: `lang=en/` directories make the filter a PARTITION
    * filter, so a one-language query never opens the other languages'
    * files at all (directory-level pruning, cheaper than any row-group
    * zone map). q_partition_prune pins `PartitionFilters` non-empty in
    * its plan. */
  private[graft] val partitionedDocsPath: Staged[String] = staged("docsByLang") { (s, dir) =>
    val digest = dirDigest(dir)
    // code-digest tail even though this is a per-JVM rebuilt path: the
    // GC classifies staleness by the trailing 8 hex, and a dir-digest
    // tail would read as "stale" to every OTHER build's sweep — a
    // long-lived idle JVM could have these files reaped under it while
    // its stagedRefs entry still says they exist (ADVICE r13)
    val path = s"/tmp/graft_docs_bylang_${digest}_${logicDigest.take(8)}"
    if (stagedRefs.add(path))
      try t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(path)
      catch { case t0: Throwable => stagedRefs.remove(path); throw t0 }
    // no marker here (per-JVM rebuild path) — touch the dir itself so the
    // GC age guard sees a live consumer
    touchMarker(java.nio.file.Paths.get(path))
    path
  }

  /** Stage two SCHEMA-DRIFTED document snapshots once per (JVM, input
    * dir): v1 carries (doc_id, text) only — an early export before the
    * lang/source columns existed — v2 the full schema. The disjoint id
    * ranges make the union well-defined; q_schema_evolution reads both
    * with `mergeSchema` and the missing v1 columns surface as nulls,
    * the contract a long-lived 100 TB dataset's readers depend on as
    * its schema accretes columns. */
  private[graft] val schemaDriftPaths: Staged[(String, String)] = staged("schemaDrift") { (s, dir) =>
    val digest = dirDigest(dir)
    // code-digest tails for the same GC-classification reason as
    // partitionedDocsPath: every live build's artifacts must read as
    // "current" to its own sweep and as age-guarded stale to others'
    val p1 = s"/tmp/graft_docs_v1_${digest}_${logicDigest.take(8)}"
    val p2 = s"/tmp/graft_docs_v2_${digest}_${logicDigest.take(8)}"
    if (stagedRefs.add(p1)) {
      try {
        val docs = t(s, dir, "documents")
        docs.where(col("doc_id") % 10 < 8)
          .select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(p1)
        docs.where(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .write.mode("overwrite").parquet(p2)
      } catch { case t0: Throwable => stagedRefs.remove(p1); throw t0 }
    }
    // per-JVM rebuild path, no marker — dir touch keeps the GC age guard
    // honest for a long-lived consumer
    touchMarker(java.nio.file.Paths.get(p1))
    touchMarker(java.nio.file.Paths.get(p2))
    (p1, p2)
  }

  /** Stage the documents table as JSONL once per (JVM, input dir) — the
    * q_jsonl_roundtrip fixture. Same staging discipline (and set) as
    * [[bucketedRefTable]]: the one-time write is not charged to every
    * timed pass, and the path carries the dir digest so SFs never mix. */
  private[graft] val jsonlStagePath: Staged[String] = staged("jsonl") { (s, dir) =>
    val digest = dirDigest(dir)
    val path = s"/tmp/graft_jsonl_${digest}_${logicDigest.take(8)}"
    val marker = java.nio.file.Paths.get(path, StagingMarkerName)
    if (stagedRefs.add(path)) {
      try {
        // same marker-gated cross-JVM reuse as stagedParquet (Jsonl.write
        // emits a _SUCCESS on commit like any Hadoop-committer sink)
        val fp = logicDigest + ":" + inputFingerprint(dir, Seq("documents"))
        def reusable = readMarker(marker).exists(_.getProperty("fp") == fp) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))
        if (!reusable) withBuildLock(path) {
          if (!reusable) {
            graft.sources.Jsonl.write(t(s, dir, "documents"), path)
            writeMarker(marker, Map("fp" -> fp))
          }
        }
      } catch { case t: Throwable => stagedRefs.remove(path); throw t }
    }
    touchMarker(marker) // liveness touch on every access (see stagedParquet)
    path
  }

  /** Stage the documents table as ORC once per (JVM, input dir) — the
    * q_orc_roundtrip fixture, [[jsonlStagePath]]'s columnar sibling (ORC is
    * the other columnar interchange format Spark ships a native vectorized
    * reader for; a lakehouse migration reads exactly this way). */
  private[graft] val orcStagePath: Staged[String] = staged("orc") { (s, dir) =>
    val digest = dirDigest(dir)
    val path = s"/tmp/graft_orc_${digest}_${logicDigest.take(8)}"
    val marker = java.nio.file.Paths.get(path, StagingMarkerName)
    if (stagedRefs.add(path)) {
      try {
        val fp = logicDigest + ":" + inputFingerprint(dir, Seq("documents"))
        def reusable = readMarker(marker).exists(_.getProperty("fp") == fp) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))
        if (!reusable) withBuildLock(path) {
          if (!reusable) {
            t(s, dir, "documents").write.mode("overwrite").orc(path)
            writeMarker(marker, Map("fp" -> fp))
          }
        }
      } catch { case t: Throwable => stagedRefs.remove(path); throw t }
    }
    touchMarker(marker) // liveness touch on every access (see stagedParquet)
    path
  }

  /** The positional 40-gram md5 index STAGED once per (JVM, input dir) —
    * q_substring_dup (coverage profile) and q_dup_spans (merged regions)
    * both consume it, and the gram explode + 10M-row md5 is by far their
    * dominant cost: measure-then-cut pipelines derive the index once, the
    * same production posture as [[stagedCoPurchaseSym]]. Row-identical
    * to Dedup.gramIndex on the raw table, so both oracles are untouched. */
  private[graft] val stagedGramIndex: Staged[DataFrame] = staged("gramIndex") { (s, dir) =>
    stagedParquet(s, dir, "grams", Seq("documents"))(
      Dedup.gramIndex(t(s, dir, "documents"), "doc_id", "text", k = 40))
  }

  /** The df-ordered prefix-join corpus artifact
    * ([[graft.ext.Dedup.dfRankedShingleDocs]]: per doc, its shingles'
    * global rarest-first ranks plus the hashed shingle set) STAGED once
    * per (input content, code digest) — the token df-dictionary,
    * GlobalRank and the per-doc ordering are query-independent, exactly
    * the fixed passes [[stagedIvf16]]/[[stagedPriceCounts]] already
    * stage for their families; without staging every q_prefix_join call
    * replayed all three before any candidate was generated. Thresholds
    * live downstream ([[graft.ext.Dedup.prefixPairsFromRanked]]), so
    * ONE staged frame serves any number of them — and at 100 TB this is
    * the posture an SSJoin deployment runs anyway: the ranked-postings
    * artifact is built at ingest next to the corpus, the join is the
    * per-query work. */
  private[graft] val stagedPrefixDocs: Staged[DataFrame] = staged("prefixDocs") { (s, dir) =>
    stagedParquet(s, dir, "prefixrank", Seq("documents"))(
      Dedup.dfRankedShingleDocs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3))
  }

  /** The WebText boilerplate-extraction product, served as a pruned
    * read of the combined staged build ([[stagedWebProducts]]):
    * (doc_id, title, text_clean, text_len,
    * link_density, n_links) over the synthesized pages. Three queries
    * consume it — q_html_extract (the report itself), q_domain_profile
    * (text mass per domain) and q_web_corpus_funnel (gates + near-dedup
    * on the clean text) — and each previously re-ran the full regex
    * extraction chain over re-synthesized pages per call ("a production
    * funnel stages this frame to parquet between stages", as the
    * funnel's own comment put it: this is that frame). At 100 TB
    * extraction-once-then-many-readers is the only sane posture — the
    * raw HTML is the largest column in the lake and every downstream
    * stage wants the extracted text, not the markup. */
  private[graft] def stagedWebExtract(s: SparkSession, dir: String): DataFrame =
    stagedWebProducts(s, dir).select(col("doc_id"), col("title"),
      col("text_clean"), col("text_len"), col("link_density"), col("n_links"))

  /** The COMBINED web-extraction product STAGED once per (input content,
    * code digest): [[graft.ext.WebText.extractAll]]'s one-pass frame —
    * extract columns plus the links/anchors struct arrays. One staged
    * build scans the synthesized page frame ONCE for all three product
    * axes (previously extract, links and anchors each re-synthesized and
    * re-scanned the raw HTML in their own builds — three scans of the
    * lake's largest column where one multi-output pass suffices);
    * consumers read their axis with parquet column pruning, so each
    * scan stays as narrow as the dedicated files were. */
  private[graft] val stagedWebProducts: Staged[DataFrame] = staged("webProducts") { (s, dir) =>
    stagedParquet(s, dir, "webprod", Seq("documents")) {
      graft.ext.WebText.extractAll(webPages(s, dir), "doc_id", "html",
        "corp.example.com")
    }
  }

  /** The synthesized page frame every WebText stage reads — see
    * [[graft.ext.WebText.synthesizeHtml]] for the fixture contract. */
  private def webPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      graft.ext.WebText.synthesizeHtml(col("doc_id"),
        coalesce(col("text"), lit(""))).as("html"))

  /** The normalized outgoing-link table STAGED once per (input content,
    * code digest) — [[stagedWebExtract]]'s sibling for the link axis:
    * q_url_normalize IS this frame (URL canonicalization runs at ingest
    * in any web pipeline; the query is the staged read), and
    * q_domain_profile joins it against the staged extraction product.
    * The normalization chain is paid once in the combined build; the
    * read is a pruned scan of the `links` array plus one explode. */
  private[graft] def stagedWebLinks(s: SparkSession, dir: String): DataFrame =
    stagedWebProducts(s, dir)
      .select(col("doc_id"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("l.href").as("href"),
        col("l.url_norm").as("url_norm"), col("l.domain").as("domain"))

  /** The (page, normalized target, anchor text) pair table STAGED once
    * per (input content, code digest) — the anchor-level extraction
    * product ([[graft.ext.WebText.anchorPairs]] semantics, served from
    * the combined build's `anchors` array); q_anchor_stats is the
    * rollup over it. */
  private[graft] def stagedWebAnchors(s: SparkSession, dir: String): DataFrame =
    stagedWebProducts(s, dir)
      .select(col("doc_id"), explode(col("anchors")).as("a"))
      .select(col("doc_id"), col("a.url_norm").as("url_norm"),
        col("a.anchor_text").as("anchor_text"))

  /** q_er_pipeline's dirty-record fixture (every 4th part gains a
    * noised duplicate listing) — built inline by consumers; cheap
    * (one scan + one filtered projection), but the SORT RANKS over it
    * are not: see [[stagedErRanks]]. */
  private[graft] def erRecords(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part").select(
      col("p_partkey").cast("long").as("rec_id"),
      col("p_name").as("name"),
      cents(col("p_retailprice")).as("price_cents"))
    val dirty = base.where(col("rec_id") % 4 === 0).select(
      (col("rec_id") + 10000000L).as("rec_id"),
      concat(col("name"), lit(" xx")).as("name"),
      (col("price_cents") + 5L).as("price_cents"))
    base.unionByName(dirty)
  }

  /** The multi-pass sorted-neighborhood GLOBAL RANKS over
    * [[erRecords]] STAGED once per (input content, code digest) — one
    * frame per sort key (full name; 3-word prefix key). The rank is
    * window-independent ([[graft.ext.Dedup.sortedNeighborhoodRanked]]),
    * so each staged frame serves any neighborhood width; without
    * staging every q_er_pipeline call paid two GlobalRank passes (range
    * exchange + materialize + offsets) before generating a single
    * candidate. The name payload rides the frame (names are
    * id-determined), so scoring still needs no re-join. */
  private[graft] val stagedErRanks: Staged[(DataFrame, DataFrame)] = staged("erRanks") { (s, dir) => (
    stagedParquet(s, dir, "errankname", Seq("part"))(
      Dedup.sortedNeighborhoodRanked(erRecords(s, dir), "name", "rec_id",
        payload = Seq("name"))),
    stagedParquet(s, dir, "errankpkey", Seq("part"))(
      Dedup.sortedNeighborhoodRanked(
        erRecords(s, dir).withColumn("pkey",
          array_join(slice(split(col("name"), " "), 1, 3), " ")),
        "pkey", "rec_id", payload = Seq("name"))))
  }

  /** Force every recorded artifact for `dir` — the ingest pass Bench runs
    * before its timed loop so the official board is staging-state-
    * independent: whether the last commit rotated [[Staging.logicDigest]]
    * no longer decides if a timed pass pays a full staging rebuild (the
    * build cost is reported as its own `staging_build_sec` metric
    * instead). The list is the one [[staged]] records, so no artifact can
    * be left out. */
  private[graft] def prestageAll(s: SparkSession, dir: String): Unit =
    recorded.foreach(_(s, dir))
}
