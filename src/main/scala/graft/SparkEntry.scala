package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.graphx.{Edge, Graph}

import graft.operators.{Normalize, Mapping, Skew}
import graft.ext.{Dedup, Similarity, TextAnalysis, Multimodal, Sampling}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB oracle
  * in `oracleSql` where ANSI-SQL-expressible.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - double sums are rounded per-row to integer cents with explicit IEEE
  *    arithmetic and summed as longs (exact, order-independent; see `dsum`);
  *  - per-row double arithmetic is written identically on both sides
  *    (single IEEE ops are bit-deterministic);
  *  - ranks always carry an id tie-breaker;
  *  - dedup representatives are `min(id)`, never "keep any".
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** Loud guard for oracles whose DuckDB side carries a CONSTANT position
    * ceiling (this DuckDB build's `generate_series` accepts neither
    * lateral nor subquery bounds): if any document outgrows the unrolled
    * window the two engines would diverge SILENTLY — fail the query
    * instead. `limit(1)` bounds the probe: the scan short-circuits on the
    * first offender, and at verify scale the frame is already in cache. */
  private def assertOracleTextCeiling(df: DataFrame, query: String,
      ceiling: Int = 10000): Unit = {
    val over = df.where(length(col("text")) > ceiling).limit(1).count()
    require(over == 0, s"$query: a document exceeds the oracle's constant " +
      s"generate_series ceiling ($ceiling chars) — raise the oracle's unroll " +
      "bound before trusting this fixture")
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
  private def stagedCoPurchaseSym(s: SparkSession, dir: String): DataFrame =
    stagedCoPurchaseSymBuckets(s, dir, buckets = 16, nameTag = "")

  /** Bucket-count-parameterized body of [[stagedCoPurchaseSym]] —
    * `private[graft]` so ScaleProbe can A/B bucket counts (the r13
    * bucket-sizing rule: bucket count must match the parallelism of the
    * exchange it replaces) under probe-only names that never collide
    * with the production staging. */
  /** The base (pre-digest-suffix) staging name [[stagedCoPurchaseSymBuckets]]
    * uses — probe cells resolve it to reclaim their probe-only stagings
    * via [[dropProbeStaging]]. */
  private[graft] def coPurchaseStagingBaseName(dir: String, nameTag: String): String =
    s"graft_copurch${nameTag}_${dirDigest(dir)}"

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
  private[graft] def stagedBaskets(s: SparkSession, dir: String): DataFrame =
    stagedBucketedTable(s, dir, s"graft_baskets_${dirDigest(dir)}",
        "g", 32, Seq("lineitem"))(graft.ext.MarketBasket.cappedBaskets(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", maxGroupSize = 256))

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
  private[graft] def stagedBipartiteEdges(s: SparkSession, dir: String): DataFrame =
    stagedBucketedTable(s, dir, s"graft_bipartite_${dirDigest(dir)}",
        "src", 32, Seq("lineitem")) {
      val e0 = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
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
  private def stagedAbrCum(s: SparkSession, dir: String): DataFrame =
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
  private def stagedPriceCounts(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "pricecnt", Seq("lineitem"))(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("cnt")))

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
  private def stagedExactNeighbors(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "exacttop10", Seq("embeddings")) {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ext.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10)
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
  private def stagedIvf16(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
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
  private def stagedIvfPq(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
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

  /** Integer cents via explicit IEEE arithmetic — the determinism-critical
    * rounding every money aggregate is built on (identical on any engine,
    * unlike double→decimal casts whose rounding differs between Spark and
    * DuckDB). */
  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * lit(100.0d) + lit(0.5d)).cast("long")

  /** Exact order-independent money sum: sum cents as long, emit double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(cents(c)).cast("double") / lit(100.0d)

  /** Names staged once per (JVM, input dir): re-staging per bench pass
    * would charge the one-time reference-ingest cost to every timed run,
    * while trusting a metastore entry from an EARLIER process could serve
    * stale or orphaned data. */
  private val stagedRefs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: forget the in-process staging set, forcing the next
    * staged access through the cross-JVM reuse probe — the only way a
    * single-JVM spec can exercise the fresh-process path. */
  private[graft] def resetStagingRefsForTest(): Unit = stagedRefs.clear()

  /** Snapshot of the in-process staged set — Bench diffs it across its
    * timed loop to self-audit [[prestageAll]]'s completeness (a staged
    * path first touched INSIDE a timed pass means the prestage list
    * drifted from the staged helpers). */
  private[graft] def stagedRefsSnapshot: Set[String] = {
    val it = stagedRefs.iterator()
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private[graft] val StagingMarkerName = "_GRAFT_STAGED.properties"

  /** Staging age guard: a STALE-digest staging younger than this is left
    * alone (it may belong to a live A/B partner build — the matched
    * control-vs-treatment protocol runs two builds side by side for
    * hours). Reuse refreshes the marker mtime ([[touchMarker]]), so an
    * actively-read staging never ages out regardless of when it was
    * written. Overridable for tests and long-lived A/B sessions. */
  private[graft] def stagingMaxAgeMillis: Long =
    (sys.props.get("graft.staging.maxAgeHours").map(_.toDouble).getOrElse(12.0d)
      * 3600_000L).toLong

  /** The warehouse root the sweep GCs, resolved ABSOLUTELY: a relative
    * `spark-warehouse` only works when the JVM's cwd happens to be the
    * repo root — a sweep launched from anywhere else silently skipped
    * the warehouse half (r13 verdict). Resolution order: the live
    * session's `spark.sql.warehouse.dir` (the authoritative value once
    * Spark is up), else the repo root anchored from the graft
    * code-source location (`<repo>/target/scala-2.13/classes` for both
    * the sbt and the direct `java -cp` launcher), else the cwd-relative
    * fallback. */
  /** Decode a `spark.sql.warehouse.dir` conf value to a filesystem path.
    * The conf value is a URI when Spark set it (file:/x, possibly
    * percent-encoded — a repo path with a space arrives as %20 and a
    * bare stripPrefix would resolve to a nonexistent dir); a plain path
    * when the user set it. Parse as URI first, fall back to the raw
    * string. ONE helper shared by the staging WRITER
    * ([[stagedBucketedTable]]'s location) and the sweep READER
    * ([[sweepWarehouseRoot]]) — with separate decoders the two could
    * diverge on an encoded path, and the sweep would silently skip the
    * warehouse half while stagings accumulate under the raw string (the
    * r14 ADVICE divergence). */
  private[graft] def warehousePathFromConf(u: String): java.nio.file.Path = {
    val viaUri = scala.util.Try(new java.net.URI(u)).toOption
      .filter(x => x.getScheme == "file" && x.getPath != null)
      .map(x => java.nio.file.Paths.get(x.getPath))
    viaUri.getOrElse(java.nio.file.Paths.get(u.stripPrefix("file:")))
  }

  /** Anchors a warehouse root from a graft code-source location WITHOUT
    * a live session: for the sbt / `java -cp .../classes` launch the
    * code source is `<root>/target/scala-2.13/classes` and three parents
    * up is the repo root; an assembled jar in the same sbt layout
    * (`<root>/target/scala-2.13/graft….jar`) resolves identically, and a
    * jar deployed elsewhere anchors from its OWN directory (the
    * conventional app-dir layout). First candidate whose
    * `spark-warehouse` exists wins; None when none does (jar-only
    * deployments with no warehouse — nothing to sweep). */
  private[graft] def warehouseFromCodeSource(
      src: java.nio.file.Path): Option[java.nio.file.Path] = {
    val jarDir =
      if (java.nio.file.Files.isRegularFile(src)) Option(src.getParent) else None
    val sbtRoot = Option(src.getParent).flatMap(p => Option(p.getParent))
      .flatMap(p => Option(p.getParent))
    (jarDir.toSeq ++ sbtRoot.toSeq).map(_.resolve("spark-warehouse"))
      .find(java.nio.file.Files.isDirectory(_))
  }

  private[graft] def sweepWarehouseRoot: java.nio.file.Path = {
    val fromSession = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(s.conf.get("spark.sql.warehouse.dir")).toOption)
      .map(warehousePathFromConf)
    def fromCodeSource = scala.util.Try {
      val src = SparkEntry.getClass.getProtectionDomain.getCodeSource
      java.nio.file.Paths.get(src.getLocation.toURI)
    }.toOption.flatMap(warehouseFromCodeSource)
    fromSession.orElse(fromCodeSource).getOrElse {
      // loud, not silent: a cwd-relative root only sweeps when the JVM
      // happens to run from the repo root — the exact r13 silent skip
      System.err.println("[graft] sweepWarehouseRoot: no live session and " +
        "no code-source anchor resolved a spark-warehouse dir; falling " +
        "back to cwd-relative 'spark-warehouse' — the warehouse sweep " +
        "may be skipped for this launch")
      java.nio.file.Paths.get("spark-warehouse")
    }
  }

  /** GC for stranded stagings (the digest-keyed coexistence rule's
    * cost): every recompile rotates [[logicDigest]] and strands the
    * previous build's /tmp parquet dirs and warehouse bucketed tables —
    * a full artifact set per recompile, monotone disk growth on any
    * long-lived host. Sweeps each root for DIRECTORIES named
    * `graft_*_<8hex>` whose digest suffix differs from THIS build's and
    * whose marker (dir mtime when no marker) is older than
    * [[stagingMaxAgeMillis]]. Three keep-guards beyond the name gate
    * (which alone means only graft-authored paths are ever touched):
    *  - AGE: protects a coexisting build's warm staging — its JVM
    *    touches the marker on every reuse.
    *  - MARKER FP: a dir whose marker fingerprint leads with THIS
    *    build's [[logicDigest]] is this build's own artifact regardless
    *    of its name tail — belt-and-braces should any staged path ever
    *    carry a non-digest 8-hex tail again (every current staged path
    *    ends with the code digest, but the sweep must not depend on a
    *    naming convention it doesn't own).
    *  - HELD LOCK: a `.lock` file some process currently HOLDS is never
    *    unlinked no matter how old — unlinking a held lock would let the
    *    next contender lock a fresh inode and break mutual exclusion
    *    (the tryLock probe below). A stale-digest lock nobody holds is
    *    inert (no future build opens that path) and is reaped.
    * Returns the deleted paths. */
  private[graft] def sweepStaleStagings(
      roots: Seq[java.nio.file.Path] = Seq(
        java.nio.file.Paths.get("/tmp"), sweepWarehouseRoot),
      maxAgeMillis: Long = stagingMaxAgeMillis,
      nowMillis: Long = System.currentTimeMillis()): Seq[java.nio.file.Path] = {
    val keep = logicDigest.take(8)
    val pat = java.util.regex.Pattern.compile("^graft_.+_([0-9a-f]{8})$")
    val lockPat = java.util.regex.Pattern.compile("^graft_.+_([0-9a-f]{8})\\.lock$")
    def olderThanGuard(stamp: java.nio.file.Path): Boolean =
      try nowMillis - java.nio.file.Files.getLastModifiedTime(stamp)
        .toMillis > maxAgeMillis
      catch { case _: java.io.IOException => false }
    // marker-fp keep guard: fp is written as "<logicDigest>:<inputFp>"
    def markedByThisBuild(marker: java.nio.file.Path): Boolean =
      readMarker(marker).exists { m =>
        Option(m.getProperty("fp")).exists(_.startsWith(logicDigest))
      }
    // held-lock probe AND reap in one step: tryLock must SUCCEED, and the
    // unlink happens WHILE the probe lock is held — releasing first would
    // re-open the window this guard closes (a contender locking between
    // probe and unlink gets its inode deleted under it). An
    // OverlappingFileLockException means THIS JVM holds it (a same-process
    // hold is a hold); a null return means another process does.
    // TOMBSTONE (r15, closes the r14 residual): a contender that OPENED
    // the file before our unlink but locks after our release would
    // acquire an orphaned inode — so before unlinking, the reaper writes
    // the LockTombstone marker INTO the file through the held channel.
    // The mark is inode-bound, not path-bound: the stuck contender's fd
    // references exactly the inode we mark, and [[withBuildLock]]
    // re-checks for the mark after every acquisition, detecting the
    // orphan and retrying on a fresh open. Live lock files are created
    // empty and no live protocol writes them, so the mark can only mean
    // "this inode was reaped".
    def reapLockWhileHeld(lock: java.nio.file.Path): Boolean =
      try {
        val ch = java.nio.channels.FileChannel.open(lock,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.tryLock()
          if (l == null) false
          else try {
            ch.write(java.nio.ByteBuffer.wrap(LockTombstone), 0L)
            ch.force(false)
            java.nio.file.Files.deleteIfExists(lock)
            true
          }
          finally l.release()
        } finally ch.close()
      } catch {
        case _: java.nio.channels.OverlappingFileLockException => false
        case _: java.io.IOException => false
      }
    roots.filter(java.nio.file.Files.isDirectory(_)).flatMap { root =>
      val st = java.nio.file.Files.list(root)
      val entries = try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        finally st.close()
      entries.flatMap { p =>
        val nm = p.getFileName.toString
        val m = pat.matcher(nm)
        val lm = lockPat.matcher(nm)
        if (java.nio.file.Files.isDirectory(p) && m.matches() && m.group(1) != keep) {
          val marker = p.resolve(StagingMarkerName)
          val stamp = if (java.nio.file.Files.exists(marker)) marker else p
          if (olderThanGuard(stamp) && !markedByThisBuild(marker)) {
            // best-effort: an undeletable or concurrently-mutating stale
            // path (foreign owner, writer re-creating files mid-walk) must
            // not abort the entry point that volunteered to GC it
            try { graft.etl.Context.deleteRecursively(p); Some(p) }
            catch { case scala.util.control.NonFatal(_) => None }
          } else None
        } else if (java.nio.file.Files.isRegularFile(p) && lm.matches() &&
            lm.group(1) != keep && olderThanGuard(p)) {
          // the unlink happens inside the probe-lock hold — see
          // reapLockWhileHeld
          if (reapLockWhileHeld(p)) Some(p) else None
        } else None
      }
    }
  }

  /** Entry-point startup hook (Bench/Verify/TimeQuery/ScaleProbe call
    * this first): forces [[logicDigest]] eagerly — a launcher that loads
    * graft classes without a code-source location fails HERE with
    * launcher context instead of bricking the first staged query
    * mid-run — then sweeps stale stagings so strandings are reaped at
    * the same cadence they are created. */
  private[graft] def initStaging(): Unit = {
    logicDigest: Unit
    sweepStaleStagings(): Unit
  }

  /** Refresh a reused staging's marker mtime — the liveness signal
    * [[sweepStaleStagings]]'s age guard reads, so an actively-consumed
    * staging is never reaped no matter how old its build is. */
  private def touchMarker(p: java.nio.file.Path): Unit =
    try java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }

  /** Serialize COLD builds of one staging across processes: two fresh
    * JVMs of the SAME build and input (Verify and Bench launched in
    * parallel) both see a missing marker, and unserialized both would
    * `mode("overwrite")` the same path — one deleting files the other is
    * mid-scan on. An exclusive sibling `.lock` file (OS-level
    * `FileChannel.lock`, released on process death) admits one builder;
    * the loser re-checks the marker after acquiring and finds the
    * winner's completed staging. The 100 TB analogue is the table
    * format's commit protocol — single committer, readers never see a
    * partial snapshot. */
  /** The inode-bound reap marker [[sweepStaleStagings]] writes into a
    * lock file (through the held channel) just before unlinking it, and
    * [[withBuildLock]] checks for after every acquisition — a lock
    * acquired on a tombstoned inode is an orphan (the path was unlinked,
    * possibly recreated by another contender) and must be retried on a
    * fresh open. Live lock files are created empty and never written. */
  private[graft] val LockTombstone: Array[Byte] =
    "GRAFT_LOCK_REAPED".getBytes("UTF-8")

  /** Reads back whether a channel's INODE carries the reap tombstone —
    * the post-acquisition check that closes the r14 orphan window. */
  private def isTombstoned(ch: java.nio.channels.FileChannel): Boolean = {
    val buf = java.nio.ByteBuffer.allocate(LockTombstone.length)
    val n = ch.read(buf, 0L)
    n == LockTombstone.length &&
      java.util.Arrays.equals(buf.array(), LockTombstone)
  }

  /** Crash-leftover cleanup: if the PATH still resolves to a tombstoned
    * file (a sweeper died between its tombstone write and its unlink),
    * reap it with the sweep's own while-held discipline — unlink only
    * while holding the file's lock, and only when the content proves the
    * inode dead. A tombstoned inode is dead to every protocol
    * participant by construction, so this unlink can never break live
    * mutual exclusion; a fresh live file at the path reads no tombstone
    * and is left alone. */
  private def reapIfTombstoned(p: java.nio.file.Path): Unit =
    try {
      val c = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ)
      try {
        val l = c.tryLock()
        if (l != null)
          try { if (isTombstoned(c)) java.nio.file.Files.deleteIfExists(p): Unit }
          finally l.release()
      } finally c.close()
    } catch {
      case _: java.nio.channels.OverlappingFileLockException => ()
      case _: java.io.IOException => ()
    }

  private[graft] def withBuildLock[A](path: String)(body: => A): A = {
    val lockPath = java.nio.file.Paths.get(path + ".lock")
    if (lockPath.getParent != null)
      java.nio.file.Files.createDirectories(lockPath.getParent)
    // retry loop: an acquisition that lands on a tombstoned inode (the
    // sweep reaped the path between our open and our lock — the r14
    // "orphaned inode" residual, now structurally detected) is released
    // and re-tried; the fresh open either creates a new live file or
    // joins the current holder's inode. The guarded reap between passes
    // clears a crashed sweeper's leftover tombstoned file, so the loop
    // cannot spin on one dead inode.
    while (true) {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ)
      try {
        val l = ch.lock()
        if (!isTombstoned(ch)) {
          // acquisition does not update mtime by itself — touch so a HELD
          // lock always looks fresh to the sweep's age guard (a stale-
          // digest lock is only reaped when no process has locked it for
          // the guard period)
          touchMarker(lockPath)
          try return body finally l.release()
        } else l.release()
      } finally ch.close()
      reapIfTombstoned(lockPath)
      Thread.`yield`()
    }
    throw new IllegalStateException("unreachable")
  }

  /** 8-hex digest of the input dir — keys every staged path and table
    * name, so a warm-up SF can never leak its staging into the timed
    * SF. */
  private def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Digest of the COMPILED graft classes — the builder-logic half of
    * every staging fingerprint. Cross-JVM staging reuse must key on the
    * code that BUILT a frame, not only on its inputs: the old manual
    * `StagingEpoch` constant relied on a round that edits a builder
    * remembering to bump it, and a forgotten bump would silently serve
    * a stale staged frame to every later JVM (the correctness gate
    * would stay green exactly when the stale frame matches the
    * unchanged oracle — high confusion cost, no alarm). Hashing the
    * deployed artifact itself removes the discipline: any recompile
    * that changes any graft class (builders, the library operators they
    * call, or just line-number tables) changes the digest and forces a
    * rebuild. That over-approximates — a comment edit rebuilds staging
    * too — but a spurious rebuild costs seconds once per (code, input)
    * while a stale frame costs a wrong investigation; and within fixed
    * code the steady state is unchanged: Verify, Bench, TimeQuery and
    * ScaleProbe JVMs all reuse each other's stagings. The production
    * analogue is keying staged artifacts on the deployed jar's content
    * hash / build id — exactly what this computes, resolved through the
    * classloader so sbt-forked tests and the direct `java -cp` launcher
    * agree (same classes directory ⇒ same digest). Falls back to the
    * jar bytes when running from an assembled jar. Cost: one walk of
    * the class tree per JVM (lazy val) — ~14 ms for the current
    * 2.9 MB / 265 files, noise against a single Spark job. */
  private[graft] lazy val logicDigest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val src = SparkEntry.getClass.getProtectionDomain.getCodeSource
    require(src != null && src.getLocation != null,
      "cannot locate the graft code source — staging reuse would be unkeyed")
    val root = java.nio.file.Paths.get(src.getLocation.toURI)
    if (java.nio.file.Files.isDirectory(root)) {
      val pkg = root.resolve("graft")
      val files = java.nio.file.Files.walk(pkg)
      try files.filter(java.nio.file.Files.isRegularFile(_))
        .sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .forEach { p =>
          md.update(root.relativize(p).toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(p))
        }
      finally files.close()
    } else md.update(java.nio.file.Files.readAllBytes(root))
    md.digest().map("%02x".format(_)).mkString
  }

  /** md5 hex over (relative path, size, mtime) of every file under the
    * named source tables — the cheap input-content fingerprint that keys
    * cross-JVM staging reuse. Any upstream rewrite (new files, appended
    * rows, touched mtimes) changes the fingerprint and forces a rebuild;
    * file stats never require reading data, so the probe is O(#files)
    * metadata calls — the same class of check a table format's snapshot
    * id gives at 100 TB. */
  private def inputFingerprint(dir: String, tables: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.sorted().toArray.foreach(q => walk(q.asInstanceOf[java.nio.file.Path]))
        finally st.close()
      } else md.update((p.toString + "|" + java.nio.file.Files.size(p) + "|" +
        java.nio.file.Files.getLastModifiedTime(p).toMillis + "\n").getBytes("UTF-8"))
    tables.sorted.foreach { t =>
      val p = java.nio.file.Paths.get(dir, s"$t.parquet")
      if (java.nio.file.Files.exists(p)) walk(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The staging marker sidecar: written AFTER a successful staging write
    * (so its presence certifies completion), underscore-prefixed (so
    * Spark's file index never reads it as data). */
  private def readMarker(p: java.nio.file.Path): Option[java.util.Properties] =
    if (!java.nio.file.Files.exists(p)) None
    else try {
      val props = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(p)
      try props.load(in) finally in.close()
      Some(props)
    } catch { case _: java.io.IOException => None }

  private def writeMarker(p: java.nio.file.Path, kv: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    val out = java.nio.file.Files.newOutputStream(p)
    try props.store(out, null) finally out.close()
  }

  /** Stage a derived frame to /tmp parquet once per (input content,
    * [[logicDigest]]) and read it back — the shared mechanics behind
    * every staged* helper: digest-keyed path, [[stagedRefs]] in-process
    * dedup, a marker-gated CROSS-JVM reuse probe ([[inputFingerprint]]
    * over `inputs` + `_SUCCESS`), and a plain columnar re-read for every
    * consumer. Staging is thereby paid once at ingest — the production
    * posture — instead of once per process; a mutated input dir changes
    * the fingerprint and rebuilds (EndToEndSpec pins both directions). */
  private def stagedParquet(s: SparkSession, dir: String, prefix: String,
      inputs: Seq[String])(build: => DataFrame): DataFrame = {
    // the CODE digest is part of the path, not only the marker: two
    // coexisting builds (the matched-A/B control-vs-treatment protocol
    // runs exactly that) must never alternate-clobber one /tmp location
    // — distinct paths let each build keep its staging warm, and a
    // mid-scan delete by a DIFFERENT build's JVM becomes impossible.
    // Two cold JVMs of the SAME build remain a race, which is what the
    // build lock below serializes.
    val path = s"/tmp/graft_${prefix}_${dirDigest(dir)}_${logicDigest.take(8)}"
    val marker = java.nio.file.Paths.get(path, StagingMarkerName)
    if (stagedRefs.add(path)) {
      try {
        val fp = logicDigest + ":" + inputFingerprint(dir, inputs)
        def reusable = readMarker(marker).exists(_.getProperty("fp") == fp) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))
        if (!reusable) withBuildLock(path) {
          // double-checked: the lock's previous holder may have completed
          // this exact staging while we waited
          if (!reusable) {
            build.write.mode("overwrite").parquet(path)
            writeMarker(marker, Map("fp" -> fp))
            // a rebuild at an EXISTING path is the one case where the
            // path's schema may change within this JVM — drop the cached
            // inferred schema so the re-read below re-infers
            graft.sources.Tables.invalidateSchema(path)
          }
        }
      } catch { case t: Throwable =>
        // un-poison on failure: a half-written staging must not satisfy
        // this JVM's later fast-path accesses (they would read partial
        // part-files with no rebuild possible) — drop the ref so the next
        // access re-probes and rebuilds
        stagedRefs.remove(path); throw t
      }
    }
    // liveness touch on EVERY access, not only the fresh-JVM probe: the
    // GC age guard reads the marker mtime, and a long-lived JVM reusing
    // through the in-process fast path must keep its staging out of a
    // coexisting build's sweep
    touchMarker(marker)
    // schema-cached read (Tables.parquet): a bare read re-infers the
    // schema with a ~20 ms driver footer job on EVERY staged-frame
    // access — a pure-metadata cost the bench paid hundreds of times
    // per pass (r16; rationale at Tables.schemaCache)
    graft.sources.Tables.parquet(s, path)
  }

  /** The registered catalog name for a staged bucketed table: the
    * caller's base name plus the code-digest suffix ([[stagedParquet]]'s
    * coexistence rule). Name-returning helpers and tests resolve through
    * this so the suffix never drifts. */
  private[graft] def stagedTableName(name0: String): String =
    s"${name0}_${logicDigest.take(8)}"

  /** Eagerly reclaim a PROBE-ONLY staging (r14 ADVICE: ScaleProbe's
    * b16t/b32t experiment tables carry the current code digest, so the
    * sweep's keep-by-digest rule preserves them until the NEXT recompile
    * plus the age-out — silent disk growth on probe hosts). Drops the
    * catalog entry, deletes the staging location (files + marker + lock
    * sibling), and forgets the in-process ref so a later same-JVM call
    * rebuilds cleanly. Probe cells call this in their `finally`. */
  private[graft] def dropProbeStaging(s: SparkSession, name0: String): Unit = {
    val name = stagedTableName(name0)
    try s.sql(s"DROP TABLE IF EXISTS $name"): Unit
    catch { case scala.util.control.NonFatal(_) => () }
    val loc = warehousePathFromConf(
      s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).resolve(name)
    try graft.etl.Context.deleteRecursively(loc)
    catch { case scala.util.control.NonFatal(_) => () }
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(loc.toString + ".lock")): Unit
    catch { case scala.util.control.NonFatal(_) => () }
    stagedRefs.remove(name): Unit
  }

  /** Stage a derived frame as a BUCKETED managed table once per (input
    * content, [[logicDigest]]) — [[stagedParquet]]'s discipline for the
    * bucketed layouts. Cross-JVM reuse has one extra step: the session
    * catalog is in-memory, so a completed previous write survives only as
    * files; the probe re-registers the SAME bucket DDL over the existing
    * location (bucket ids live in the file names, so the layout metadata
    * reattaches losslessly) and verifies the marker's row count before
    * trusting it. Any mismatch — fingerprint, epoch, count — drops to a
    * full rebuild. */
  private def stagedBucketedTable(s: SparkSession, dir: String, name0: String,
      key: String, buckets: Int, inputs: Seq[String])
      (build: => DataFrame): DataFrame = {
    // same coexistence rule as stagedParquet: the table name (and so the
    // warehouse location) carries the code digest, so A/B trees never
    // alternate-clobber one staging
    val name = stagedTableName(name0)
    // EXTERNAL registration over the staging location — both on reuse and
    // right after a fresh build: an external table's DROP never deletes
    // the (marker-certified) files, so a catalog reset between the write
    // and a later probe can never destroy a valid staging; rebuilds
    // delete explicitly below.
    def register(schemaDdl: String, loc: java.nio.file.Path): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.sql(s"CREATE TABLE $name ($schemaDdl) " +
        s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
        s"INTO $buckets BUCKETS LOCATION '${loc.toUri}'")
    }
    // same decode as the sweep reader (warehousePathFromConf) — divergent
    // decoders would write stagings under a path the sweep never scans
    val loc = warehousePathFromConf(
      s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).resolve(name)
    val marker = loc.resolve(StagingMarkerName)
    if (stagedRefs.add(name)) {
      try {
        val fp = logicDigest + ":" + inputFingerprint(dir, inputs)
        // the bucket spec is PART of the layout contract: a staging written
        // under a different (key, buckets) must never re-register under the
        // caller's current DDL — bucket metadata would lie about the files
        // and silently corrupt every exchange-free join built on it
        def reused = readMarker(marker).exists { m =>
          m.getProperty("fp") == fp && m.getProperty("schema") != null &&
            m.getProperty("rows") != null && m.getProperty("key") == key &&
            m.getProperty("buckets") == buckets.toString && {
              register(m.getProperty("schema"), loc)
              s.table(name).count() == m.getProperty("rows").toLong || {
                s.sql(s"DROP TABLE IF EXISTS $name"); false
              }
            }
        }
        // the WHOLE probe runs under the lock (unlike stagedParquet's
        // marker-only probe): it has side effects — a register and a
        // verification count over the staged files — that must not race
        // a concurrent same-build rebuild deleting those files
        withBuildLock(loc.toString) {
          if (!reused) {
            s.sql(s"DROP TABLE IF EXISTS $name")
            graft.etl.Context.deleteRecursively(loc)
            // explicit path -> the table is born EXTERNAL at its staging
            // location (see writeBucketed): no managed-DROP can ever delete a
            // marker-certified staging out from under a later probe
            graft.sources.Tables.writeBucketed(build, name, key, buckets,
              Some(loc.toUri.toString))
            writeMarker(marker, Map("fp" -> fp,
              "rows" -> s.table(name).count().toString,
              "schema" -> s.table(name).schema.toDDL,
              "key" -> key, "buckets" -> buckets.toString))
          }
        }
      } catch { case t: Throwable =>
        // un-poison on failure (see stagedParquet)
        stagedRefs.remove(name); throw t
      }
    }
    // liveness touch on every access (see stagedParquet)
    touchMarker(marker)
    s.table(name)
  }

  /** Stage the q_cross_dedup_* reference corpus (doc_id < 400) as a
    * bucketed banding table, once per process and input dir — the table
    * name carries a digest of the dir so a warm-up SF can never leak its
    * staging into the timed SF. Returns the table name. */
  private def bucketedRefTable(s: SparkSession, dir: String): String = {
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
  private def bucketedJoinTables(s: SparkSession, dir: String): (String, String) = {
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
  private def stagedImageFingerprints(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "imgfp", Seq("documents"))(Multimodal.imageFingerprints(
      Multimodal.synthesizeGradientImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")))

  /** Stage the minhash near-dup pair set (char-5-gram shingles, 128
    * hashes, 16 bands, jaccard ≥ 0.5) once per (JVM, input dir): SIX
    * queries — pairs, clusters, keep-best, leakage-safe split, the
    * split-leakage audit, and the dup-flow matrix — consume the
    * IDENTICAL pair set, and at 100 TB
    * a dedup pipeline materializes its verified candidate pairs exactly
    * once (id-pair rows, tiny next to the corpus) for every downstream
    * consumer. Row-identical to deriving in place; all five oracles are
    * untouched. */
  private def stagedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "mhpairs", Seq("documents"))(Dedup.minhashNearDuplicates(
      t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5))

  /** Stage documents HIVE-PARTITIONED by lang once per (JVM, input
    * dir) — the standard 100 TB layout move for a column every query
    * filters on: `lang=en/` directories make the filter a PARTITION
    * filter, so a one-language query never opens the other languages'
    * files at all (directory-level pruning, cheaper than any row-group
    * zone map). q_partition_prune pins `PartitionFilters` non-empty in
    * its plan. */
  private def partitionedDocsPath(s: SparkSession, dir: String): String = {
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
  private def schemaDriftPaths(s: SparkSession, dir: String): (String, String) = {
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
  private def jsonlStagePath(s: SparkSession, dir: String): String = {
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
  private def orcStagePath(s: SparkSession, dir: String): String = {
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
  private def stagedGramIndex(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "grams", Seq("documents"))(
      Dedup.gramIndex(t(s, dir, "documents"), "doc_id", "text", k = 40))

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
  private def stagedPrefixDocs(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "prefixrank", Seq("documents"))(
      Dedup.dfRankedShingleDocs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3))

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
  private def stagedWebExtract(s: SparkSession, dir: String): DataFrame =
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
  private def stagedWebProducts(s: SparkSession, dir: String): DataFrame =
    stagedParquet(s, dir, "webprod", Seq("documents")) {
      graft.ext.WebText.extractAll(webPages(s, dir), "doc_id", "html",
        "corp.example.com")
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
  private def stagedWebLinks(s: SparkSession, dir: String): DataFrame =
    stagedWebProducts(s, dir)
      .select(col("doc_id"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("l.href").as("href"),
        col("l.url_norm").as("url_norm"), col("l.domain").as("domain"))

  /** The (page, normalized target, anchor text) pair table STAGED once
    * per (input content, code digest) — the anchor-level extraction
    * product ([[graft.ext.WebText.anchorPairs]] semantics, served from
    * the combined build's `anchors` array); q_anchor_stats is the
    * rollup over it. */
  private def stagedWebAnchors(s: SparkSession, dir: String): DataFrame =
    stagedWebProducts(s, dir)
      .select(col("doc_id"), explode(col("anchors")).as("a"))
      .select(col("doc_id"), col("a.url_norm").as("url_norm"),
        col("a.anchor_text").as("anchor_text"))

  /** q_er_pipeline's dirty-record fixture (every 4th part gains a
    * noised duplicate listing) — built inline by consumers; cheap
    * (one scan + one filtered projection), but the SORT RANKS over it
    * are not: see [[stagedErRanks]]. */
  private def erRecords(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def stagedErRanks(s: SparkSession, dir: String): (DataFrame, DataFrame) = (
    stagedParquet(s, dir, "errankname", Seq("part"))(
      Dedup.sortedNeighborhoodRanked(erRecords(s, dir), "name", "rec_id",
        payload = Seq("name"))),
    stagedParquet(s, dir, "errankpkey", Seq("part"))(
      Dedup.sortedNeighborhoodRanked(
        erRecords(s, dir).withColumn("pkey",
          array_join(slice(split(col("name"), " "), 1, 3), " ")),
        "pkey", "rec_id", payload = Seq("name"))))

  /** Force EVERY staged artifact for `dir` — the ingest pass Bench runs
    * before its timed loop so the official board is staging-state-
    * independent: whether the last commit rotated [[logicDigest]] no
    * longer decides if a timed pass pays a full staging rebuild (the
    * build cost is reported as its own `staging_build_sec` metric
    * instead). Keep this list in sync with the staged helpers above —
    * a missing entry only degrades the split (the timed pass rebuilds
    * that one artifact in pass 1, min-of-two still hides it), never
    * correctness. */
  private[graft] def prestageAll(s: SparkSession, dir: String): Unit = {
    stagedCoPurchaseSym(s, dir); stagedBaskets(s, dir)
    stagedBipartiteEdges(s, dir); stagedAbrCum(s, dir)
    stagedPriceCounts(s, dir); stagedExactNeighbors(s, dir)
    stagedIvf16(s, dir); stagedIvfPq(s, dir)
    bucketedRefTable(s, dir); bucketedJoinTables(s, dir)
    stagedImageFingerprints(s, dir); stagedMinhashPairs(s, dir)
    partitionedDocsPath(s, dir); schemaDriftPaths(s, dir)
    jsonlStagePath(s, dir); orcStagePath(s, dir)
    stagedGramIndex(s, dir); stagedPrefixDocs(s, dir)
    stagedWebProducts(s, dir); stagedErRanks(s, dir)
    ()
  }

  /** approx_percentile accuracy for the *_approx scale twins: rank error
    * ≤ n/accuracy per group. 10k keeps sketch memory a few hundred KB per
    * group regardless of domain cardinality — the continuous-column
    * production setting the exact twins cannot offer. */
  private val PctSketchAccuracy = 10000

  /** Rank-error audit for one approx_percentile output — the
    * oracle-decidable boolean the *_approx twins emit in place of the
    * engine-specific sketch value. The GK sketch contract: the returned
    * value (always an observed value) occupies a sorted rank within
    * eps*n of the target p*n, eps = 1/accuracy. `below`/`atOrBelow` are
    * the EXACT counts of rows strictly below / at-or-below the sketch
    * value, so the value occupies 1-indexed ranks [below+1, atOrBelow];
    * the audit passes iff that interval intersects [p*n - tol, p*n + tol]
    * with tol = 2*eps*n + 1 (doubled, plus one rank, to absorb the
    * engine's target-rank rounding convention). The oracle side emits
    * literal TRUE — a broken sketch flips the Spark boolean and fails
    * the hash. */
  private def sketchRankOk(below: org.apache.spark.sql.Column,
      atOrBelow: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column, p: Double): org.apache.spark.sql.Column = {
    val tol = lit(2.0d / PctSketchAccuracy) * n.cast("double") + lit(1.0d)
    val target = lit(p) * n.cast("double")
    (atOrBelow.cast("double") >= target - tol) &&
      ((below + lit(1L)).cast("double") <= target + tol)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_snowflake_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational parity (SURVEY §2.3-2.8) ----------------

    // A5/W1-adjacent headline aggregation (TPC-H Q1 shape)
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P6/P7 projection + predicate (pushed to the parquet scan)
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // F8/P6 timestamp-range predicate (partition/rowgroup pruning shape)
    "q_date_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),

    // F1 sanitize every string column (engine normalization step)
    "q_sanitize" -> ((s, dir) => {
      Normalize.sanitizeStrings(t(s, dir, "documents"))
        .select(col("doc_id"), md5(col("text")).as("text_hash"),
          length(col("text")).cast("long").as("n_chars_clean"))
    }),

    // F2/F3 split + array-join (List[Utf8] flatten path)
    "q_array_join" -> ((s, dir) => {
      val parts = t(s, dir, "customer")
        .select(col("c_custkey"), split(col("c_name"), " ").as("parts"))
      Normalize.joinStringArrays(parts).select(col("c_custkey"), col("parts"))
    }),

    // F3/F4 split + explode + aggregate
    "q_split_explode" -> ((s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_type"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    }),

    // A1 dedup-on-key with deterministic (min-id) representative
    "q_dedup_keyed" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderkey")).as("first_order"), count(lit(1)).as("n_orders"))
    }),

    // U2 distinct projection
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")).distinct()
    }),

    // A5 hierarchical aggregation (rollup: per-group, subtotal, grand total)
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // A5 full grouping-sets lattice (cube: group, both subtotals, total)
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // exact percentiles (sort-based aggregate, linear interpolation).
    // Interpolated quantiles are rounded to 6 dp before emission: the raw
    // doubles agree with quantile_cont only up to summation/interpolation
    // ULPs, and a hash match must not hinge on bit-identical interpolation
    "q_percentile" -> ((s, dir) => {
      // histogram pushdown, per column: the quantity cuts fold the fact
      // rows to a (flag, quantity, cnt) table first (l_quantity has 50
      // distinct values — the reduce-side buffer holds 50 weighted
      // entries instead of every row), the price median rides the SAME
      // staged value-count frame as q_winsorize/q_mad_outliers; both use
      // percentile's frequency argument, which replays the multiset
      // exactly. One shared value buffer for both l_quantity cuts (the
      // q_winsorize array-fold rationale); the final join is 3×3 rows.
      val dq = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.5D, 0.9D), cnt)").as("qpc"))
      val dp = stagedPriceCounts(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5D, cnt)"), 6).as("price_p50"))
      dq.join(dp, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("qpc").getItem(0), 6).as("p50"),
          round(col("qpc").getItem(1), 6).as("p90"),
          col("price_p50"))
    }),

    // robust-stats winsorization: per-group p05/p95 caps (exact percentile
    // — quantile_cont parity like q_percentile; approx_percentile is the
    // continuous-domain scale path), broadcast back onto the fact table,
    // heavy tail clipped before the money sum. The "cap outliers before
    // aggregating" curation step; caps are a tiny per-group frame so the
    // clip pass is a broadcast join, never a fact-table shuffle.
    "q_winsorize" -> ((s, dir) => {
      // caps rounded to 6 dp BEFORE the clip: every downstream comparison
      // then runs on decimals both engines reconstruct identically, instead
      // of leaning on bit-identical quantile interpolation (a latent ULP
      // flake at clip boundaries otherwise).
      // ONE percentile(…, array(0.05, 0.95), cnt) call over the staged
      // value-count frame: two scalar percentile aggregates each buffer
      // the group's full value multiset — the array form shares one
      // buffer, the frequency argument feeds it the collapsed histogram,
      // and the clip pass is the SAME tiny frame re-read with the caps
      // broadcast on (integer-cents × cnt keeps the money sums
      // order-independent and bit-identical to the row form)
      val d = stagedPriceCounts(s, dir)
      val caps = d.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.05D, 0.95D), cnt)").as("pc"))
        .select(col("l_returnflag"),
          round(col("pc").getItem(0), 6).as("lo"),
          round(col("pc").getItem(1), 6).as("hi"))
      d.join(broadcast(caps), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("cnt"),
          greatest(col("lo"), least(col("hi"), col("l_extendedprice"))).as("clipped"),
          col("l_extendedprice"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("cnt")).as("n"),
             (sum(cents(col("clipped")) * col("cnt")).cast("double")
               / lit(100.0d)).as("clipped_sum"),
             (sum(cents(col("l_extendedprice")) * col("cnt")).cast("double")
               / lit(100.0d)).as("raw_sum"))
    }),

    // skew-mitigated join: the fact side is salted into (key, salt) and
    // the dimension replicated per salt — the ORACLE is the PLAIN join, so
    // the hash match proves salting is semantics-preserving, row for row
    "q_salted_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(orders, cust, "o_custkey", saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    }),

    // token-budget mixture planning: per-source corpus token counts vs a
    // 1B-token target under explicit mixture weights — "how many epochs of
    // each source does this mixture imply" (upsampled sources epoch > 1)
    // tokenizer-faithful token counts: byte-level BPE (Sennrich 2016)
    // trained deterministically on a BOUNDED fixture sample (doc_id < 50
    // — a constant-size collect, the sample-based vocab training every
    // production tokenizer uses), then applied per-row as a native
    // expression. The oracle REPLAYS TRAINING ITSELF in SQL — 24 chained
    // argmax + replace stages over the comma-wrapped hex rendering, where
    // one `replace()` is exactly one left-to-right merge pass — then
    // re-tokenizes every document with the learned merges, so the merge
    // table and the counts are both value-checked (graft.functions.Bpe
    // has the determinism contract).
    "q_bpe_tokens" -> ((s, dir) => {
      val sample = t(s, dir, "documents")
        .where(col("doc_id") < 50 && col("text").isNotNull && length(col("text")) > 0)
        .select(col("text")).collect().map(_.getString(0)).toSeq
      val merges = graft.functions.Bpe.train(sample, numMerges = 24)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.Bpe.tokenCount(col("text"), merges).as("n_bpe_tokens"))
    }),

    // sequence packing on the REAL token budget: same concat-and-chunk
    // layout as q_pack_sequences, but the per-doc counts are the
    // byte-level BPE tokenizer's (trained on the same bounded sample as
    // q_bpe_tokens) — the budget a production packer actually fills
    // sequences against, not a whitespace proxy. One user window pass
    // per source shard; the oracle replays training, tokenization AND
    // the cumulative layout
    "q_pack_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sample = docs
        .where(col("doc_id") < 50 && col("text").isNotNull && length(col("text")) > 0)
        .select(col("text")).collect().map(_.getString(0)).toSeq
      val merges = graft.functions.Bpe.train(sample, numMerges = 24)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.select(col("doc_id"), col("source"),
          graft.functions.Bpe.tokenCount(col("text"), merges)
            .cast("long").as("n_tokens"))
        .where(col("n_tokens").isNotNull && col("n_tokens") > 0)
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_id", expr("cum_before div 2048"))
        .withColumn("offset", col("cum_before") % 2048)
        .drop("cum_before")
    }),

    // tokenizer fertility per language — BPE tokens per whitespace word,
    // THE multilingual-tokenizer QC number (a language with fertility 3×
    // another pays 3× the context budget for the same text; the standard
    // audit before fixing a vocab). Same deterministically-trained merge
    // table as q_bpe_tokens; integer sums, one division per lang row
    "q_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sample = docs
        .where(col("doc_id") < 50 && col("text").isNotNull && length(col("text")) > 0)
        .select(col("text")).collect().map(_.getString(0)).toSeq
      val merges = graft.functions.Bpe.train(sample, numMerges = 24)
      docs.where(col("text").isNotNull)
        .select(col("lang"),
          graft.functions.Bpe.tokenCount(col("text"), merges).cast("long").as("bpe"),
          TF.tokenCount(col("text")).cast("long").as("ws"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bpe")).as("bpe_tokens"),
          sum(col("ws")).as("ws_tokens"))
        .withColumn("fertility",
          when(col("ws_tokens") > 0,
            col("bpe_tokens").cast("double") / col("ws_tokens").cast("double")))
    }),

    "q_token_budget" -> ((s, dir) => {
      val weighted = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
        // the residual 0.50 is split across however many non-pinned sources
        // EXIST, not a hardcoded count — a corpus gaining/losing a source
        // must keep the weights summing to 1. The source count arrives as
        // a broadcast 1-row aggregate over the per-source rollup (r16 —
        // the former global window moved the bounded rollup to one
        // partition anyway, but the aggregate form keeps the plan free of
        // single-partition window stages; identical integer count)
        .crossJoin(broadcast(
          t(s, dir, "documents").groupBy(col("source"))
            .agg(count(lit(1)).as("__dropme"))
            .agg(count(lit(1)).as("__n_src"))))
        .withColumn("weight",
          when(col("source") === "src0", 0.30)
            .when(col("source") === "src1", 0.20)
            .otherwise(lit(0.50) / (col("__n_src") - lit(2)).cast("double")))
        .drop("__n_src")
      weighted
        .withColumn("target_tokens", col("weight") * lit(1.0e9))
        .withColumn("epochs",
          col("target_tokens") / col("n_tokens").cast("double"))
    }),

    // robust outlier detection: median ± 3·MAD per group (the
    // outlier-resistant z-score — one extreme row cannot drag the gate the
    // way it drags a mean/stddev gate). Exact two-level percentile for
    // quantile_cont parity; both tiny stat frames broadcast back, the fact
    // table is never shuffled. Scale path: approx_percentile, like
    // q_winsorize.
    "q_mad_outliers" -> ((s, dir) => {
      // med/mad rounded to 6 dp before the gate AND the output: the ±3·MAD
      // comparison and the emitted stats then run on decimals both engines
      // reconstruct identically (same ULP rationale as q_winsorize's caps).
      // All three stages (median, deviation median, outlier audit) are
      // weighted statistics over the SAME staged value-count frame — one
      // lineitem scan ever (paid by the staging), where the row form
      // re-scanned the fact table per stage
      val d = stagedPriceCounts(s, dir)
      val med = d.groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5D, cnt)"), 6).as("med"))
      val dev = d.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("absdev", abs(col("l_extendedprice") - col("med")))
      val caps = dev.groupBy(col("l_returnflag"))
        .agg(min(col("med")).as("med"),
             round(expr("percentile(absdev, 0.5D, cnt)"), 6).as("mad"))
      d.join(broadcast(caps), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(abs(col("l_extendedprice") - col("med")) > lit(3.0) * col("mad"),
            col("cnt")).otherwise(lit(0L))).as("n_outliers"),
          min(col("med")).as("med"), min(col("mad")).as("mad"))
    }),

    // the SCALE twins of q_winsorize / q_mad_outliers: identical
    // broadcast-clip plans, but the caps come from approx_percentile's
    // bounded sketch (rank error ≤ 1/accuracy) instead of the exact
    // sort-based percentile whose buffer holds every distinct value per
    // group — on a CONTINUOUS column at 100 TB that buffer is the whole
    // column, the sketch stays O(accuracy). Sketch output is
    // engine-specific (no quantile_cont parity possible), so instead of
    // the raw caps the query emits the ORACLE-DECIDABLE contract: the
    // exact per-group aggregates (which DuckDB recomputes) plus one
    // [[sketchRankOk]] boolean per cap — the sketch value's exact rank
    // sat within the published eps*n bound. The clipped output itself is
    // value-checked by the exact twin; this twin value-checks the SKETCH.
    "q_winsorize_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val caps = li.groupBy(col("l_returnflag"))
        .agg(expr(s"approx_percentile(l_extendedprice, 0.05, $PctSketchAccuracy)").as("lo"),
             expr(s"approx_percentile(l_extendedprice, 0.95, $PctSketchAccuracy)").as("hi"))
      li.join(broadcast(caps), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice")).as("raw_sum"),
             sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("__blo"),
             sum(when(col("l_extendedprice") <= col("lo"), 1L).otherwise(0L)).as("__elo"),
             sum(when(col("l_extendedprice") < col("hi"), 1L).otherwise(0L)).as("__bhi"),
             sum(when(col("l_extendedprice") <= col("hi"), 1L).otherwise(0L)).as("__ehi"))
        .select(col("l_returnflag"), col("n"), col("raw_sum"),
          sketchRankOk(col("__blo"), col("__elo"), col("n"), 0.05).as("lo_within_bound"),
          sketchRankOk(col("__bhi"), col("__ehi"), col("n"), 0.95).as("hi_within_bound"))
    }),

    "q_mad_outliers_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr(s"approx_percentile(l_extendedprice, 0.5, $PctSketchAccuracy)").as("med"))
      val dev = li.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("absdev", abs(col("l_extendedprice") - col("med")))
      val caps = dev.groupBy(col("l_returnflag"))
        .agg(min(col("med")).as("med"),
             expr(s"approx_percentile(absdev, 0.5, $PctSketchAccuracy)").as("mad"))
      // the MAD audit runs within the absdev distribution the sketch med
      // induces — self-consistent by construction, so the oracle never
      // needs either sketch value
      li.join(broadcast(caps), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("med"), 1L).otherwise(0L)).as("__bm"),
          sum(when(col("l_extendedprice") <= col("med"), 1L).otherwise(0L)).as("__em"),
          sum(when(abs(col("l_extendedprice") - col("med")) < col("mad"), 1L)
            .otherwise(0L)).as("__bd"),
          sum(when(abs(col("l_extendedprice") - col("med")) <= col("mad"), 1L)
            .otherwise(0L)).as("__ed"))
        .select(col("l_returnflag"), col("n"),
          sketchRankOk(col("__bm"), col("__em"), col("n"), 0.5).as("med_within_bound"),
          sketchRankOk(col("__bd"), col("__ed"), col("n"), 0.5).as("mad_within_bound"))
    }),

    // NTILE length-bucketing: docs deciled by token count within each
    // source — the batch-packing prep step (equal-population buckets so
    // similar-length docs batch together). Deterministic via the
    // (n_tokens, doc_id) tie-break; one window shuffle on source.
    "q_length_buckets" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_tokens"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"))
        .where(col("n_tokens").isNotNull)
        .withColumn("bucket", ntile(10).over(w).cast("long"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("n_tokens")).as("min_tokens"),
             max(col("n_tokens")).as("max_tokens"))
    }),

    // event-time sliding frame: per-flag daily revenue with a 7-day moving
    // sum (RANGE frame over days; window partitioned by flag — no global
    // single-partition sort)
    "q_moving_sum" -> ((s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), date_trunc("day", col("l_shipdate")).as("day"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(unix_date(col("day").cast("date")))
        .rangeBetween(-6, 0)
      daily
        .withColumn("mov7_rev", (sum(col("rev_c")).over(w)).cast("double") / lit(100.0d))
        .select(col("l_returnflag"), col("day"), col("mov7_rev"))
    }),

    // A5 distinct aggregation (exact; the approx/HLL variant is
    // approx_count_distinct over the same plan shape)
    "q_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    // A5 sketch aggregation: HyperLogLog++ approximate distinct counts.
    // Sketch estimates are engine-specific (DuckDB's HLL yields different
    // numbers), so the query emits the ORACLE-DECIDABLE contract instead
    // of the raw estimate: the exact count (which DuckDB recomputes) plus
    // `within_bound` — the estimate sat within 3 standard deviations
    // (3 x rsd 0.02 = 6%) of the exact count. The estimate is still
    // computed by the sketch in the same pass; only the boolean escapes,
    // so a broken sketch flips the hash. The production path at 100 TB is
    // the sketch alone — the exact side here is the verification harness
    // (same posture as q_winsorize_approx's rank-error audit).
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("__approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")).cast("double") <=
            lit(0.06d) * col("exact_parts").cast("double")).as("within_bound"))
    }),

    // A5 explicit GROUPING SETS (the general lattice rollup/cube specialize)
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |""".stripMargin)
    }),

    // ordered string aggregation per group (deterministic listagg)
    "q_string_agg" -> ((s, dir) => {
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
    }),

    // date-part extraction + aggregate
    "q_date_parts" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),

    // HAVING-style post-aggregation filter
    "q_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
        .where(col("n_orders") >= 12)
    }),

    // correlated scalar subquery — Catalyst decorrelates it into one
    // aggregate + join (RewriteCorrelatedScalarSubquery), so the per-row
    // "compare to my group's average" never becomes a nested loop; the
    // average is the exact cents-sum idiom so both engines gate on
    // bit-identical doubles
    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_ssq")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM graft_orders_ssq o
          |WHERE o_totalprice > 1.5e0 * (
          |  SELECT cast(sum(cast(floor(o2.o_totalprice * 100.0 + 0.5) AS bigint)) AS double)
          |         / (100.0 * count(*))
          |  FROM graft_orders_ssq o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    }),

    // U1 vertical concat (unionByName) + aggregate
    "q_union" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_name").as("name"))
      val su = t(s, dir, "supplier").select(col("s_name").as("name"))
      c.unionByName(su)
        .groupBy(substring(col("name"), 1, 4).as("prefix"))
        .agg(count(lit(1)).as("n"))
    }),

    // J1 explicit id-mapping join (left-outer + coalesce, broadcast mapping)
    "q_mapping_join" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").cast("string").as("start"))
      val mapping = t(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("old_value"), col("c_name").as("new_value"))
      Mapping.applyMapping(edges, mapping, "start")
        .select(col("o_orderkey"), col("start"))
    }),

    // J2 automatic non-pk -> pk endpoint resolution
    "q_auto_map" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val edges = t(s, dir, "customer")
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("start"), col("n_name").as("end"))
      val mapping = Mapping.autoMapping(
        nation.select(col("n_nationkey").as("id"), col("n_name")), "id", "n_name")
      Mapping.applyMapping(edges, mapping, "end")
        .select(col("start").cast("long").as("start_id"), col("end").cast("long").as("end_id"))
    }),

    // J4 `match` strategy = endpoint existence (semi-join)
    "q_semi_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer").join(orders, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // J4 complement: endpoints with no match (anti-join / BlankNode source).
    // The anti side is the URGENT-order subset so the result is non-empty on
    // this testdata (every customer has SOME order) — a 0-row anti-join would
    // hash-match the oracle trivially and prove nothing.
    "q_anti_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer").join(urgent, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // W2 lag/lead analytics: per-user delta between consecutive event values
    "q_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("delta"))
    }),

    // J-family: full outer join (both unmatched sides survive)
    "q_full_outer" -> ((s, dir) => {
      val buyers = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("spent"))
        .where(col("spent") > 400000.0)
      val builders = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      builders.join(buyers, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("spent"))
    }),

    // U2 set intersection (distinct semantics)
    "q_intersect" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    }),

    // U2 set difference (distinct semantics). Both sides are priority slices
    // of the same table so the difference is non-empty on this testdata
    // (customer-vs-supplier nation keys fully overlap → 0 rows → a
    // trivially-true hash match).
    "q_except" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      orders.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
        .except(orders.where(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey").as("custkey")))
    }),

    // W1 deterministic sequential chunking (zipWithIndex path)
    "q_chunk" -> ((s, dir) => {
      Normalize.withChunkIds(t(s, dir, "orders"), 1000L)
        .groupBy(col("chunk")).agg(count(lit(1)).as("n"))
    }),

    // W2 ranked window top-k with id tie-break
    "q_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // W2 rank-family comparison: rank (with gaps) vs dense_rank over ties
    "q_rank_dense" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .where(col("drnk") <= 3)
        .groupBy(col("l_returnflag"), col("l_quantity"), col("rnk"), col("drnk"))
        .agg(count(lit(1)).as("n"))
    }),

    // W2 relative-position windows: percent_rank ((rank−1)/(n−1)) and
    // cume_dist (n_≤/n) are integer/integer IEEE divisions — bit-identical
    // across engines, no rounding needed; custkey tie-break makes ranks
    // deterministic under equal balances
    "q_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    }),

    // multi-join aggregation (lineitem ⋈ supplier ⋈ nation)
    "q_join_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q3 shape: selective dim filter + fact join + grouped revenue +
    // deterministic top-10 (rounded-cents revenue, orderkey tie-break)
    "q3_shipping" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // F9 JSON extraction (events.props payload) + aggregate
    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
    }),

    // range join: each purchase counts the same user's views in the
    // preceding hour (equi on user_id + range residual — sort-merge
    // friendly, never a cross join)
    "q_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      p.join(v, col("user_id") === col("v_user") &&
          col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("ts"), "left")
        .groupBy(col("event_id"))
        .agg(count(col("v_ts")).as("n_prior_views"))
    }),

    // pivot: per-user event-type count matrix (explicit value list so the
    // plan is a single aggregate — no distinct-values pre-pass)
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // scoped fill: an unqualified na.fill would also rewrite a NULL
        // group key to 0, diverging from the oracle's GROUP BY
        .na.fill(0L, Seq("view", "click", "purchase", "signup", "error"))
    }),

    // unpivot (wide→long melt, the inverse of q_pivot) feeding a per-column
    // data-quality profile: nulls, distinct count, lexicographic min/max
    // over a canonical string projection (longs/cents/formatted timestamps
    // — so both engines compare identical strings; doubles go through the
    // cents cast because raw double→string formatting differs per engine).
    // Spark's unpivot KEEPS null values (pinned in ExtSpec) and the oracle
    // long-form is explicit UNION ALL because DuckDB's UNPIVOT drops them.
    // Scale: unpivot is a per-row Expand (×n_cols, no shuffle); the profile
    // is one map-combined aggregation on the column name — 6 groups total
    "q_column_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        col("o_orderstatus"),
        floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("long")
          .cast("string").as("o_totalprice_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority"))
      // two-level aggregation instead of countDistinct: collapse to the
      // (col_name, value) histogram first (one map-combined exchange),
      // then every statistic is a weighted fold of the collapsed frame —
      // countDistinct's Expand duplicates the unpivoted rows through the
      // first aggregate, and min/max/null counts fold from histogram
      // cells identically (value IS the group key; count(value) skips the
      // null cell exactly like countDistinct did). Same histogram-
      // pushdown discipline as q_winsorize/q_percentile.
      o.unpivot(Array.empty[Column], o.columns.map(col), "col_name", "value")
        .groupBy(col("col_name"), col("value"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("col_name"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          sum(when(col("value").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
          count(col("value")).as("n_distinct"),
          min(col("value")).as("min_s"),
          max(col("value")).as("max_s"))
    }),

    // key-distribution diagnostic for a prospective join/shuffle key —
    // the decide-between-plain/AQE/salting number (one count-per-key
    // shuffle, single-row reduce)
    "q_skew_profile" -> ((s, dir) => {
      Skew.keySkewProfile(t(s, dir, "lineitem"), "l_partkey")
    }),

    // snowflake dimension chain (customer -> nation -> region), broadcast dims
    "q_snowflake_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
    }),

    // GraphX materialization: in-degree of part nodes in the order->part
    // edge set. (At 100 TB the same answer is a groupBy — GraphX is for the
    // iterative algorithms; this entry proves the materialization path.)
    "q_graph_degree" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val edgeRdd = li.select(col("l_orderkey"), col("l_partkey")).rdd
        .map(r => Edge(r.getLong(0) * 2, r.getLong(1) * 2 + 1, 1))
      val g = Graph.fromEdges(edgeRdd, 0)
      g.inDegrees
        .filter { case (vid, _) => vid % 2 == 1 }
        .map { case (vid, deg) => ((vid - 1) / 2, deg.toLong) }
        .toDF("node_id", "degree")
    }),

    // fixed-point integer PageRank (5 power iterations) over the symmetric
    // order<->part bipartite graph — the deterministic DataFrame twin of
    // the GraphX float path: micro-unit integer ranks, DIV-quantized edge
    // contributions, long sums — bit-identical in any engine, so the
    // iterative algorithm itself is value-checked (the oracle replays all
    // five iterations as staged CTEs)
    "q_pagerank" -> ((s, dir) => {
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
    }),

    // personalized PageRank on the same bipartite graph: teleport mass
    // concentrated on the seed parts (node % 100 = 1 — partkey ≡ 0 mod
    // 50), the query-dependent proximity rank recommendation systems use
    // where q_pagerank's uniform teleport measures global centrality.
    // Same integer fixed-point recurrence; all 5 rounds replayed as
    // staged CTEs in the oracle
    "q_ppr" -> ((s, dir) => {
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
    }),

    // HITS hubs/authorities on the DIRECTED order->part bipartite graph
    // (GraphOps.hitsFixedPoint — Kleinberg's two mutually-recursive
    // scores, which pagerank's single uniform-teleport rank cannot
    // express): 3 integer max-normalized rounds; authorities rank parts
    // by the hub quality of the orders citing them, hubs rank orders by
    // how authoritative their parts are. Rides the staged symmetric edge
    // table (forward direction = even src); every round replayed as
    // staged CTEs in the oracle
    "q_hits" -> ((s, dir) => {
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
    }),

    // per-part triangle counts over the co-purchase graph (parts sharing
    // >= 2 orders; see coPurchaseEdges for the basket-size cap that
    // bounds the projection's quadratic step). Triangle closure is
    // DEGREE-ORIENTED wedge closing — O(m^1.5) wedge volume regardless of
    // skew, equi-joins and integers end-to-end (GraphOps.triangleCounts)
    "q_triangles" -> ((s, dir) => {
      graft.graph.GraphOps.triangleCounts(stagedCoPurchaseSym(s, dir), "a", "b",
        assumeSymmetric = true)
    }),

    // min-label propagation communities over the same co-purchase graph:
    // 5 rounds of `label := min over neighbors∪self` — k-bounded connected
    // components, bit-deterministic (integer min), so the oracle replays
    // the recurrence round by round like q_pagerank's
    "q_label_prop" -> ((s, dir) => {
      graft.graph.GraphOps.labelPropagateMin(stagedCoPurchaseSym(s, dir), "a", "b",
        iterations = 5, assumeSymmetric = true)
        .select(col("node").as("node_id"), col("label").as("community"))
    }),

    // EXACT connected components on the co-purchase graph via alternating
    // large-star/small-star contraction (Kiveris et al. 2014): O(log n)
    // rounds on ANY topology, vs the min-label fixpoint twin
    // (connectedComponentsMin, cross-validated in GraphOpsSpec) whose
    // round count is the component diameter. Same deterministic
    // integer-min output; oracle = recursive reachability closure
    "q_components" -> ((s, dir) => {
      graft.graph.GraphOps.connectedComponentsStar(stagedCoPurchaseSym(s, dir), "a", "b",
        assumeSymmetric = true)
        .select(col("node").as("node_id"), col("label").as("component"))
    }),

    // hop-bounded BFS from the smallest co-purchase node: exact shortest
    // hop counts within 4 hops, as a fixed-iteration min-relax recurrence
    // (integers end-to-end, so the oracle replays the frontier expansion
    // with a bounded recursive CTE). The seed is a one-row aggregate over
    // the ONCE-materialized edge frame, never collected to the driver.
    "q_bfs_dist" -> ((s, dir) => {
      graft.graph.GraphOps.bfsFromMinNode(stagedCoPurchaseSym(s, dir), "a", "b",
        maxHops = 4, assumeSymmetric = true)
        .select(col("node").as("node_id"), col("hops"))
    }),

    // 3-truss of the co-purchase graph (edge-level cohesion, one notch
    // stronger than the k-core): peel every triangle-free edge to the
    // fixpoint, reporting survivors with in-truss support. Each round
    // re-derives the degree orientation on the shrinking edge set, so
    // the wedge join keeps its O(m^1.5) skew bound all the way down.
    // (k = 3 is the fixture-honest choice: the 4-truss of this graph is
    // EMPTY — almost no co-purchase edge sits in two triangles — and an
    // empty oracle row set certifies nothing; the K4 cascade at k = 4/5
    // is pinned in GraphOpsSpec instead.)
    "q_k_truss" -> ((s, dir) => {
      // the oracle unrolls exactly 3 peel rounds — if a fixture ever
      // needs a deeper peel the two engines would silently diverge, so
      // assert the measured depth against the oracle's unroll here
      val (truss, rounds) = graft.graph.GraphOps.kTrussWithRounds(
        stagedCoPurchaseSym(s, dir), "a", "b", k = 3, assumeSymmetric = true)
      require(rounds <= 3, s"q_k_truss peeled $rounds rounds but the " +
        "oracle unrolls only 3 — deepen the oracle CTE before trusting this fixture")
      truss
    }),

    // sampled harmonic closeness centrality (Eppstein-Wang estimator
    // shape): per-source BFS from an md5-gated ~3% node sample,
    // distances truncated at 4 hops, the harmonic sum computed
    // fraction-free as Σ 12/d integers + ONE final division — no float
    // summation order to disagree on. Sample size and hop cap are the
    // two explicit scale knobs; the frontier is (seed, node)-keyed
    "q_closeness" -> ((s, dir) => {
      val edges = stagedCoPurchaseSym(s, dir)
      // the symmetric closure's `a` column already covers every endpoint
      // (self-loops included), so the seed domain is ONE exchange-free
      // distinct over the bucket key instead of a two-sided union
      val seeds = edges.select(col("a").as("seed")).distinct()
        .where(graft.functions.HashFunctions
          .md5PrefixLong("cc:", col("seed"), 8) % 29 === 0)
      graft.graph.GraphOps.harmonicCloseness(edges, "a", "b", seeds, maxHops = 4,
        assumeSymmetric = true)
    }),

    // 3-core of the co-purchase graph by distributed batch peeling
    // (membership + in-core degree): a deterministic set fixpoint —
    // integers, no tie-breaks — so the oracle replays the peel as 16
    // unrolled CTE rounds (the fixture's measured peeling depth is 10;
    // past the fixpoint further peels are provable no-ops)
    "q_k_core" -> ((s, dir) => {
      graft.graph.GraphOps.kCore(stagedCoPurchaseSym(s, dir), "a", "b", k = 3,
        assumeSymmetric = true)
        .select(col("node_id"), col("core_degree"))
    }),

    // ---------------- LLM-pipeline extensions (north star) ----------------

    // exact dedup groups (hash-groupBy, deterministic min-id keeper)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicateGroups(t(s, dir, "documents"), "doc_id", Seq("text"))
    }),

    // text metrics per document (single codegen'd scan; the oracle covers
    // the engine-portable subset of the profile columns)
    "q_text_profile" -> ((s, dir) => {
      TextAnalysis.profile(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_chars", "n_tokens", "n_bpeish_tokens",
          "punct_ratio", "digit_ratio", "upper_ratio")
    }),

    // corpus stats per language
    "q_corpus_stats" -> ((s, dir) => {
      TextAnalysis.corpusStats(t(s, dir, "documents"), "lang", "text")
    }),

    // content fingerprint (md5 over normalized text)
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
    }),

    // heuristic language-ID (stopword-argmax) vs labeled lang
    "q_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.detectLanguage(d, "doc_id", "text")
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // composite quality score (C4/Gopher-style heuristic) as a filter —
    // value-checked: the full formula is replicated in the oracle
    "q_quality_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .where(col("quality") >= 0.5)
    }),

    // PII redaction: emails then long digit runs -> typed placeholders
    "q_pii_scrub" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(TF.redactPii(col("text"))).as("redacted_hash"),
        TF.piiCount(col("text")).as("n_pii"))
    }),

    // document -> overlapping token windows (training-sequence chunking)
    "q_doc_chunks" -> ((s, dir) => {
      TextAnalysis.tokenWindows(t(s, dir, "documents"), "doc_id", "text",
        windowSize = 50, stride = 40)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_hash"))
    }),

    // per-doc top-3 salient terms (tf-idf ordering via integer df — exact)
    "q_top_terms" -> ((s, dir) => {
      TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    // top terms WITH the smoothed tf-idf score value (rank stays integer-
    // ordered so a last-bit ln() difference can never flip row order)
    "q_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidfTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    // unigram-LM cross-entropy per doc (the perplexity-proxy quality
    // score): the corpus's own unigram counts are the LM; contributions
    // are milli-nat-quantized longs so the sum is order-independent and a
    // last-bit ln() difference between engines cannot move the hash
    "q_unigram_lm" -> ((s, dir) => {
      TextAnalysis.unigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
    }),

    // bigram-LM cross-entropy (the KenLM-proxy CCNet quality filter):
    // interpolated p(w|v) = 0.75·c(vw)/c(v·) + 0.25·(c(w)+1)/(N+V), per-
    // (doc,bigram) contributions milli-nat-quantized before the integer
    // per-doc sum — same determinism discipline as q_unigram_lm, one
    // order of context better at separating fluent text from gibberish
    "q_bigram_lm" -> ((s, dir) => {
      TextAnalysis.bigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
    }),

    // DSIR-style importance weights: log-likelihood ratio of each doc under
    // the target domain's (source = src0) unigram LM vs the raw pool's,
    // Laplace-smoothed over the joint vocabulary; milli-nat quantized longs
    // make the sum order-independent and the final score is one exact IEEE
    // division (no round at all)
    "q_importance_weights" -> ((s, dir) => {
      TextAnalysis.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0")
    }),

    // Okapi BM25 top-20 against a fixed query-term set: the isin filter
    // runs IN the explode projection so only (doc, query-term) rows ever
    // shuffle; doc length rides along pre-explode (no second corpus pass);
    // per-term contributions milli-quantized so the sum is order-
    // independent and a last-bit ln() cannot move the hash
    "q_bm25" -> ((s, dir) => {
      TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "merge", "vector"), topK = 20)
    }),

    // hybrid retrieval: RRF fusion of the BM25 lexical top-20 with the
    // cosine top-20 for doc 0's embedding. Only integer ranks cross the
    // fusion boundary; each contribution is one IEEE division and the
    // two-list sum one addition, so fusion scores are bit-identical in
    // any engine replaying the same ranked lists (both of which are
    // themselves hash-matched: q_bm25 / q_embed_topk).
    "q_rrf_hybrid" -> ((s, dir) => {
      // rank = 1 + number of strict predecessors under the (bm25 desc,
      // doc_id) TOTAL order — identical integers to the former
      // row_number() over an unpartitioned window (r16): the frame is
      // topK=20-bounded so either form is bounded at any scale, but the
      // broadcast predecessor-count keeps the plan free of
      // single-partition stages (one fewer PlanLintSpec allow-list entry)
      val bm = TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("spark", "merge", "vector"), topK = 20)
        .select(col("doc_id"), col("bm25"))
      val lex = bm.as("a").join(broadcast(bm.as("b")),
          col("b.bm25") > col("a.bm25") ||
            (col("b.bm25") === col("a.bm25") && col("b.doc_id") < col("a.doc_id")),
          "left")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg((count(col("b.doc_id")) + 1L).cast("int").as("rank"))
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val sem = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          qv, "qid", "qvec", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.ext.Retrieval.rrfFuse2(lex, sem, "doc_id", "rank", k = 60, topK = 10)
        .select(col("doc_id"), col("rank_a").as("lex_rank"),
          col("rank_b").as("sem_rank"), col("rrf"))
    }),

    // per-source KL divergence from the corpus blend (mixture-design
    // diagnostic): exact — every source term occurs in the corpus, so no
    // smoothing; milli-nat quantized longs, final division of two exact
    // integers, round 6
    "q_source_divergence" -> ((s, dir) => {
      TextAnalysis.sourceDivergence(t(s, dir, "documents"), "source", "text")
    }),

    // Zipf frequency-of-frequency vocabulary profile: integers end-to-end;
    // the histogram rollup carries one row per distinct frequency value
    // (O(sqrt(tokens)) by Zipf's law), never corpus-sized
    "q_zipf" -> ((s, dir) => {
      TextAnalysis.zipfProfile(t(s, dir, "documents"), "text")
    }),

    // CCNet-style duplicate-line profile: share of each doc's derived
    // 10-token lines that occur in >= 2 documents (boilerplate signal);
    // line hashes (16-byte md5) shuffle, line text never does
    "q_line_dedup" -> ((s, dir) => {
      Dedup.duplicateLineProfile(t(s, dir, "documents"), "doc_id", "text",
        lineTokens = 10)
    }),

    // per-source boilerplate lines (the CCNet refinement of q_line_dedup):
    // pages synthesized with a per-source header/footer and a per-doc ref
    // line (the synthesizeHtml discipline — no fixture text has newlines),
    // then lines appearing in >= 50% of a source's docs are flagged. The
    // header+footer must flag, the ref/body lines must not; line text is
    // 16-byte-hashed before any exchange
    "q_boilerplate_lines" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat_ws("\n",
          concat(lit("home news about "), col("source")),
          coalesce(col("text"), lit("")),
          concat(lit("contact "), col("source"), lit(" terms privacy")),
          concat(lit("ref "), col("doc_id"))).as("page"))
      Dedup.sourceBoilerplate(pages, "doc_id", "page", "source", minShare = 0.5)
    }),

    // curriculum sharding: EXACT global quality rank (longest docs first,
    // doc_id tiebreak) and 10 equal-size ordered shards — the "train easy/
    // clean data first" curriculum assignment. The rank comes from
    // operators.GlobalRank (range partition + per-partition row_number +
    // driver-bounded offsets), NOT a Window.orderBy: the naive global
    // window is a single-reducer sort, the classic scale trap this
    // operator exists to avoid (PlanSpec pins no-SinglePartition via the
    // shared q_sorted_neighborhood machinery). Shard = rank*10 div N —
    // exact integer arithmetic, so the oracle replays it with its own
    // (verification-only) global window.
    "q_curriculum" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the row total comes back from the rank operator's own
      // partition-count pass — a literal, no extra scan, and no global
      // scalar aggregate (whose final step is a single-partition exchange)
      val (ranked, total) = graft.operators.GlobalRank.withGlobalRankAndCount(
        docs.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id")), "rank")
      ranked
        .withColumn("shard", expr(s"(rank * 10) div ${total}L"))
        .select(col("doc_id"), col("rank"), col("shard"))
    }),

    // snapshot diff (dataset-versioning delta): classify every doc id as
    // added / removed / changed between two corpus versions by comparing
    // 16-byte content hashes in a full outer join on the id — the CDC
    // primitive behind incremental re-training ("what actually changed
    // since the last crawl"). Text never shuffles: each side reduces to
    // (id, md5) before the join. The two versions are derived
    // deterministically from the one fixture (previous = ids with
    // doc_id%10<8, current = ids with doc_id%10>0, every doc_id%7==0 text
    // amended), so the oracle replays both sides exactly.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def sig(df: DataFrame, side: String) = df
        .select(col("doc_id"), md5(col("text")).as(s"h_$side"))
      val prev = sig(docs.where(col("doc_id") % 10 < 8), "prev")
      val cur = sig(docs.where(col("doc_id") % 10 > 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))), "cur")
      prev.join(cur, Seq("doc_id"), "full_outer")
        .withColumn("change",
          when(col("h_prev").isNull, lit("added"))
            .when(col("h_cur").isNull, lit("removed"))
            .when(col("h_prev") =!= col("h_cur"), lit("changed")))
        .where(col("change").isNotNull)
        .select(col("doc_id"), col("change"))
    }),

    // column-level change attribution between the two snapshot versions
    // (what q_snapshot_diff's row hashes cannot say: WHICH column moved,
    // how often) — four deterministic per-id-family amendments planted so
    // every counter is exercised; money compared as integer cents; one
    // equi-join + ONE aggregation for all columns, then a constant unpivot
    "q_diff_columns" -> ((s, dir) => {
      val cust = t(s, dir, "customer").withColumn("acct_cents",
        floor(col("c_acctbal") * 100 + 0.5).cast("long"))
      val prev = cust.where(col("c_custkey") % 10 < 9)
      val cur = cust.where(col("c_custkey") % 10 > 0)
        .withColumn("c_name",
          when(col("c_custkey") % 7 === 0, concat(col("c_name"), lit("-r2")))
            .otherwise(col("c_name")))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 5 === 0, lit("SEG-X"))
            .otherwise(col("c_mktsegment")))
        .withColumn("c_nationkey",
          when(col("c_custkey") % 11 === 0, col("c_nationkey") + 1)
            .otherwise(col("c_nationkey")))
        .withColumn("acct_cents",
          when(col("c_custkey") % 13 === 0, col("acct_cents") + 1)
            .otherwise(col("acct_cents")))
      graft.ext.Profiling.diffColumns(prev, cur, "c_custkey",
        Seq("c_name", "c_mktsegment", "c_nationkey", "acct_cents"))
    }),

    // offline classifier evaluation: exact tie-aware ROC AUC (integer
    // Mann-Whitney — per distinct score, positives pair with negatives
    // strictly below + half the ties; ONE final division) plus the
    // confusion counts and precision/recall/F1 at the n_chars >= 306
    // operating point, label = "is English". The cumulative step joins
    // the SMALL per-distinct-score frame, never the rows — score-domain
    // bounded, no global window, no single partition
    "q_classifier_eval" -> ((s, dir) => {
      graft.ext.Evaluation.binaryClassifierReport(
        t(s, dir, "documents"),
        labelCol = col("lang") === "en",
        scoreCol = col("n_chars"),
        threshold = lit(306L))
    }),

    // order-independent content fingerprints (BIT_XOR of 60-bit row
    // hashes + counts) for five tables — the equality certificate a
    // migration/backfill publishes so two copies compare WITHOUT sorting
    // either side. Integer/string columns only (float renderings differ
    // across engines); o_orderpriority included to cover a multi-word
    // string, orders' date/price deliberately excluded and documented
    "q_table_fingerprint" -> ((s, dir) => {
      import graft.ext.Profiling.tableFingerprint
      Seq(
        tableFingerprint(t(s, dir, "customer"), "customer",
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
        tableFingerprint(t(s, dir, "documents"), "documents",
          Seq("doc_id", "text", "lang", "source", "n_chars")),
        tableFingerprint(t(s, dir, "nation"), "nation",
          Seq("n_nationkey", "n_name", "n_regionkey")),
        tableFingerprint(t(s, dir, "orders"), "orders",
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
        tableFingerprint(t(s, dir, "region"), "region",
          Seq("r_regionkey", "r_name"))
      ).reduce(_.unionByName(_))
    }),

    // A/B experiment read-out: units (users) hash-gated 50/50 into arms
    // (the assignment method real experiment platforms use — and the
    // oracle replays it), conversion = any purchase, two-proportion z²
    // under pooled variance with the χ²(1, α=0.05) significance gate.
    // Integer counts; the statistic is IEEE ops in one fixed order
    "q_ab_test" -> ((s, dir) => {
      graft.ext.Evaluation.abTest(
        t(s, dir, "events"), col("user_id"),
        col("event_type") === "purchase" && col("value") >= 120,
        seed = "exp1:")
    }),

    // sample-ratio-mismatch health check for q_ab_test's assignment: a
    // 1-df χ² on the observed 50/50 unit split — the validity gate run
    // BEFORE reading any effect (a skewed split means broken logging or
    // bot asymmetry, not a treatment effect)
    "q_srm_check" -> ((s, dir) => {
      graft.ext.Evaluation.srmCheck(
        t(s, dir, "events"), col("user_id"), seed = "exp1:")
    }),

    // heterogeneous treatment effects: q_ab_test's arms and z² computed
    // WITHIN each market segment (users joined to customers on the id;
    // unmatched users form their own 'unknown' segment rather than
    // silently dropping) — the read-out that says whether the win
    // concentrates in one cohort. Same degenerate-variance contract
    "q_ab_segments" -> ((s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val ev = t(s, dir, "events")
        .join(seg, Seq("user_id"), "left")
        .withColumn("segment", coalesce(col("c_mktsegment"), lit("unknown")))
      graft.ext.Evaluation.abTestByGroup(ev, col("user_id"), col("segment"),
        col("event_type") === "purchase" && col("value") >= 120,
        seed = "exp1:")
    }),

    // the full PR/ROC curve for the q_classifier_eval scorer: confusion
    // counts at EVERY distinct threshold via suffix sums over the
    // domain-bounded per-score frame — how the 306 operating point was
    // actually chosen. tp+fn and fp+tn conserve per row by construction
    "q_threshold_sweep" -> ((s, dir) => {
      graft.ext.Evaluation.thresholdSweep(
        t(s, dir, "documents"),
        labelCol = col("lang") === "en",
        scoreCol = col("n_chars"))
    }),

    // CUPED variance reduction: per-user purchase spend in the SECOND
    // half of the event range (the "experiment period" metric), adjusted
    // by first-half spend (the pre-experiment covariate) — integer-cents
    // moments, one aggregation; reports θ and the ρ² variance reduction
    // the adjustment buys. The half boundary is exact integer micros
    "q_cuped" -> ((s, dir) => {
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"), tsUs.as("__us"))
      // integer div, per the FIXTURES.md contract: (min+max) div 2 —
      // the double-division form is exact only while epoch-micros sums
      // stay below 2^53 and would silently diverge from the oracle on a
      // nanos-scale or far-future time axis
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" && col("__us") < col("__mid"),
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("x_cents"),
          sum(when(col("event_type") === "purchase" && col("__us") >= col("__mid"),
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("y_cents"))
      graft.ext.Evaluation.cupedAdjustment(units, col("y_cents"), col("x_cents"))
    }),

    // difference-in-differences over q_cuped's pre/post spend cells and
    // q_ab_test's hash-gated arms — the parallel-trends causal estimate
    // that removes arm baseline differences. Integer-cents sums, one cell
    // rollup, fixed-order means
    "q_did" -> ((s, dir) => {
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"), tsUs.as("__us"))
      // integer div, per the FIXTURES.md contract: (min+max) div 2 —
      // the double-division form is exact only while epoch-micros sums
      // stay below 2^53 and would silently diverge from the oracle on a
      // nanos-scale or far-future time axis
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" && col("__us") < col("__mid"),
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("pre_cents"),
          sum(when(col("event_type") === "purchase" && col("__us") >= col("__mid"),
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("post_cents"))
      graft.ext.Evaluation.diffInDiff(units, col("user_id"),
        col("pre_cents"), col("post_cents"), seed = "exp1:")
    }),

    // deterministic subsampling-bootstrap CI for the mean doc length —
    // the uncertainty band an eval report publishes with its point
    // estimate. Replica membership is an md5 hash gate (engine- and
    // layout-reproducible, unlike RNG bootstraps); replica means are one
    // IEEE division each; p05/p50/p95 are EXACT order statistics of the
    // 100 replica means, tie-broken by replica id
    "q_bootstrap_ci" -> ((s, dir) => {
      graft.ext.Evaluation.bootstrapMeanCI(
        t(s, dir, "documents"), "doc_id", col("n_chars"),
        b = 100, fraction = 0.5, seed = "boot")
    }),

    // the one-row DATASET CARD: the summary block a curated-corpus
    // release ships with — volume, source/language makeup, exact-dup
    // rate, length stats — every field either an integer count, an
    // argmax, or one IEEE division (no entropy: ln() is not a
    // cross-engine contract). Three map-combined aggregations (corpus,
    // md5-group dup counts, language argmax) joined as one-row
    // broadcasts
    "q_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      val dups = docs.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("exact_dup_docs"))
      val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .agg(max(struct(col("c"), col("lang"))).as("t"))
        .select(col("t.lang").as("top_lang"), col("t.c").as("top_lang_docs"))
      base.crossJoin(broadcast(dups)).crossJoin(broadcast(topLang)).select(
        col("n_docs"), col("n_sources"), col("n_langs"), col("total_chars"),
        col("min_chars"), col("max_chars"),
        (col("total_chars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"),
        col("exact_dup_docs"),
        (col("exact_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        col("top_lang"), col("top_lang_docs"),
        (col("top_lang_docs").cast("double") / col("n_docs").cast("double"))
          .as("top_lang_share"))
    }),

    // sliced (per-language) AUC — the fairness report an aggregate AUC
    // hides a weak group behind: same integer Mann-Whitney per group,
    // group-local range join on per-group distinct scores, one-class
    // groups excluded
    "q_grouped_auc" -> ((s, dir) => {
      graft.ext.Evaluation.groupedAuc(
        t(s, dir, "documents"),
        groupCol = col("lang"),
        labelCol = locate("spark", col("text")) > 0,
        scoreCol = col("n_chars"))
    }),

    // decile gains/lift triage: "keep the top-k% by score — what share
    // of positives is captured?" Exact 0-based global rank (range
    // partition + broadcast offsets, no single reducer), integer `div`
    // bucketing, cumulative step on the broadcast 10-row frame; every
    // rate one IEEE division of integer products
    "q_decile_lift" -> ((s, dir) => {
      graft.ext.Evaluation.decileLift(
        t(s, dir, "documents"),
        labelCol = col("lang") === "en",
        scoreCol = col("n_chars"), idCol = col("doc_id"))
    }),

    // partition-pruned one-language scan over the lang=…/ hive layout:
    // the lang filter is a PARTITION filter (directory pruning — the
    // other languages' files are never opened; PlanSpec pins
    // PartitionFilters non-empty and PushedFilters lang-free)
    "q_partition_prune" -> ((s, dir) => {
      graft.sources.Tables.parquet(s, partitionedDocsPath(s, dir))
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // schema-evolution read: v1 (pre-lang/source export) + v2 unified
    // via mergeSchema — missing v1 columns surface as nulls, the
    // contract readers of an accreting 100 TB dataset depend on. The
    // grouped report separates pre-schema rows (null source) per lang
    "q_schema_evolution" -> ((s, dir) => {
      val (p1, p2) = schemaDriftPaths(s, dir)
      s.read.option("mergeSchema", "true").parquet(p1, p2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, lit(1L)).otherwise(lit(0L))).as("n_preschema"),
          sum(length(col("text"))).as("total_chars"))
    }),

    // per-COLUMN structural drift between two snapshots (complement of
    // the row-level q_snapshot_diff): null-rate jumps, cardinality
    // shifts, value-length drift — the report that gates a new crawl
    // before training. The cur snapshot plants all three: lang nulled at
    // doc_id%13, source collapsed to 'mirror' at %5, text lengthened at
    // %7. One unpivot scan per snapshot, then a |cols|-row join
    "q_profile_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.where(col("doc_id") % 10 < 8)
      val cur = docs.where(col("doc_id") % 10 > 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .withColumn("lang", when(col("doc_id") % 13 === 0,
          lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("source", when(col("doc_id") % 5 === 0,
          lit("mirror")).otherwise(col("source")))
      graft.operators.Profile.profileDrift(prev, cur,
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    }),

    // benchmark-contamination check: eval set = 5% md5-gated docs, corpus =
    // the rest; per-doc fraction of distinct word 3-grams that leak from
    // the eval set (broadcast bench grams — the corpus never shuffles on
    // gram text). 3-grams on this small-vocab corpus give a real
    // distribution: ~3% background overlap, with near-dups of bench docs
    // crossing the 0.2 contamination flag.
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = Sampling.hashSample(docs, "doc_id", 0.05, seed = "bench")
      val corpus = docs.where(!Sampling.hashGate(col("doc_id"), 0.05, "bench"))
      TextAnalysis.benchmarkOverlap(corpus, bench, "doc_id", "text",
        n = 3, flagAt = 0.2)
    }),

    // concat-and-chunk sequence packing: each doc's pack id and intra-pack
    // offset in the per-source token stream (seq_len 2048, deterministic
    // doc_id order within shard) — the doc → training-sequence layout step
    "q_pack_sequences" -> ((s, dir) => {
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
        shardCol = "source", seqLen = 2048)
    }),

    // per-stratum quota: cap every source at 30 docs, chosen by stable
    // hash order — the domain-cap operation; exact quota via per-stratum
    // rank (group-limit pruned), not a fraction gate
    "q_source_quota" -> ((s, dir) => {
      Sampling.quotaSample(t(s, dir, "documents"), "doc_id", "source",
        maxPerStratum = 30, seed = "q")
        .select(col("doc_id"), col("source"))
    }),

    // corpus inverted index: per term df / total tf / bounded posting head
    // (the 20 smallest doc ids) — the search/IDF primitive; full posting
    // lists are never materialized (web-scale terms would dwarf a task)
    "q_inverted_index" -> ((s, dir) => {
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text", maxPostings = 20)
    }),

    // exact phrase query over positional postings — the search capability
    // bag-of-words ranking (q_bm25) cannot express: "table hash" as
    // ADJACENT tokens (the fixture has docs carrying the phrase twice,
    // so n_matches > 1 is exercised). Posting explode is filtered to the
    // query's own terms before any join; (doc, pos)-adjacency equi-join;
    // per-doc match counts + first hit position
    "q_phrase_search" -> ((s, dir) => {
      TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("table", "hash"))
    }),

    // vocabulary-free featurization: tokens → 512 hash buckets, sparse
    // (doc, bucket, count) rows; no fitted dictionary, so every shard of
    // a 100 TB corpus featurizes independently
    "q_feature_hash" -> ((s, dir) => {
      TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text", dim = 512)
    }),

    // corpus-wide top-20 bigrams (TakeOrdered, deterministic tie-break)
    "q_bigrams" -> ((s, dir) => {
      TextAnalysis.topBigrams(t(s, dir, "documents"), "text", k = 20)
    }),

    // repetition filter: share of bigram positions held by the most
    // frequent bigram per doc (looping/boilerplate detector)
    "q_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionProfile(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Efraimidis–Spirakis weighted sample: 100 docs, inclusion probability
    // ∝ n_chars — the "sample long documents more" mixture op; narrow
    // TakeOrdered plan, no shuffle
    "q_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
          col("n_chars"), k = 100, seed = "es")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // deterministic hash-gated 25% sample (stable under any partitioning)
    "q_hash_sample" -> ((s, dir) => {
      Sampling.hashSample(t(s, dir, "orders"), "o_orderkey", 0.25, seed = "s42")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // weighted corpus mixture: per-source keep fraction, one narrow pass
    "q_corpus_mix" -> ((s, dir) => {
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultFraction = 0.125, seed = "mix")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
    }),

    // deterministic global shuffle for training order (distributed sort +
    // zipWithIndex positions, no single-partition window)
    "q_shuffle_order" -> ((s, dir) => {
      Sampling.shuffleOrder(
        t(s, dir, "customer").select(col("c_custkey")), "c_custkey", seed = "ep1")
        .select(col("position"), col("c_custkey"))
    }),

    // deterministic train/val/test split (hash-range assignment — a doc
    // keeps its split under any partitioning or corpus growth)
    "q_split_assign" -> ((s, dir) => {
      Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // leakage-safe train/val/test split: the split UNIT is the near-dup
    // CLUSTER — every doc inherits its cluster representative's md5-gated
    // assignment (singletons represent themselves), so near-duplicate
    // pairs can never straddle train and test (the classic eval-leakage
    // bug a plain per-doc split commits). Value-checked per doc: the
    // oracle rebuilds clusters from EXACT jaccard pairs via recursive CTE
    // and replays the same gate on the representative.
    "q_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = stagedMinhashPairs(s, dir)
      val clusters = Dedup.resolveDuplicateClusters(pairs)
      val rep = docs.select(col("doc_id"))
        .join(clusters.select(col("id").as("doc_id"), col("keep_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("rep_id"))
      Sampling.splitAssign(rep, "rep_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp")
        .select(col("doc_id"), col("rep_id"), col("split"))
    }),

    // the AUDIT for the split above — the check a release gate actually
    // runs: for every near-dup pair, do the two docs land in the same
    // split? Cluster-keyed assignment must leak ZERO pairs by
    // construction; the naive per-doc hash split (the control arm, same
    // gate keyed on the doc's own id) leaks ~1−Σp² of them. Pairs are
    // localCheckpointed once (they feed both arms — small id-pair rows,
    // but their lineage is the whole minhash pipeline)
    "q_split_leakage_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = stagedMinhashPairs(s, dir).select(col("id_a"), col("id_b"))
      val clusters = Dedup.resolveDuplicateClusters(pairs)
      val rep = docs.select(col("doc_id"))
        .join(clusters.select(col("id").as("doc_id"), col("keep_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("rep_id"))
      val ratios = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val safe = Sampling.splitAssign(rep, "rep_id", ratios, seed = "sp")
        .select(col("doc_id"), col("split"))
      val naive = Sampling.splitAssign(
          docs.select(col("doc_id"), col("doc_id").as("rep_id")),
          "rep_id", ratios, seed = "sp")
        .select(col("doc_id"), col("split"))
      def audit(assign: DataFrame, method: String): DataFrame = pairs
        .join(assign.select(col("doc_id").as("id_a"), col("split").as("s1")), "id_a")
        .join(assign.select(col("doc_id").as("id_b"), col("split").as("s2")), "id_b")
        .agg(count(lit(1)).as("n_dup_pairs"),
          sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)).as("n_cross_split"))
        .select(lit(method).as("method"), col("n_dup_pairs"), col("n_cross_split"),
          (col("n_cross_split").cast("double") /
            col("n_dup_pairs").cast("double")).as("leakage_rate"))
      audit(safe, "cluster_safe").unionByName(audit(naive, "naive_hash"))
    }),

    // incremental dedup: today's batch (docs 400+) against the already-
    // ingested reference (docs <400) — batch survivors only. Value-checked:
    // the oracle recomputes exact all-cross-pairs char-5-gram Jaccard in
    // DuckDB, so the LSH candidates + verify must find exactly the
    // above-threshold pairs (recall 1.0 on this data — see GroundTruthSpec)
    "q_cross_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ref = d.where(col("doc_id") < 400)
      val batch = d.where(col("doc_id") >= 400)
      Dedup.dropCrossCorpusDuplicates(batch, ref, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.5)
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
    }),

    // the Bloom-prefiltered cross-corpus variant: same near-dup pairs as
    // the direct band join (the sketch only removes definite negatives;
    // positives are re-verified by the exact band match + jaccard), with
    // the batch's no-hit band rows pruned before any shuffle. The oracle
    // is exact all-CROSS-pairs jaccard — a hash match proves the sketch
    // path loses nothing.
    "q_cross_dedup_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ref = d.where(col("doc_id") < 400)
      val batch = d.where(col("doc_id") >= 400)
      Dedup.crossCorpusNearDuplicatesBloom(batch, ref, "doc_id", "text",
        shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5)
    }),

    // the same cross-corpus contract against a pre-staged BUCKETED
    // reference banding — the candidate join reads the reference buckets
    // in place (zero reference-side exchange, the decisive 100 TB
    // property; only the small batch is shuffled into the bucket layout).
    // Staging is the reference's one-time ingest cost, run once per
    // process+input here. Oracle = the same exact all-cross-pairs jaccard
    // as q_cross_dedup_bloom: a hash match proves the bucketed path loses
    // nothing either.
    "q_cross_dedup_bucketed" -> ((s, dir) => {
      val table = bucketedRefTable(s, dir)
      val d = t(s, dir, "documents")
      val ref = d.where(col("doc_id") < 400)
      val batch = d.where(col("doc_id") >= 400)
      Dedup.crossCorpusNearDuplicatesBucketed(batch, ref, "doc_id", "text",
        table, shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5)
    }),

    // MinHash+LSH near-duplicate pairs. The seeded xxhash64 family has no
    // DuckDB twin, but the OUTPUT is exact-verified (id_a, id_b, jaccard),
    // so the oracle recomputes exact all-pairs char-5-gram Jaccard — raw
    // jaccard, not rounded: int/int IEEE division is bit-identical across
    // engines. Hash-match requires (and proves) LSH recall 1.0 here.
    "q_minhash_near_dup" -> ((s, dir) => {
      stagedMinhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // cross-source duplication flow matrix: near-dup pairs labeled by
    // their (unordered) source pair — the mirror-site / syndication /
    // scraped-content detector a crawl-source triage keys on. Rides the
    // staged minhash pair set (sixth consumer); the corpus contributes
    // only two keys--only source lookups + one map-combined rollup
    "q_dup_flow" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      stagedMinhashPairs(s, dir).select(col("id_a"), col("id_b"))
        .join(docs.select(col("doc_id").as("id_a"), col("source").as("src_x")),
          Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("source").as("src_y")),
          Seq("id_b"))
        .select(least(col("src_x"), col("src_y")).as("source_a"),
          greatest(col("src_x"), col("src_y")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // SimHash near-duplicate pairs, portable md5 hash family — the oracle
    // rebuilds every 64-bit fingerprint in DuckDB (same token hash, same
    // vote arithmetic) and takes exact all-pairs Hamming ≤ 3. Recall 1.0 is
    // UNCONDITIONAL: 4-band pigeonhole on a 64-bit fp cannot miss a pair
    // within Hamming 3, so LSH output == exact output over the same
    // fingerprints on any corpus. CROSS-ENGINE fingerprint equality
    // additionally needs tokenization parity: whitespace is exact (the
    // oracle's [\s\x0b] class == Java \s), case mapping is exact up to the
    // JVM-full vs DuckDB-simple lowercase divergence (e.g. U+0130 'İ' →
    // "i̇" vs "i") — absent from this corpus and from most web text.
    "q_simhash_near_dup" -> ((s, dir) => {
      Dedup.simhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, portableHash = true)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // word-3-gram Jaccard near-dup pairs — value-checked against exact
    // all-pairs word-shingle Jaccard (same rationale as q_minhash_near_dup)
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 8, threshold = 0.3)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // per-SOURCE top terms (the c-TF-IDF-style mixture/cluster labeling
    // move: treat each source as one "document", rank its terms by
    // in-source frequency with cross-source df as the tie-break) — the
    // label a corpus-mixture report prints next to each source's row.
    // Same integer ordering contract as q_top_terms, re-keyed
    "q_source_top_terms" -> ((s, dir) => {
      TextAnalysis.topTerms(
        t(s, dir, "documents").select(col("source"), col("text")),
        "source", "text", k = 5)
    }),

    // batch-over-reference novelty: the same doc split as q_cross_dedup
    // (reference < 400, batch ≥ 400), scoring how much trigram-level NEW
    // information each batch doc adds over the already-ingested corpus —
    // the complement of cross-corpus dedup (which only catches
    // whole-document copies). Reference reduces to its distinct gram set
    "q_cross_novelty" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.crossCorpusNovelty(
        d.where(col("doc_id") >= 400), d.where(col("doc_id") < 400),
        "doc_id", "text", n = 3)
    }),

    // per-doc trigram novelty: share of a doc's distinct 3-grams first
    // seen in THIS doc (min-doc-id attribution) — the incremental-
    // information rank a dedup-aware sampler uses; a verbatim copy of an
    // earlier doc scores 0. One gram-keyed exchange + per-doc rollup
    "q_ngram_novelty" -> ((s, dir) => {
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
    }),

    // exact word-3-gram Jaccard over a bounded doc set — the value-checked
    // twin of the LSH pipelines (their verify step uses this same jaccard)
    "q_jaccard_pairs" -> ((s, dir) => {
      import graft.plans.NativeExpressions
      import graft.functions.{HashFunctions => H}
      val d = t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), NativeExpressions.wordShingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), H.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .where(col("jaccard") >= 0.5)
    }),

    // EXACT Jaccard-threshold join over the FULL corpus via prefix
    // filtering (SSJoin/PPJoin) — the deterministic-recall alternative to
    // the LSH families: rarest-first global token order, per-doc prefix of
    // sz - ceil(t*sz) + 1 tokens, equi-join on prefix tokens (lossless by
    // the overlap pigeonhole), exact-Jaccard verify. Same output contract
    // as q_jaccard_pairs but corpus-wide — the oracle is all-pairs SQL,
    // which is exactly the plan this operator exists to avoid. The
    // rank artifact (dictionary + GlobalRank + per-doc ordering) comes
    // pre-STAGED (stagedPrefixDocs) — only the threshold-dependent pair
    // machinery runs per call.
    "q_prefix_join" -> ((s, dir) => {
      Dedup.prefixPairsFromRanked(stagedPrefixDocs(s, dir), threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // exact duplicated-substring coverage (sliding 40-char grams, the
    // ExactSubstr signal): fraction of each doc's positions whose 40-gram
    // also appears verbatim in ANOTHER doc — one md5-keyed shuffle; the
    // 40-char texts never move, only their 16-byte hashes
    "q_substring_dup" -> ((s, dir) => {
      Dedup.duplicatedSpanProfileFromGrams(stagedGramIndex(s, dir), "doc_id")
        .select(col("doc_id"), col("n_positions"), col("n_dup_positions"),
          col("dup_span_ratio"))
    }),

    // the duplicated REGIONS behind q_substring_dup's counts: maximal
    // merged [start, end] spans of cross-doc verbatim text per doc —
    // gaps-and-islands over the hit positions, two stacked windows on one
    // doc exchange (the exact spans an ExactSubstr cutter would remove)
    "q_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpansFromGrams(stagedGramIndex(s, dir), "doc_id", k = 40)
        .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
    }),

    // Misra-Gries mergeable heavy-hitters summary — the shuffle carries at
    // most `capacity` counters per map task regardless of item
    // cardinality. At capacity >= |distinct| (64 >> 5 event types) MG is
    // provably exact and order-independent, which is what the count(*)
    // oracle checks; the over-capacity guarantee band is pinned in
    // GroundTruthSpec on the document word stream.
    "q_heavy_hitters" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(graft.plans.MisraGriesAggregator.misraGries(64)(col("event_type")).as("hh"))
        .select(explode(col("hh")).as("x"))
        .select(col("x.item").as("event_type"), col("x.est").as("cnt"))
    }),

    // k-anonymity by global-recoding ladder: publish each customer's QI at
    // the finest level whose crowd holds >= 10 rows — (nation, segment) →
    // (region, segment) → suppressed. Group counts are domain-bounded
    // tables broadcast back onto one fact scan; no fact-side shuffle.
    "q_k_anonymity" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      val base = cust
        .join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      graft.ext.Privacy.kAnonymizeLadder(base, k = 10,
        levels = Seq(
          Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
          Seq("qi_geo" -> col("r_name"), "qi_segment" -> col("c_mktsegment"))))
        .select(col("c_custkey"), col("anon_level"), col("qi_geo"), col("qi_segment"))
    }),

    // l-diversity audit on top of the k-anonymity QI: each (nation,
    // segment) crowd must also hold >= 3 distinct account-balance bands,
    // or the crowd discloses its shared value (homogeneity attack) —
    // one map-combined aggregation, bounded count-distinct buffers
    "q_l_diversity" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val base = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      graft.ext.Privacy.lDiversityAudit(base,
        Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
        floor(col("c_acctbal") / lit(1000.0d)).cast("long"), l = 3)
        .select(col("qi_geo"), col("qi_segment"), col("group_size"),
          col("distinct_sensitive"), col("at_risk"))
    }),

    // Z-order layout audit: scale (part, supp) to 16-bit ordinals by the
    // table max (integer div — exact on any engine, and SF-independent:
    // the curve always spans all 32 bits), Morton-interleave, bucket by
    // the top 6 curve bits (64 deterministic z-ranges = the files a
    // clusterByZOrder write would cut), report the per-file min/max box a
    // scan planner prunes against — all builtin bit ops, zero UDFs
    "q_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
      val scaled = li.crossJoin(broadcast(m))
        .select(expr("l_partkey * 65536 div (mp + 1)").as("zx"),
          expr("l_suppkey * 65536 div (ms + 1)").as("zy"))
      graft.operators.ZOrder.fileSkippingProfile(scaled, col("zx"), col("zy"),
        numBuckets = 64)
        .select(col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"))
    }),

    // JSONL round-trip (the LLM-corpus interchange format): documents
    // written as JSON-lines, read back SCHEMA-EXPLICIT (inference would
    // double the scan at 100 TB), and proven content-identical to the
    // parquet original by an order-independent xor of per-doc text
    // fingerprints — the oracle reads the parquet side, so a hash match
    // certifies the whole write→read cycle byte-preserves every text
    "q_jsonl_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.sources.Jsonl.read(s, jsonlStagePath(s, dir), schema)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          bit_xor(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"))
            .as("text_fp"))
    }),

    // unary functional-dependency discovery over the customer columns
    // (TANE/Metanome's single-column case, next to q_fk_discovery's
    // INCLUSION dependencies): one count-distinct aggregation per
    // determinant covers all its dependents — 4 shuffles for 12 candidates
    "q_fd_discovery" -> ((s, dir) => {
      graft.ext.Profiling.functionalDependencies(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    }),

    // z-order over a CONTINUOUS dimension: the price axis gets an exact
    // EQUAL-FREQUENCY ordinal (global rank * 65536 div n — skew-proof by
    // construction, where fixed-width bins would collapse a skewed
    // domain into a few cells), quantity scales directly; same Morton
    // bucketing and min/max audit as q_zorder
    "q_zorder_quantile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
      val withOrd = graft.operators.ZOrder.withQuantileOrdinal(li,
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc), "zx")
      val scaled = withOrd.select(col("zx"),
        expr("cast(l_quantity AS bigint) * 65536 div 51").as("zy"))
      graft.operators.ZOrder.fileSkippingProfile(scaled, col("zx"), col("zy"),
        numBuckets = 64)
        .select(col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"))
    }),

    // size-balanced shard deal (snake draft on the exact global size
    // rank): per-shard byte totals within one max-doc of each other —
    // the epoch-straggler fix a modulo deal can't give; one range
    // exchange via GlobalRank, no single-reducer window
    "q_balanced_shards" -> ((s, dir) => {
      Sampling.balancedShards(t(s, dir, "documents"), "doc_id", col("n_chars"), n = 10)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // DIRECTIONAL containment dedup (Broder's coverage): |A∩B| / |A| over
    // word-3-gram sets — catches "A is quoted inside B", which symmetric
    // Jaccard misses when |B| >> |A|. Computed as a posting-list join
    // (explode grams, equi-join on gram, count per ordered pair), NOT a
    // cross join: the plan that survives scale, where candidate volume is
    // Σ_gram df² — at 100 TB cap it by dropping stop-grams above a df
    // ceiling (the standard trick; exact here, the testdata is bounded).
    // shared/na is one int/int IEEE division — bit-identical anywhere.
    "q_containment" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents").where(col("doc_id") < 200),
        "doc_id", "text", ngram = 3, threshold = 0.6)
    }),

    // brute-force cosine top-k over embeddings (exact ANN baseline)
    "q_embed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
    }),

    // recommendation-list health: catalog coverage@5 (distinct items ever
    // recommended / catalog) and concentration (the single most-recommended
    // item's share of all slots) over the exact cosine top-5 lists — the
    // diversity read-out a recsys release gate checks beside accuracy
    // (low coverage + high concentration = popularity collapse). Integer
    // counts; two IEEE divisions
    "q_rec_coverage" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      val catalog = emb.where(col("embedding").isNotNull)
        .agg(count(lit(1)).as("catalog_n"))
      val perItem = top.groupBy(col("neighbor_id")).agg(count(lit(1)).as("__c"))
      perItem.agg(
          count(lit(1)).as("n_distinct_recommended"),
          sum(col("__c")).as("n_slots"),
          max(col("__c")).as("top_item_slots"))
        .crossJoin(broadcast(catalog))
        .select(col("n_slots"), col("n_distinct_recommended"), col("catalog_n"),
          (col("n_distinct_recommended").cast("double") /
            col("catalog_n").cast("double")).as("coverage"),
          (col("top_item_slots").cast("double") /
            col("n_slots").cast("double")).as("max_item_share"))
    }),

    // int8 scalar-quantized top-k (FAISS SQ8): one corpus-trained scale,
    // integer dot products — the 4× memory-compressed scan path, scored
    // in exact int arithmetic so the oracle replays it bit-for-bit
    "q_int8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.int8TopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
    }),

    // same exact top-k through the bounded-heap typed Aggregator (hash
    // aggregation with map-side combine instead of a window sort) — same
    // oracle as q_embed_topk proves the equivalence
    "q_embed_topk_agg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopKAgg(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
    }),

    // IVF-bucketed approximate top-k (scale path). Deterministic end to
    // end — md5-gated centroids, ONE quantized-mean Lloyd refinement pass
    // (tighter buckets → higher recall at the same nprobe), argmin
    // assignment, probe selection — so the oracle rebuilds the ENTIRE
    // approximate chain in SQL, Lloyd pass included, and the output is
    // value-checked, not just recall-bounded. nlist=16/nprobe=8 scans
    // ~half the corpus on this (uniform-random, structure-less — IVF's
    // worst case) testdata.
    "q_embed_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, nlist = 16, nprobe = 8, refineIters = 1)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
    }),

    // the driver-visible ANN quality report: per-query overlap of the IVF
    // top-5 with the exact brute-force top-5 (both computed here, one
    // deterministic number per query — recall@5), now itself
    // value-checked against a SQL twin of both sides.
    "q_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = stagedExactNeighbors(s, dir).where(col("rank") <= 5)
      // index comes staged (stagedIvf16 — nlist=16/refine=1, shared with
      // q_ann_tuning's sweep); only the probe+score search runs here
      val (cent, assigned) = stagedIvf16(s, dir)
      val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = 8)
      Similarity.recallReport(exact, approx, k = 5)
    }),

    // embedding-cosine near-duplicates via hyperplane LSH — value-checked
    // NON-trivially: the corpus is unioned with ×2-scaled copies of itself
    // (id+10000). Doubling is exact in binary fp and commutes with every
    // rounded +/×/sqrt, so each copy has bit-identical hyperplane signs
    // (LSH recall on the planted pairs is PROVABLY 1.0, not just seeded
    // luck) and cosine(v, 2v) rounds to 1.0 in both engines, while all
    // natural pairs stay ≤ ~0.51 — the oracle's exact all-pairs set is
    // exactly the 500 planted pairs.
    "q_embed_near_dup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val scaled = base.select((col("vec_id") + lit(10000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Dedup.embeddingNearDuplicates(base.unionByName(scaled), "vec_id", "embedding",
        dim = 64, threshold = 0.99, bands = 4, planesPerBand = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
    }),

    // SemDeDup-style semantic dedup: cosine-argmax centroid buckets, exact
    // pairwise cosine within buckets only. Same planted ×2-scaled corpus
    // as q_embed_near_dup — cosine assignment is magnitude-invariant and
    // cosine(v, 2v) is exactly 1.0 in both engines, so every planted pair
    // provably shares a bucket and survives (recall 1.0 by construction,
    // not seed luck); the oracle replays the whole chain (md5 centroid
    // gate, argmax assignment, in-bucket pairs) in SQL, value-checking the
    // approximation itself
    "q_semantic_dedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val scaled = base.select((col("vec_id") + lit(10000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Dedup.semanticNearDuplicates(base.unionByName(scaled), "vec_id", "embedding",
        nlist = 16, threshold = 0.99)
        .select(col("id_a"), col("id_b"), col("centroid_id").cast("long").as("centroid_id"),
          round(col("cosine"), 4).as("cosine_r"))
    }),

    // per-dimension embedding moment profile (feature-scaling /
    // batch-drift prerequisite): posexplode is narrow, the rollup exchange
    // carries at most `dims` groups; micro-unit fixed-point longs make
    // every moment order-independent and engine-exact
    "q_embed_dim_stats" -> ((s, dir) => {
      Similarity.dimensionStats(t(s, dir, "embeddings"), "embedding")
    }),

    // multimodal plumbing: binary payload + metadata + batch feature stub.
    // The metadata derivation uses the portable md5-prefix family, so the
    // oracle value-checks the full (id, mime, byte-length) projection —
    // including the mapPartitions batch path's null-payload handling.
    "q_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("mime"), col("n_bytes"))
    }),

    // REAL media decode, pure JVM: payloads are valid BMP/WAV/PNG/JPEG
    // files synthesized from engine-portable hex expressions, then parsed
    // back by the header decoder in the partition-batched mapPartitions
    // path (LE BITMAPINFOHEADER / RIFF chunk walk / BE IHDR / JPEG marker
    // walk to SOF0). The oracle rebuilds the same bytes in SQL and parses
    // width/height/sample-rate/samples out of them with substr+endian
    // arithmetic; the payload hash pins byte-for-byte construction
    // equality, the decoded fields pin the parsers. No decode stub left
    // on this path.
    "q_media_decode" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.decodeMedia(media).toDF()
    }),

    // video frame sampling: synthesize GVI1 raw-video payloads (header +
    // grayscale frames; frame f = fill byte (id*7+f*31)%256 with its
    // first pixel perturbed by +f), then uniform-stride sample at most 6
    // frames per clip in one mapPartitions pass — stride
    // ceil(n_frames/6), always keeping frame 0. Emits exact integer luma
    // sums, the derived mean, and md5 over each frame's hex rendering,
    // so the oracle replays byte construction, the stride rule, and the
    // per-frame statistics end to end. Scale: no shuffle; only sampled
    // frames are touched (offset-seek slicing stands where a keyframe
    // seek would).
    "q_frame_sample" -> ((s, dir) => {
      val vids = Multimodal.synthesizeVideo(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.sampleVideoFrames(vids, targetFrames = 6).toDF()
    }),

    // shot-boundary detection on the same GVI1 payloads: a cut fires
    // where consecutive frames' exact integer luma sums jump by >= 100
    // per pixel (on this fixture: exactly the frames whose fill byte
    // wraps mod 256). The oracle replays the detector through the
    // synthesis closed form — decoder seek/sign bugs fail the hash
    "q_scene_cuts" -> ((s, dir) => {
      val vids = Multimodal.synthesizeVideo(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.sceneCuts(vids, thrPerPixel = 100).toDF()
    }),

    // HTML boilerplate extraction (WebText.extract): each doc wrapped in
    // the deterministic page template (nav/script/style/aside/footer
    // chrome varying by id), then title / clean text / anchor-text link
    // density recovered by the regex extractor — the raw-web → text
    // stage in front of every dedup/quality operator here. Pure per-row
    // projections, no shuffle; the clean text travels as md5 so the
    // result stays narrow. The oracle rebuilds the same page with
    // string concatenation and replays the same RE2-safe regexes.
    "q_html_extract" -> ((s, dir) => {
      // the extraction product comes pre-STAGED (stagedWebExtract) —
      // this query is the report over it, not the extraction run
      stagedWebExtract(s, dir)
        .select(col("doc_id"), col("title"), md5(col("text_clean")).as("text_hash"),
          col("text_len"), col("link_density"), col("n_links"))
    }),

    // encoding-damage triage (ftfy-style): replacement chars, C0 control
    // spill, double-encoding signatures (Ã©/â€™-family, Â+NBSP), bare
    // NBSPs — deterministic damage synthesized per doc-id family (the
    // synthesizeHtml discipline), counted by literal-codepoint regexes in
    // the Java/RE2 common dialect. One codegen'd scan, zero shuffles
    "q_encoding_audit" -> ((s, dir) => {
      val damaged = t(s, dir, "documents").select(col("doc_id"),
        graft.ext.WebText.synthesizeEncodingDamage(col("doc_id"),
          coalesce(col("text"), lit(""))).as("dmg"))
      graft.ext.WebText.encodingAudit(damaged, "doc_id", "dmg")
    }),

    // outgoing-link normalization (WebText.links): hrefs exploded from
    // the same synthesized pages, relative links resolved against the
    // page host, scheme+host lowercased, default port and fragment
    // stripped, registrable domain approximated as the last two labels
    // — the canonical key web-scale URL dedup joins on. One explode +
    // per-row string ops; no shuffle.
    "q_url_normalize" -> ((s, dir) => {
      // canonicalization runs at ingest (stagedWebLinks); the query is
      // the staged link table itself
      stagedWebLinks(s, dir)
    }),

    // inbound anchor-text index per normalized target (the web-graph
    // rollup search relevance and link-spam features key on): one
    // two-group pattern extracts position-aligned (href, inner) arrays,
    // anchor text tag-stripped + collapsed, targets normalized by the
    // q_url_normalize chain, then one map-combined rollup per target
    "q_anchor_stats" -> ((s, dir) => {
      // anchor extraction runs at ingest (stagedWebAnchors); the query
      // is the per-target rollup over the staged pair table
      graft.ext.WebText.anchorStatsFromPairs(stagedWebAnchors(s, dir), "doc_id")
    }),

    // co-bucketed fact-dimension join: both sides staged bucketed on the
    // customer key, so the join itself moves NOTHING (PlanSpec pins zero
    // o_custkey exchanges with broadcast disabled) — the only shuffle
    // left is the final segment rollup. Revenue follows the cents
    // pattern (floor(x*100+0.5) summed as long: double→decimal rounding
    // differs between engines, integer cents do not)
    "q_bucket_join" -> ((s, dir) => {
      val (to, tc) = bucketedJoinTables(s, dir)
      s.table(to).join(s.table(tc), "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
    }),

    // registrable-domain rollup over the normalized link table — the
    // domain-level statistics a source-quota/blocklist stage keys on
    // (pair with q_source_quota for the cap itself). Exact integer
    // aggregates only (sums/counts — no float mean, whose summation
    // order no two engines share); one hash exchange on the domain key
    "q_domain_profile" -> ((s, dir) => {
      // both sides read staged extraction products: text mass from
      // stagedWebExtract, links from stagedWebLinks — the profile is a
      // join + rollup over ingest-time artifacts
      val pg = stagedWebExtract(s, dir).select(col("doc_id"), col("text_len"))
      val lk = stagedWebLinks(s, dir)
      lk.join(pg, "doc_id").groupBy(col("domain")).agg(
        countDistinct(col("doc_id")).as("n_pages"),
        count(lit(1)).as("n_links"),
        sum(col("text_len")).as("total_text_chars"))
    }),

    // dynamic partition pruning over the lang-partitioned layout: the
    // dim side's selective filter is only known at RUNTIME, and Spark
    // turns the broadcast join's key set into a PartitionFilters entry
    // on the fact scan — at 100 TB the fact table opens ONLY the two
    // matching lang directories instead of all of them (PlanSpec pins
    // `dynamicpruning` in the scan). The oracle is the equivalent
    // static filter — DPP is an access-path property, not a semantic one
    "q_dynamic_prune" -> ((s, dir) => {
      val facts = graft.sources.Tables.parquet(s, partitionedDocsPath(s, dir))
      val dim = graft.sources.Tables.parquet(s, s"$dir/documents.parquet")
        .where(col("lang").isin("en", "de"))
        .select(col("lang")).distinct()
      facts.join(dim, Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    }),

    // corrupt-record quarantine on a JSONL ingest: lines synthesized
    // in-engine, ~1/13 decisively corrupted (leading '!' — malformed for
    // ANY parser, so the two engines can't disagree on salvageability the
    // way truncation-tail parsers might), parsed with the null-on-corrupt
    // contract (get_json_object), valid lines rolled up per parsed lang
    // and corrupt lines quarantined with their payload size — the
    // PERMISSIVE-ingest accounting a 100 TB raw-feed pipeline runs. One
    // per-row projection + one bucket exchange
    "q_jsonl_quarantine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val line0 = concat(lit("{\"id\":"), col("doc_id").cast("string"),
        lit(",\"lang\":\""), col("lang"),
        lit("\",\"len\":"), col("n_chars").cast("string"), lit("}"))
      val line = when(col("doc_id") % 13 === 7, concat(lit("!"), line0))
        .otherwise(line0)
      val withLine = docs.select(line.as("line"))
      val lang = get_json_object(col("line"), "$.lang")
      val len = get_json_object(col("line"), "$.len").cast("long")
      withLine.select(
          when(lang.isNull, lit("__corrupt__")).otherwise(lang).as("bucket"),
          when(lang.isNull, length(col("line")).cast("long")).otherwise(len).as("w"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_lines"), sum(col("w")).as("total_len"))
    }),

    // Deequ-shaped declarative data-quality gate: six constraint kinds
    // over orders (completeness, range, pattern, domain, uniqueness,
    // referential integrity) — every row-level constraint folds into ONE
    // map-combined aggregation pass (adding a constraint adds a column,
    // not a scan); the FK check is the only join (key-only anti-join).
    // Integer counts + one IEEE division per row keep the report
    // engine-replayable
    "q_expectations" -> ((s, dir) => {
      import graft.ext.Expectations._
      evaluate(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 1000000.0),
        Matches("o_orderpriority", "^[1-5]-"),
        IsIn("o_orderstatus", Seq("F", "O", "P")),
        Unique(Seq("o_orderkey")),
        ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
    }),

    // image near-duplicates: 64-bit dHash (row-gradient perceptual hash)
    // over REAL decoded BMP pixel grids, paired through the SimHash
    // Hamming-band LSH (recall 1.0 at Hamming <= 3 by the 4-band
    // pigeonhole — same argument as q_simhash_near_dup). The fixture
    // plants near-dups: images sharing doc_id%50 differ in at most one
    // perturbed pixel (<= 4 dHash bits). The oracle rebuilds the BMP hex,
    // reads every gray byte back at the decoder's offsets, recomputes all
    // 64 comparison bits and takes exact all-pairs Hamming <= 3 — so the
    // synthesis, the pixel decode, the hash and the LSH recall are all
    // value-checked end to end.
    "q_image_near_dup" -> ((s, dir) => {
      Multimodal.nearDuplicatesFromFingerprints(
        stagedImageFingerprints(s, dir), maxHamming = 3)
    }),

    // MMR diversification rerank (Retrieval.mmrRerank): greedy top-5 from
    // the exact top-10, each pick maximizing lambda*rel −
    // (1−lambda)*max-sim-to-picked — the cure for result lists full of
    // near-copies of one answer. Five unrolled query-keyed rounds over
    // candidate-bounded frames; the oracle replays the rounds as chained
    // CTEs with the IDENTICAL weight literals (1.0−0.7 is
    // 0.30000000000000004 in IEEE — both engines get that exact literal
    // from one Scala subtraction)
    "q_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cand = stagedExactNeighbors(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
      val cv = cand.select(col("query_id"), col("neighbor_id"))
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
          Seq("neighbor_id"))
      val half = cv.as("a").join(cv.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.neighbor_id") < col("b.neighbor_id"))
        .select(col("a.query_id").as("query_id"),
          col("a.neighbor_id").as("n1"), col("b.neighbor_id").as("n2"),
          graft.plans.NativeExpressions.cosine(col("a.v"), col("b.v")).as("sim"))
      val sims = half.unionByName(half.select(col("query_id"),
        col("n2").as("n1"), col("n1").as("n2"), col("sim")))
      graft.ext.Retrieval.mmrRerank(cand, sims, k = 5, lambda = MmrLambda)
        .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
          round(col("score"), 6).as("score_r"))
    }),

    // exact equi-depth histogram boundaries (the ANALYZE histogram a
    // cost-based optimizer loads): bucket i's upper bound = the value at
    // global sorted position n·i/k, via the distributed exact rank (range
    // exchange + partitioned window + broadcast offsets — no global sort,
    // no single reducer). The emitted VALUE at a position is tie-
    // invariant, so ranking on the value alone is safe here even though
    // tied ranks themselves are placement-dependent. Money as cents
    "q_equidepth_hist" -> ((s, dir) => {
      import s.implicits._
      val k = 8
      val vals = t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val (ranked, n) = graft.operators.GlobalRank.withGlobalRankAndCount(
        vals, Seq(col("cents")), "r")
      // fewer rows than buckets would silently drop boundary positions
      // (n·i/k−1 repeats or goes negative) — fail loudly instead
      require(n >= k, s"q_equidepth_hist: $n rows < $k buckets")
      val posDf = (1 to k).map(i => (n * i / k - 1, i.toLong)).toDF("r", "bucket")
      ranked.join(broadcast(posDf), "r")
        .select(col("bucket"), col("cents").as("upper_cents"))
    }),

    // embedding-space anisotropy audit (Similarity.embeddingProfile):
    // the cosine-to-centroid distribution every team checks before
    // trusting cosine ANN — a cone-collapsed space piles all mass into
    // the top bins. Centroid = micro-quantized exact mean (bigint sums,
    // one division/dim); cosines micro-quantized BEFORE binning so bin
    // edges are integer arithmetic; report rows are pure integers
    "q_embedding_stats" -> ((s, dir) => {
      Similarity.embeddingProfile(t(s, dir, "embeddings"), "vec_id", "embedding")
    }),

    // MRR@10 of the IVF index: per query, where does the approximate
    // list place the TRUE nearest (non-self) neighbor — the
    // single-answer retrieval metric alongside recall (hit counting)
    // and nDCG (graded). rr is ONE IEEE division per query (0.0 when
    // the target misses the top-10); no cross-query float sum exists to
    // disagree on — the aggregate mean is the consumer's single
    // division over these rows
    "q_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val target = stagedExactNeighbors(s, dir).where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))
      val (cent, assigned) = stagedIvf16(s, dir)
      val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10, nprobe = 4)
      val hit = approx.join(target, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("target_rank"))
      queries.select(col("qid").as("query_id"))
        .join(hit, Seq("query_id"), "left")
        .select(col("query_id"), col("target_rank"),
          when(col("target_rank").isNull, lit(0.0d))
            .otherwise(lit(1.0d) / col("target_rank").cast("double")).as("rr"))
    }),

    // graded retrieval evaluation: nDCG@10 of the IVF index (nprobe 4 —
    // deliberately mid-curve, so the metric has something to measure)
    // against the exact ideal. Gains are EXACT-rank-derived integers
    // (rel = 11 − exact_rank for the true top-10, else 0); the DCG sum is
    // a FIXED-ORDER 10-term chain with discount reciprocals embedded as
    // identical double literals in both engines (generated from one
    // Scala computation — engine log2's last ulp never enters). Extends
    // the recall family (hit counting) with the graded, position-aware
    // metric ranking teams actually tune on
    "q_retrieval_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = stagedExactNeighbors(s, dir)
      val (cent, assigned) = stagedIvf16(s, dir)
      val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10, nprobe = 4)
      val rel = approx.select(col("query_id"), col("neighbor_id"), col("rank"))
        .join(exact.select(col("query_id"), col("neighbor_id"),
          (lit(11L) - col("rank")).as("rel")),
          Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
      val pivots = (1 to 10).map(i =>
        max(when(col("rank") === i, col("rel"))).as(s"t$i"))
      val dcg = (1 to 10).map(i =>
        coalesce(col(s"t$i"), lit(0L)).cast("double") * lit(NdcgRecip(i)))
        .reduce(_ + _) // left-associated, same chain as the oracle
      rel.groupBy(col("query_id"))
        .agg(pivots.head, pivots.tail: _*)
        .select(col("query_id"),
          round(dcg, 6).as("dcg_r"),
          round(dcg / lit(NdcgIdeal), 6).as("ndcg_r"))
    }),

    // hour-of-week SEASONAL deviation profile: trim to exactly 4 full
    // weeks from the first event (uniform cell occupancy), densify the
    // (type, hour-index) grid to zero-filled cells (the q_gap_fill
    // discipline — missing hours are data, not absent rows), baseline
    // each (type, hour-of-week) cell over its 4 weekly observations, and
    // report the top-50 deviations by the FRACTION-FREE integer score
    // |4·cnt − Σcell| — the weekly-pattern monitor q_anomaly's rolling
    // window cannot express (a quiet Sunday 3am is normal seasonally,
    // anomalous to a rolling mean). Pure integers end to end; top-k is
    // TakeOrdered with a total-order tie-break
    "q_seasonal_profile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val us = graft.sources.Tables.tsMicros(col("ts"))
      val t0 = ev.agg(min(us).as("t0"))
      val hourUs = 3600000000L
      val inWin = ev.crossJoin(broadcast(t0))
        .where(us < col("t0") + lit(28L * 24L * hourUs))
        .select(col("event_type"),
          // one IEEE division + floor, replayed op-for-op by the oracle:
          // deltas <= 2.4e12 us are exact doubles and quotients near an
          // integer k sit ~1e-10 away — far outside double spacing at
          // magnitude ~672, so floor never flips
          floor((us - col("t0")).cast("double") / lit(hourUs.toDouble))
            .cast("long").as("hour_idx"))
      val sparse = inWin.groupBy(col("event_type"), col("hour_idx"))
        .agg(count(lit(1)).as("cnt"))
      // dense zero-filled skeleton: 672 hours x the type dictionary
      val hours = t0.select(explode(sequence(lit(0L), lit(28L * 24L - 1L))).as("hour_idx"))
      val types = ev.select(col("event_type")).distinct()
      val dense = hours.crossJoin(broadcast(types))
        .join(sparse, Seq("event_type", "hour_idx"), "left")
        .select(col("event_type"), col("hour_idx"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("how", (col("hour_idx") % (7L * 24L)).cast("long"))
      val base = dense.groupBy(col("event_type"), col("how"))
        .agg(sum(col("cnt")).as("cell_sum"), count(lit(1)).as("n_obs"))
      dense.join(base, Seq("event_type", "how"))
        .select(col("event_type"), col("hour_idx"), col("how"), col("cnt"),
          col("cell_sum"),
          (col("cnt") * col("n_obs") - col("cell_sum")).as("dev_scaled"))
        .orderBy(abs(col("dev_scaled")).desc, col("event_type"),
          col("hour_idx"))
        .limit(50)
    }),

    // image near-dup CLUSTERS: the dHash-Hamming pair graph resolved to
    // min-id components by the SAME two-tier cluster machinery text dedup
    // uses (bounded driver union-find -> star-contraction fallback) —
    // image dedup gets the identical keeper semantics, and the oracle the
    // identical recursive-closure convention
    "q_image_dup_clusters" -> ((s, dir) => {
      Dedup.resolveDuplicateClusters(
        Multimodal.nearDuplicatesFromFingerprints(
          stagedImageFingerprints(s, dir), maxHamming = 3))
    }),

    // event-time tumbling-window aggregation (batch form of the streaming
    // hourly agg — same transform feeds readStream in graft.streaming)
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // time-series gap-fill: densify the sparse hourly counts to EVERY
    // (hour, event_type) cell between the corpus's first and last hour,
    // zero-filled — the resample step before any windowed model sees the
    // series. Scale: the only data-sized shuffle is the hourly aggregation;
    // the dense skeleton is sequence()+explode over a single-row bounds
    // aggregate crossed with the distinct types — bounded by the time
    // domain (hours × types), never by corpus rows
    // out-of-orderness (lateness) profile — the measurement that SIZES a
    // streaming watermark: each event's lateness is how far the per-user
    // running max event time had already advanced past it on ARRIVAL; the
    // histogram over hour buckets (capped at 24h+) says what delay bound
    // covers which fraction of events. The fixture's event_id order IS
    // time order (zero disorder — a degenerate check), so arrival is
    // synthesized deterministically by reversing 64-id ingest blocks (the
    // synthesizeMedia discipline: a shuffled delivery the oracle replays
    // with the same integer arithmetic). One user-hash exchange (window),
    // then a bounded-bucket map-combined rollup; integer micros end to end
    "q_lateness_profile" -> ((s, dir) => {
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val arr = expr("(event_id div 64) * 64 + 63 - (event_id % 64)")
      val w = Window.partitionBy(col("user_id")).orderBy(col("__arr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), arr.as("__arr"), tsUs.as("__us"))
        .withColumn("__late_us", max(col("__us")).over(w) - col("__us"))
        .select(least(expr("__late_us div 3600000000"), lit(24L)).as("late_hours"))
        .groupBy(col("late_hours"))
        .agg(count(lit(1)).as("n_events"))
    }),

    "q_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sparse = ev
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      val hours = bounds.select(
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val types = ev.select(col("event_type")).distinct()
      hours.crossJoin(broadcast(types))
        .join(sparse, Seq("hour", "event_type"), "left")
        .select(col("hour"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    }),

    // as-of temporal join: each purchase paired with the user's most recent
    // preceding view (ordered running-max over a typed timestamp — no
    // self-join, one shuffle on user_id)
    "q_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("prev_view_ts",
          max(when(col("event_type") === "view", col("ts"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("prev_view_ts"))
    }),

    // event debounce: drop an event arriving within 10 minutes of the
    // PREVIOUS same-type event for the user (duplicate-fire telemetry
    // cleanup). Time deltas compare exact integer micros (Tables.tsMicros /
    // epoch_us) — a seconds cast would truncate sub-second gaps
    // differently per engine, and bare unix_micros is an analysis error on
    // the fixture's TIMESTAMP_NTZ ts. Same single user-hash exchange as
    // q_scd2.
    "q_event_dedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .where(col("prev_ts").isNull ||
          graft.sources.Tables.tsMicros(col("ts")) -
            graft.sources.Tables.tsMicros(col("prev_ts")) > 600000000L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    }),

    // absence-constrained sequence detection (the MATCH_RECOGNIZE-shaped
    // pattern a funnel can't express): purchases whose nearest preceding
    // view is within 1 hour with NO click after that view — "impulse
    // purchase". ONE window pass computes both last-view and last-click
    // micros over the same (user, ts, event_id) frame (current row
    // excluded), so the negative condition costs no anti-join and no
    // second exchange; ties at the same microsecond resolve by the
    // deterministic (ts, event_id) order both engines share
    "q_pattern_match" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val us = graft.sources.Tables.tsMicros(col("ts"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("last_view_us",
          max(when(col("event_type") === "view", us)).over(w))
        .withColumn("last_click_us",
          max(when(col("event_type") === "click", us)).over(w))
        .where(col("event_type") === "purchase" &&
          col("last_view_us").isNotNull &&
          us - col("last_view_us") <= 3600000000L &&
          (col("last_click_us").isNull ||
            col("last_click_us") <= col("last_view_us")))
        .select(col("user_id"), col("event_id"), col("ts"),
          (us - col("last_view_us")).as("us_since_view"))
    }),

    // SCD2 interval building: collapse each user's event stream into
    // (state, valid_from, valid_to, is_current) rows — the warehouse
    // change-history primitive. Consecutive same-state events fold into
    // one run (lag-gate + running sum = run id), runs become half-open
    // intervals via lead(). All window keys carry the (ts, event_id)
    // tie-break; run ids/counts are integer. One shuffle on user_id,
    // shared by both windows and the aggregation.
    "q_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runs = t(s, dir, "events")
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
      runs.groupBy(col("user_id"), col("run_id"))
        .agg(min(col("event_type")).as("state"),
          min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("run_id"), col("state"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))
    }),

    // the raw-web capstone funnel — the whole ingest chain composed:
    // synthesized HTML pages → boilerplate extraction → content gate
    // (low link density + minimum text) → exact dedup on the CLEAN text
    // → near-dedup survivors → the kept set's whitespace-token total
    // (what actually lands in the training mix). Every stage row is a
    // count off the previous stage's frame — the funnel report a corpus
    // release ships. Near-dedup is the EXACT word-3-gram PPJoin at 0.8
    // on the cleaned text — the oracle replays extraction + gates + the
    // posting-list exact pairs + the closure, and exactness must hold at
    // ANY scale: the earlier minhash banding (128 hashes / 16 bands)
    // hash-matched at the sf0.01 gate but dropped a borderline true pair
    // (0.8 <= j < 0.9) at sf0.1 — LSH recall near the threshold is
    // probabilistic by construction, which is fine for the LSH showcase
    // queries whose fixtures keep a margin, and wrong for a release
    // report whose oracle is exact. Word shingles, not char: the char-5
    // PPJoin was measured 5x slower here (per-doc sets ~6x larger, vocab
    // in the millions) for the same dedup semantics; the HASH-ORDER
    // prefix variant, not the df-ordered one: on this mid-size dedup
    // stage the df dictionary/rank/window passes dominate (measured
    // 6.1 vs 3.x s end-to-end), and losslessness is order-agnostic
    // (CurationProps pins pair-set equality of the two variants)
    "q_web_corpus_funnel" -> ((s, dir) => {
      // the extraction product comes pre-STAGED (stagedWebExtract) — the
      // per-call localCheckpoint this replaces materialized the same
      // frame once per RUN; the staged form pays it once per (input,
      // code) and every stage count plus the near-dup pipeline reads
      // parquet. Extraction preserves row count (one report row per
      // page), so the 0_pages stage counts the staged frame itself.
      val ex = stagedWebExtract(s, dir)
        .select(col("doc_id"), col("text_clean"), col("text_len"),
          col("link_density"))
      val gated = ex.where(col("link_density") <= 0.5 && col("text_len") >= 50)
      val exact = gated.groupBy(col("text_clean"))
        .agg(min(col("doc_id")).as("doc_id"))
      val pairs = Dedup.hashOrderJaccardPairs(
        exact.select(col("doc_id"), col("text_clean").as("text")),
        "doc_id", "text", ngram = 3, threshold = 0.8,
        // the input is the gate + exact-dedup SUB-PLAN, not a scan: one
        // prep materialization replaces three replays of it (measured
        // ~2.5 -> ~1.7 s steady-state at sf0.1)
        materializePrep = true)
        .select(col("id_a"), col("id_b"))
      val dropped = Dedup.resolveDuplicateClusters(pairs)
        .where(col("id") =!= col("keep_id")).select(col("id").as("doc_id"))
      val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
      ex.agg(count(lit(1)).as("n"))
        .select(lit("0_pages").as("stage"), col("n"))
        .unionByName(gated.agg(count(lit(1)).as("n"))
          .select(lit("1_content_gate").as("stage"), col("n")))
        .unionByName(exact.agg(count(lit(1)).as("n"))
          .select(lit("2_exact_dedup").as("stage"), col("n")))
        .unionByName(kept.agg(count(lit(1)).as("n"))
          .select(lit("3_near_dedup").as("stage"), col("n")))
        .unionByName(kept.agg(
            coalesce(sum(TF.tokenCount(col("text_clean")).cast("long")), lit(0L)).as("n"))
          .select(lit("4_kept_tokens").as("stage"), col("n")))
    }),

    // calibration / reliability curve for the q_classifier_eval scorer:
    // per integer score bin, observed positive rate vs bin population —
    // the diagram read before trusting a threshold. Binning is integer
    // arithmetic on the raw score (no float edges), counts are exact,
    // one IEEE division per bin row
    "q_calibration_curve" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(col("lang").isNotNull)
        .select(least(floor(col("n_chars") / 100).cast("long"), lit(9L)).as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
        .withColumn("pos_rate",
          col("n_pos").cast("double") / col("n").cast("double"))
    }),

    // freshness/staleness gate: per event type, how far its latest event
    // lags the feed's global latest — the ingest-health row a pipeline
    // checks before publishing a snapshot (a silently stalled source
    // shows up as a growing lag, not an error). Integer micros
    // throughout; the global max joins back as a broadcast single row
    "q_freshness_gate" -> ((s, dir) => {
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val perType = t(s, dir, "events")
        .groupBy(col("event_type")).agg(max(tsUs).as("latest_us"))
      val global = perType.agg(max(col("latest_us")).as("global_us"))
      perType.crossJoin(broadcast(global))
        .select(col("event_type"),
          expr("(global_us - latest_us) div 3600000000").as("lag_hours"),
          (col("global_us") - col("latest_us") <= 72L * 3600000000L).as("fresh"))
    }),

    // purged, embargoed temporal 5-fold CV plan (López de Prado's purged
    // k-fold): equal-width test windows over the event-time axis, a 6 h
    // embargo purged from BOTH edges so the 24 h label window
    // (q_label_window) and trailing features (q_rolling_features) cannot
    // straddle a fold boundary. Exact integer micros arithmetic only —
    // window bounds via long `div`, counts as conditional sums; the audit
    // invariant test_n + train_n + purged_n = total holds per fold
    "q_purged_folds" -> ((s, dir) => {
      graft.ext.Sampling.purgedTimeFolds(
        t(s, dir, "events"),
        graft.sources.Tables.tsMicros(col("ts")),
        k = 5, embargoUs = 6L * 3600L * 1000000L)
    }),

    // right-to-be-forgotten scoping report: erase subjects (custkey ≡ 1
    // mod 97), cascade through the FK chain (orders by o_custkey,
    // lineitem by the affected ORDER keys, events by user_id), and count
    // would-be-deleted vs retained rows per table — the audit a deletion
    // job publishes before the destructive pass. Cascaded key sets are
    // derived explicitly (keys-only semi-join), each fact table is
    // scanned once reading only its key column
    "q_erasure_audit" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val subj = cust.where(col("c_custkey") % 97 === 1)
        .select(col("c_custkey").as("k"))
      val ordKeys = ord
        .join(subj.select(col("k").as("o_custkey")), Seq("o_custkey"), "left_semi")
        .select(col("o_orderkey").as("k"))
      graft.ext.Privacy.erasureAudit(Seq(
        ("customer", cust, "c_custkey", subj),
        ("events", t(s, dir, "events"), "user_id", subj),
        ("lineitem", t(s, dir, "lineitem"), "l_orderkey", ordKeys),
        ("orders", ord, "o_custkey", subj)))
    }),

    // trailing-window feature materialization: per event, the user's
    // activity count and spend over the PRECEDING 7 days (range frame on
    // the micros axis — a row frame would be wrong under irregular event
    // spacing). The per-user window is one hash exchange + in-partition
    // sort; integer micros and cents keep the frame edges and sums exact
    "q_rolling_features" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      ev.select(col("event_id"), col("user_id"), tsUs.as("__us"),
          floor(col("value") * 100 + 0.5).cast("long").as("__cents"))
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("cents_7d", sum(col("__cents")).over(w))
        .select(col("event_id"), col("user_id"), col("n_7d"), col("cents_7d"))
    }),

    // future-window label generation — the training-label counterpart of
    // the PIT join: for each view, did the user purchase within the NEXT
    // 24 hours (strictly after the view — the label window must not see
    // the labeling instant itself)? Per-user equi-join + time-range
    // predicate, grouped to one 0/1 label per view
    "q_label_window" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tsUs = graft.sources.Tables.tsMicros(col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), tsUs.as("v_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), tsUs.as("p_us"))
      views.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_us") > col("v_us") &&
            col("p_us") <= col("v_us") + 86400L * 1000000L, "left")
        .groupBy(col("event_id"))
        .agg(max(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("label"))
    }),

    // point-in-time (PIT) join — the feature-store correctness move: each
    // purchase is enriched with the dimension version VALID AT ITS EVENT
    // TIME, never a later one (joining the current version would leak
    // future state into training features). The dimension is the SCD2
    // run history of a user's view-derived tier; purchases BEFORE the
    // user's first view keep a NULL tier (the honest "no profile yet"
    // row a leaky join would silently backfill). Equi-join on the user
    // key + interval containment — per-user versions × purchases, never
    // a cross product; both sides co-partition on user_id at scale
    "q_pit_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * 10).cast("long").as("tier"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runs = views
        .withColumn("chg",
          when(lag(col("tier"), 1).over(w).isNull ||
            lag(col("tier"), 1).over(w) =!= col("tier"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
      val dim = runs.groupBy(col("user_id"), col("run_id"))
        .agg(min(col("tier")).as("tier"), min(col("ts")).as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .select(col("user_id").as("d_user"), col("tier"),
          col("valid_from"), col("valid_to"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      purchases.join(dim,
          purchases("user_id") === dim("d_user") &&
            dim("valid_from") <= purchases("ts") &&
            (dim("valid_to").isNull || purchases("ts") < dim("valid_to")),
          "left")
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    }),

    // incremental aggregate maintenance (materialized-view pattern): the
    // per-user stats state is built separately over the history (80% of
    // events) and a delta batch (20%), then MERGED on state rows — the
    // answer must equal a full recompute, which is exactly what the
    // oracle runs. Merging works because every state column is algebraic:
    // counts and INTEGER-cents sums merge by sum (long addition is
    // order-independent — a double sum would not verify), first/last by
    // min/max. At 100 TB the history is scanned once ever; maintenance
    // cost tracks keys + delta, not history.
    "q_incremental_agg" -> ((s, dir) => {
      val events = t(s, dir, "events")
      def state(df: DataFrame) = df.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_cents"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      val history = state(events.where(col("event_id") % 10 < 8))
      val delta = state(events.where(col("event_id") % 10 >= 8))
      graft.operators.Incremental.mergeStates(Seq(history, delta), Seq("user_id"),
          Seq("n_events" -> "sum", "sum_cents" -> "sum",
            "first_ts" -> "min", "last_ts" -> "max"))
        .select(col("user_id"), col("n_events"),
          (col("sum_cents").cast("double") / lit(100.0d)).as("sum_value"),
          col("first_ts"), col("last_ts"))
    }),

    // the HOLISTIC counterpart of q_incremental_agg: per-type distinct
    // users cannot merge as an algebraic state, so the state is an HLL
    // sketch (DataSketches via hll_sketch_agg) and merge = sketch union —
    // same history-scanned-once contract, bounded error instead of
    // exactness. Sketch internals are engine-specific, so the query emits
    // the ORACLE-DECIDABLE contract: the exact distinct count (which
    // DuckDB recomputes over the full table — history ∪ delta partitions
    // it exactly) plus `within_bound` — the MERGED estimate sat within 5%
    // (~3σ at the default lgK=12 rsd of 1.6%) of the exact count. The
    // merge still runs; only the boolean escapes, so a broken union flips
    // the hash. GroundTruthSpec additionally pins merge == single-pass.
    "q_incremental_distinct" -> ((s, dir) => {
      val events = t(s, dir, "events")
      def state(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val history = state(events.where(col("event_id") % 10 < 8))
      val delta = state(events.where(col("event_id") % 10 >= 8))
      val merged = history.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(hll_union_agg(col("sk")).as("merged"))
        .select(col("event_type"),
          hll_sketch_estimate(col("merged")).as("__approx"))
      val exact = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__approx") - col("exact_users").cast("double")) <=
            lit(0.05d) * col("exact_users").cast("double")).as("within_bound"))
    }),

    // per-user aggregate profile — batch semantics of the streaming
    // flatMapGroupsWithState operator in graft.streaming
    "q_user_stats" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          dsum(col("value")).as("sum_value"))
    }),

    // full near-dup pipeline: MinHash pairs -> connected-component clusters
    // -> keeper per cluster. Value-checked: the oracle rebuilds the exact
    // pair set in DuckDB and resolves components with a recursive-CTE
    // transitive closure (keeper = component minimum, same contract)
    "q_near_dup_clusters" -> ((s, dir) => {
      Dedup.resolveDuplicateClusters(stagedMinhashPairs(s, dir))
    }),

    // policy-driven dedup keeper: same near-dup clusters, but keep the
    // LONGEST member (max n_chars, min doc_id tiebreak) instead of the
    // min id — the curation rule real pipelines want ("keep the best
    // copy"). Oracle replays the recursive closure + a rank-1 argmax
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBestPerCluster(
        Dedup.resolveDuplicateClusters(stagedMinhashPairs(s, dir)),
        docs.select(col("doc_id").as("id"), col("n_chars").as("priority")))
    }),

    // field-level survivorship (MDM golden record) — the step AFTER the
    // row-level keeper q_dedup_keep_best: each cluster merges into one
    // record whose fields follow per-field rules (name from the LATEST
    // non-null version, segment from the EARLIEST, balance as the max).
    // The fixture fans each customer into 1-3 source-system versions
    // with deterministically planted nulls and version-suffixed values,
    // so the rules pick DIFFERENT members per field. One cluster-keyed
    // map-combinable aggregation (struct-argmax per rule; no windows)
    "q_golden_record" -> ((s, dir) => {
      val k = col("c_custkey")
      val v = col("v")
      val recs = t(s, dir, "customer")
        .select(k, col("c_name"), col("c_mktsegment"), col("c_acctbal"),
          explode(sequence(lit(0L), k.cast("long") % 3)).as("v"))
        .select(k, v,
          when((k + v * 7) % 3 =!= 0,
            concat(col("c_name"), lit("-v"), v)).as("name"),
          when((k + v * 5) % 4 =!= 0,
            concat(col("c_mktsegment"), lit("/"), v)).as("segment"),
          (col("c_acctbal") + v).as("acctbal"))
      Dedup.goldenRecords(recs, "c_custkey", "v",
        Seq("name" -> "latest", "segment" -> "earliest", "acctbal" -> "max"))
    }),

    // the composed training-data cleaning funnel: sanitize -> quality
    // filter -> exact dedup -> near-dup removal, reported as per-stage
    // survivor counts — value-checked end-to-end by the q_clean_corpus
    // oracle, which replays every stage in SQL (near-dup via exact pairs
    // + recursive-CTE components)
    "q_clean_corpus" -> ((s, dir) => {
      graft.ext.CorpusPipeline.funnel(t(s, dir, "documents"), "doc_id", "text")
    }),

    // sessionization with 30-minute inactivity gap (session_window batch
    // form; oracle emulates via lag + cumulative sum)
    "q_sessions" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("session_start"),
          col("user_id"), col("n_events"))
    }),

    // ordered conversion funnel (view -> click-after-view ->
    // purchase-after-click): each stage is a type-pruned scan (predicate
    // reaches the parquet reader) aggregated per user, joined on user_id —
    // at scale all three frames co-partition on the user key; no window
    // over the raw event stream, no per-user sort
    "q_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val c = e.where(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .where(col("ts") > col("first_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .where(col("ts") > col("first_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("first_purchase").isNotNull, lit(3))
            .when(col("first_click").isNotNull, lit(2))
            .otherwise(lit(1)).as("stage"),
          col("first_view"), col("first_click"), col("first_purchase"))
    }),

    // weekly cohort-retention matrix: cohort = the user's first active
    // week; one distinct-user count per (cohort, weeks_since) cell. The
    // per-user first-week frame joins back on the user key (co-partitioned
    // with the activity frame); week deltas are exact multiples of 7 days
    // so the int cast never truncates a fraction
    "q_cohort_retention" -> ((s, dir) => {
      val wk = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      wk.join(first, Seq("user_id"))
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / lit(7)).cast("int").as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // population-stability-index drift between two md5-gated corpus
    // snapshots: fixed-width integer bins over snapshot A's [min, max]
    // (broadcast one-row bounds; integer arithmetic, so binning is exact
    // in both engines), Laplace-smoothed bin shares, per-bin PSI
    // contribution micro-nat-quantized. Two narrow corpus scans (a min/max
    // pre-pass, then the binning pass — a window for the bounds would
    // shuffle the corpus instead); bin-count frames are tiny (nbins rows),
    // totals ride a window over them
    "q_drift_psi" -> ((s, dir) => {
      val nbins = 10
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Sampling.hashGate(col("doc_id"), 0.5, "snapA").as("__a"))
      val bounds = d.where(col("__a"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      val counts = d.join(broadcast(bounds))
        .withColumn("bin", least(lit(nbins - 1), greatest(lit(0),
          floor((col("n_chars") - col("lo")) * lit(nbins) /
            (col("hi") - col("lo") + lit(1))).cast("int"))))
        .groupBy(col("bin"))
        .agg(sum(when(col("__a"), lit(1L)).otherwise(lit(0L))).as("n_a"),
             sum(when(!col("__a"), lit(1L)).otherwise(lit(0L))).as("n_b"))
      val w = Window.partitionBy()
      val pa = (col("n_a") + lit(1L)).cast("double") /
        (sum(col("n_a")).over(w) + lit(nbins.toLong)).cast("double")
      val pb = (col("n_b") + lit(1L)).cast("double") /
        (sum(col("n_b")).over(w) + lit(nbins.toLong)).cast("double")
      counts
        .select(col("bin"), col("n_a"), col("n_b"),
          floor((pa - pb) * log(pa / pb) * lit(1e6d) + lit(0.5d)).cast("long")
            .as("psi_unats"))
    }),

    // first-order Markov transition matrix over each user's event stream
    // (sequence-model prep): lag pairs ride the same one user-hash
    // exchange as q_scd2, the 5x5 count matrix is tiny, and each
    // probability is one exact int/int IEEE division
    "q_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
    }),

    // group-wise OLS trend (slope/intercept/Pearson r of order value vs
    // days since 1995-01-01): one aggregation of exact integer moment sums
    // per group — cents x epoch-day products stay in long range per row,
    // and the n*Sxy-style combinations widen to decimal(38,0) BEFORE
    // multiplying (n*Sxy alone passes 2^63 near ~10M rows/group — the
    // 100x-scale overflow this shape is built to survive; decimal sums
    // stay exact to 1e38). Only the final slope/intercept/r steps leave
    // integers, each a single IEEE op chain replayed identically by the
    // oracle, rounded to 6 decimals
    "q_trend_slope" -> ((s, dir) => {
      def dec(c: Column) = c.cast("decimal(38,0)")
      val o = t(s, dir, "orders").select(
        col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x"),
        cents(col("o_totalprice")).as("y"))
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"),
          sum(dec(col("y")) * dec(col("y"))).as("syy"))
        .withColumn("num", dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
        .withColumn("den", dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
        .withColumn("dyy", dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
        .withColumn("slope_cents_per_day",
          round(col("num").cast("double") / col("den").cast("double"), 6))
        .withColumn("intercept_cents",
          round(col("sy").cast("double") / col("n").cast("double") -
            col("slope_cents_per_day") *
              (col("sx").cast("double") / col("n").cast("double")), 6))
        .withColumn("pearson_r",
          round(col("num").cast("double") /
            sqrt(col("den").cast("double") * col("dyy").cast("double")), 6))
        .select(col("o_orderpriority"), col("n"),
          col("slope_cents_per_day"), col("intercept_cents"), col("pearson_r"))
    }),

    // referential-integrity audit across the star schema's FK relations:
    // orphan children (FK with no parent) and childless parents, one row
    // per relation. Anti-joins hash on the key — at 100 TB each relation
    // co-partitions parent and child on the FK and the four audits run as
    // independent narrow scans (only the key column is read)
    "q_ri_audit" -> ((s, dir) => {
      def rel(name: String, parent: DataFrame, pk: String,
          child: DataFrame, fk: String): DataFrame = {
        val p = parent.select(col(pk).as("k"))
        val c = child.select(col(fk).as("k"))
        p.agg(count(lit(1)).as("n_parent"))
          .join(c.agg(count(lit(1)).as("n_child")))
          .join(c.join(p, Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphan_child")))
          .join(p.join(c.select(col("k")).distinct(), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_childless_parent")))
          .select(lit(name).as("relation"), col("n_parent"), col("n_child"),
            col("n_orphan_child"), col("n_childless_parent"))
      }
      rel("customer->orders", t(s, dir, "customer"), "c_custkey",
          t(s, dir, "orders"), "o_custkey")
        .unionByName(rel("orders->lineitem", t(s, dir, "orders"), "o_orderkey",
          t(s, dir, "lineitem"), "l_orderkey"))
        .unionByName(rel("part->lineitem", t(s, dir, "part"), "p_partkey",
          t(s, dir, "lineitem"), "l_partkey"))
        .unionByName(rel("nation->customer", t(s, dir, "nation"), "n_nationkey",
          t(s, dir, "customer"), "c_nationkey"))
    }),

    // top-20 three-step event paths (clickstream flow mining): two lags
    // on the same user-hash exchange every sequence operator shares, then
    // a count over the tiny path vocabulary; top-k is a TakeOrdered with
    // the path string as tie-break, never a full sort
    "q_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("p1", lag(col("event_type"), 1).over(w))
        .withColumn("p2", lag(col("event_type"), 2).over(w))
        .where(col("p2").isNotNull)
        .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc)
        .limit(20)
    }),

    // per-document character-distribution entropy (micro-nat quantized,
    // order-independent integer sum — the unigram-LM idiom at char level)
    // via the native one-pass [[graft.plans.CharEntropy]] kernel; the
    // oracle replays it with string_split + GROUP BY. The cheap
    // mojibake/filler gate before tokenization
    "q_char_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.NativeExpressions.charEntropy(col("text")).as("__e"))
        .where(col("__e").isNotNull)
        .select(col("doc_id"), col("__e.n_cp").as("n_cp"),
          col("__e.ent_unats").as("ent_unats"))
    }),

    // per-user training sequences: the time-ordered LAST-8 event types,
    // joined into one string (the sequence-model feature-prep primitive).
    // One groupBy on the user key; ordering rides inside the row via
    // array_sort over (ts, event_id, type) structs — no window, no second
    // shuffle. At 100 TB the collect_list is bounded by the per-user
    // event count; cap with a pre-filter (e.g. recent N days) when user
    // streams are unbounded
    "q_user_sequences" -> ((s, dir) => {
      val arr = array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type"))))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), arr.as("__a"))
        .select(col("user_id"), col("n_events"),
          array_join(
            transform(
              slice(col("__a"), greatest(size(col("__a")) - lit(7), lit(1)), lit(8)),
              _.getField("event_type")),
            ">").as("seq"))
    }),

    // sorted-neighborhood linkage (Hernandez-Stolfo): the OTHER classic
    // candidate-generation strategy next to q_fuzzy_match's blocking —
    // sort the (distinct-value) dictionary by a cluster-friendly key and
    // compare each entry only with its next 3 neighbors in sort order.
    // The key is the token-REVERSED name (noun first): likely duplicates
    // differ in the leading adjective, so raw string order scatters them
    // while the reversed key makes them adjacent — key design is the
    // method's whole game. The neighbor generation is DISTRIBUTED
    // (Dedup.sortedNeighborhoodPairs): range partition + exact global
    // rank + dense-rank band join — no single-partition window anywhere
    // (PlanSpec asserts it), same pair set as the global sort
    "q_sorted_neighborhood" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .select(col("p_name")).distinct()
        .withColumn("skey",
          concat_ws(" ", reverse(split(col("p_name"), " "))))
      graft.ext.Dedup.sortedNeighborhoodPairs(names, "skey", "p_name", window = 3)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .where(col("dist") <= 2)
    }),

    // Jaro-Winkler linkage scoring over the blocked dictionary pairs —
    // the similarity-weighted refinement of q_fuzzy_match's boolean gate,
    // via the native [[graft.plans.JaroWinkler]] expression (Spark has no
    // built-in; one tight loop per pair). Scores are RAW doubles: every
    // division is replayed in the same order by DuckDB's
    // jaro_winkler_similarity, so the hash match value-checks the custom
    // expression itself
    "q_jaro_rank" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .select(col("p_name")).distinct()
        .withColumn("block", element_at(split(col("p_name"), " "), 2))
      names.as("a").join(names.as("b"),
          col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          graft.plans.NativeExpressions.jaroWinkler(
            col("a.p_name"), col("b.p_name")).as("jw"))
        .where(col("jw") >= 0.8d)
    }),

    // inclusion-dependency discovery (SPIDER/SINDY-style FK profiling):
    // score candidate column pairs by the inclusion coefficient
    // |distinct(child) ∩ distinct(parent)| / |distinct(child)| — true FKs
    // score 1.0, reversed and spurious candidates fall below. Each
    // candidate is two distinct sets and one key-only semi-join (the
    // coefficient is one exact int/int division); at 100 TB swap the
    // exact distincts for bottom-k sketches per column — same join shape
    // over the sketch tables
    "q_fk_discovery" -> ((s, dir) => {
      def incl(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val c = child.select(col(ck).as("k")).where(col("k").isNotNull).distinct()
        val p = parent.select(col(pk).as("k")).where(col("k").isNotNull).distinct()
        c.agg(count(lit(1)).as("n_child_distinct"))
          .join(c.join(p, Seq("k"), "left_semi")
            .agg(count(lit(1)).as("n_matched")))
          .select(lit(name).as("candidate"), col("n_child_distinct"),
            col("n_matched"),
            (col("n_matched").cast("double") /
              col("n_child_distinct").cast("double")).as("inclusion"))
      }
      incl("orders.o_custkey->customer.c_custkey",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey")
        .unionByName(incl("lineitem.l_partkey->part.p_partkey",
          t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionByName(incl("customer.c_nationkey->nation.n_nationkey",
          t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .unionByName(incl("events.user_id->customer.c_custkey",
          t(s, dir, "events"), "user_id", t(s, dir, "customer"), "c_custkey"))
        .unionByName(incl("customer.c_custkey->orders.o_custkey",
          t(s, dir, "customer"), "c_custkey", t(s, dir, "orders"), "o_custkey"))
        .unionByName(incl("part.p_size->nation.n_nationkey",
          t(s, dir, "part"), "p_size", t(s, dir, "nation"), "n_nationkey"))
    }),

    // record-linkage candidate pairs: DICTIONARY-first fuzzy match — the
    // distinct-value frame (64 names, not 2 000 parts) is what gets
    // blocked and compared, the classic scale move for string linkage; the
    // block key (last name token) turns the would-be all-pairs scan into
    // a per-block equi-join, and levenshtein runs only inside blocks.
    // Both engines implement plain Levenshtein identically, so distances
    // are integer-exact
    // entity resolution END TO END — the composition a reference user
    // actually runs, each stage an already-proven operator: dirty-record
    // fixture (every 4th part gains a duplicate listing with a noised
    // name and bumped price) -> sorted-neighborhood blocking (the
    // distributed global rank, never all-pairs) -> native JaroWinkler
    // scoring at 0.9 (the gate a SHORT name's variant still clears:
    // jw("khaki...", "khaki... xx") falls with name length — 0.95
    // silently orphaned every short name's variant; bit-identical to
    // the oracle engine's
    // jaro_winkler_similarity) -> two-tier cluster resolution ->
    // field-level golden record (name from the EARLIEST record id = the
    // original listing, price as the max). Singletons keep themselves as
    // their own cluster via the left join + coalesce. On this fixture
    // (64 distinct names over 2000 parts) the same-name listings ALSO
    // consolidate — jw(x, x) = 1.0 — so the pipeline demonstrates both
    // exact-duplicate merging and fuzzy variant capture in one pass
    // (~82 golden records from ~2500 raw listings).
    "q_er_pipeline" -> ((s, dir) => {
      val recs = erRecords(s, dir)
      // MULTI-PASS neighborhood (the Hernandez-Stolfo remedy for any
      // single sort key's blind spots): pass 1 sorts by the full name,
      // pass 2 by its 3-word prefix — a variant separated from its
      // original in one order (interloper names between them) is
      // adjacent in the other. Candidate union, then one scoring pass.
      // The compared names ride the pair generation as payload columns
      // (names are id-determined, so the pair-level distinct is
      // unchanged) — scoring needs no re-join against the record table.
      // Both passes' GLOBAL RANKS come pre-STAGED (stagedErRanks): the
      // rank is window-independent, so per call only the explode + rank
      // equi-join runs.
      val (rankedName, rankedPkey) = stagedErRanks(s, dir)
      val cand = Dedup.sortedNeighborhoodPairsFromRanked(rankedName,
          window = 3, payload = Seq("name"))
        .unionByName(Dedup.sortedNeighborhoodPairsFromRanked(rankedPkey,
          window = 3, payload = Seq("name")))
        .distinct()
      val scored = cand
        .where(graft.plans.NativeExpressions.jaroWinkler(
          col("name_a"), col("name_b")) >= 0.9d)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.resolveDuplicateClusters(scored)
        .withColumnRenamed("id", "rec_id")
      val withCluster = recs.join(clusters, Seq("rec_id"), "left")
        .withColumn("cluster_id", coalesce(col("keep_id"), col("rec_id")))
        .select(col("cluster_id"), col("rec_id"), col("name"), col("price_cents"))
      Dedup.goldenRecords(withCluster, "cluster_id", "rec_id",
        Seq("name" -> "earliest", "price_cents" -> "max"))
    }),

    "q_fuzzy_match" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
        .withColumn("block", element_at(split(col("p_name"), " "), 2))
      names.as("a").join(names.as("b"),
          col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
        .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
        .where(col("dist") <= 2)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          col("dist"), col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"))
    }),

    // link prediction on the co-purchase graph: common-neighbor count
    // (integer-exact) + Adamic-Adar for every NON-adjacent pair — the
    // "customers also bought" candidate generator. Wedges at the middle
    // vertex with a stop-hub degree cap (see GraphOps.linkPrediction for
    // the Σ deg² skew bound), one pair-keyed agg, one anti-join
    "q_link_predict" -> ((s, dir) => {
      graft.graph.GraphOps.linkPrediction(stagedCoPurchaseSym(s, dir), "a", "b",
        minShared = 2, maxDegree = 1024, assumeSymmetric = true)
        .select(col("u"), col("w"), col("common_neighbors"), col("adamic_adar"))
    }),

    // incremental EXACT median: the holistic counterpart q_incremental_agg
    // (algebraic) and q_incremental_distinct (sketch) leave open — a
    // per-(key, value) count table is a MERGEABLE state for any rank
    // statistic when the domain is discrete (l_quantity: 50 values), so
    // history is scanned once ever and the median recomputes exactly from
    // merged state rows. Oracle = quantile_cont over the FULL table:
    // merge(history, delta) == recompute, bit-for-bit
    "q_incremental_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
          col("l_orderkey"))
      val history = li.where(col("l_orderkey") % 10 =!= 0)
      val delta = li.where(col("l_orderkey") % 10 === 0)
      val merged = graft.operators.Incremental.mergeStates(
        Seq(graft.operators.Incremental.valueCountState(history, Seq("l_returnflag"), "qty"),
          graft.operators.Incremental.valueCountState(delta, Seq("l_returnflag"), "qty")),
        Seq("l_returnflag", "qty"), Seq("cnt" -> "sum"))
      graft.operators.Incremental.quantileFromCounts(merged, Seq("l_returnflag"), "qty", 0.5)
        .select(col("l_returnflag"), col("quantile").as("median_qty"))
    }),

    // t-closeness audit — the third rung of the privacy ladder
    // (q_k_anonymity crowd size, q_l_diversity value variety, now
    // DISTRIBUTION distance): EMD of each QI group's account-balance-band
    // distribution from the global one, ordered-metric closed form
    "q_t_closeness" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val base = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      graft.ext.Privacy.tClosenessAudit(base,
        Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
        floor(col("c_acctbal") / lit(1000.0d)).cast("long"), t = 0.2)
        .select(col("qi_geo"), col("qi_segment"), col("group_size"),
          col("emd"), col("at_risk"))
    }),

    // ε-differentially-private count release (geometric mechanism,
    // ε = 1): per-(segment, nation) customer counts plus two-sided-
    // geometric noise from a 256-entry quantized inverse-CDF table,
    // clamped at 0. Noise is drawn deterministically per group key from
    // the portable md5-prefix family — the sticky-noise discipline that
    // stops averaging attacks across re-runs, and what lets the oracle
    // replay the release exactly (it consumes the SAME integer noise
    // table, generated by the same Scala function). One map-combined
    // aggregation; the noise lookup is a literal-array projection.
    "q_dp_release" -> ((s, dir) => {
      graft.ext.Privacy.dpNoisyCounts(
        t(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"),
        epsilon = 1.0, seed = "dp1:")
    }),

    // exponentially weighted moving average per user at the last event —
    // the sequential recurrence y_n = α·x_n + (1−α)·y_{n−1} in closed
    // weighted-sum form (one window pass + one agg, a single user-hash
    // exchange). α = 1/2 ON PURPOSE: every weight is a power of two, so
    // pow() and the per-term products are EXACT in both engines and the
    // oracle replays to the rounding digit
    "q_ewma" -> ((s, dir) => {
      graft.operators.TimeSeries.ewmaLast(t(s, dir, "events"),
        Seq("user_id"), Seq(col("ts"), col("event_id")), col("value"), alpha = 0.5)
        .select(col("user_id"), col("ewma"), col("n_points").as("n_events"))
    }),

    // rolling z-score anomaly flag over hourly event counts — the metric
    // monitor every event pipeline runs. The z² statistic is computed as a
    // RATIO OF INTEGERS ((n·x − S)² / (n·Q − S²), the population-variance
    // identity cleared of fractions): one IEEE division per row, so the
    // result is bit-exact cross-engine with no quantization at all —
    // counts, sums and squares all stay longs until the final divide
    "q_anomaly" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.TimeSeries.rollingAnomaly(hourly, Seq("event_type"),
        col("hour"), col("cnt"), lookback = 24, minPoints = 12, zThreshold = 2.0)
        .select(col("event_type"), col("hour"), col("cnt"), col("z2"),
          col("is_anomaly"))
    }),

    // ORC round-trip — q_jsonl_roundtrip's columnar sibling: documents
    // written as ORC once, read back schema-explicit through Spark's
    // vectorized ORC reader, proven content-identical to the parquet
    // original by the same order-independent text-fingerprint xor
    "q_orc_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).orc(orcStagePath(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          bit_xor(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"))
            .as("text_fp"))
    }),

    // deterministic negative sampling for contrastive training pairs,
    // BOUNDED end to end: each anchor customer draws from ONE
    // pseudo-random residue class of the item catalog (bucket equi-join —
    // anchor bucket by portable md5, part bucket by partkey % 40 — so
    // candidate volume is grid/40 WITHOUT ever evaluating a hash on the
    // full anchors × items grid), purchased pairs are anti-joined away,
    // and a per-anchor top-k on a cheap integer mix hash caps the output
    // at k negatives per anchor — the real training-data contract
    // (k negatives per positive), which keeps output ∝ anchors no matter
    // how large the catalog grows. WindowGroupLimit prunes the rank
    // before any shuffle
    "q_negative_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val anchors = t(s, dir, "customer")
        .where(col("c_custkey") % 100 === 0).select(col("c_custkey"))
        .withColumn("bucket",
          pmod(conv(substring(md5(col("c_custkey").cast("string")), 1, 15), 16, 10)
            .cast("long"), lit(40L)))
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), pmod(col("p_partkey"), lit(40L)).as("bucket"))
      val cand = parts.join(broadcast(anchors), "bucket")
      val bought = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey")).distinct()
      val neg = cand.join(bought,
        cand("c_custkey") === bought("o_custkey") &&
          cand("p_partkey") === bought("l_partkey"), "left_anti")
      // deterministic pseudo-random order per anchor: integer mix both
      // engines compute exactly (values < 2^40, no overflow)
      val mix = pmod(col("c_custkey") * lit(2654435761L) +
        col("p_partkey") * lit(40503L), lit(1000003L))
      val ranked = neg.withColumn("rn", row_number().over(
        Window.partitionBy(col("c_custkey")).orderBy(mix, col("p_partkey"))))
        .where(col("rn") <= 50)
      ranked.groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_negatives"),
          min(col("p_partkey")).as("min_part"), max(col("p_partkey")).as("max_part"),
          bit_xor(col("p_partkey")).as("part_fp"))
    }),

    // compression-ratio quality signal (the Gopher/CCNet gate): DEFLATE
    // bytes over raw UTF-8 bytes per document via the native expression —
    // low ratio = boilerplate/filler, ratio near 1 = mojibake/binary.
    // DuckDB cannot deflate, so the query emits the ORACLE-DECIDABLE
    // contract: per-doc exact raw byte length (DuckDB recomputes) plus
    // `within_bound` — the DEFLATE size sat inside the format's hard
    // envelope [2, raw + 5*ceil(raw/16384) + 16] (a raw-deflate stream
    // needs >= 2 bytes, and zlib never emits a block above stored-block
    // cost: 5 bytes per <= 16 KiB memLevel-8 block). The compression
    // still runs per row; only the boolean escapes, so a broken deflate
    // kernel flips the hash. The RATIO's distribution/ordering
    // properties stay pinned in ExtSpec (engine-local by nature).
    "q_compression_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.plans.NativeExpressions.deflateSize(col("text")).as("__deflate"),
          octet_length(col("text")).cast("long").as("raw_bytes"))
        .select(col("doc_id"), col("lang"), col("raw_bytes"),
          (col("__deflate") >= 2L && col("__deflate") <=
            col("raw_bytes") + lit(5L) * ceil(col("raw_bytes").cast("double") / 16384.0d)
              .cast("long") + lit(16L)).as("within_bound"))
    }),

    // DeepWalk-style positive-pair walks on the co-purchase graph, fully
    // deterministic (md5 choice — the oracle replays each step); every
    // 20th node seeds a 4-step walk. See GraphOps.randomWalks for the
    // one-ranked-adjacency, one-join-per-step plan shape
    "q_random_walks" -> ((s, dir) => {
      graft.graph.GraphOps.randomWalksFromNodes(stagedCoPurchaseSym(s, dir),
        "a", "b", col("node") % 20 === 0, steps = 4, assumeSymmetric = true)
        .select(col("walk_id"), col("step").cast("long").as("step"), col("node"))
    }),

    // visit-count centrality from the sampled walks — stationary-ish
    // visit mass without a fixpoint: one agg over the walk table
    "q_walk_centrality" -> ((s, dir) => {
      graft.graph.GraphOps.randomWalksFromNodes(stagedCoPurchaseSym(s, dir),
        "a", "b", col("node") % 20 === 0, steps = 4, assumeSymmetric = true)
        .groupBy(col("node").as("node_id"))
        .agg(count(lit(1)).as("visits"),
          countDistinct(col("walk_id")).as("n_walks"))
    }),

    // skip-gram training pairs: (center, context) co-occurrences within
    // walk-window 2 — the DeepWalk/node2vec positive-pair extraction; one
    // walk_id equi-join (walk tables are seed-sized, never |E|-sized)
    "q_skipgram_pairs" -> ((s, dir) => {
      val walks = graft.graph.GraphOps.randomWalksFromNodes(
        stagedCoPurchaseSym(s, dir), "a", "b", col("node") % 20 === 0, steps = 4,
        assumeSymmetric = true)
      walks.as("x").join(walks.as("y"),
          col("x.walk_id") === col("y.walk_id") &&
            (col("y.step") - col("x.step")).isin(1, 2))
        .groupBy(col("x.node").as("node_a"), col("y.node").as("node_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Pearson correlation between event-type hourly series (over hours
    // where both types fired — inner-join semantics, documented): all
    // moments stay integer sums; r = num / (√A·√B) with each factor's
    // sqrt and the final divide correctly rounded IEEE ops, so the value
    // is bit-identical cross-engine with NO rounding contract. Factored
    // √A·√B (not √(A·B)) keeps each radicand within long range ~100×
    // longer than the fused product would
    "q_correlation" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val j = hourly.as("x").join(hourly.as("y"),
        col("x.hour") === col("y.hour") &&
          col("x.event_type") < col("y.event_type"))
      val g = j.groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("x.cnt")).as("sx"), sum(col("y.cnt")).as("sy"),
          sum(col("x.cnt") * col("y.cnt")).as("sxy"),
          sum(col("x.cnt") * col("x.cnt")).as("sxx"),
          sum(col("y.cnt") * col("y.cnt")).as("syy"))
      val va = g("n") * g("sxx") - g("sx") * g("sx")
      val vb = g("n") * g("syy") - g("sy") * g("sy")
      g.where(va > 0 && vb > 0)
        .select(col("type_a"), col("type_b"), col("n"),
          ((g("n") * g("sxy") - g("sx") * g("sy")).cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double")))).as("pearson_r"))
    }),

    // incremental maintenance of the co-purchase projection ITSELF — the
    // piece that keeps stagedCoPurchaseSym fresh at 100 TB without
    // rescanning history: per-order pair counts are a mergeable state
    // (an order's items all arrive together, so pairs never straddle the
    // history/delta boundary and count addition is exact), the weight
    // threshold applies AFTER the merge (thresholding inside the state
    // would silently drop pairs whose support only clears minShared once
    // combined — counts ARE the state, the filter is the view). Oracle =
    // full recompute: merge(history, delta) == rebuild, hash-exact
    "q_incremental_copurchase" -> ((s, dir) => {
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
    }),

    // market-basket association rules over order baskets: both directed
    // rules per co-purchase pair, confidence and lift from distinct-
    // counted supports, N via a one-row broadcast (no driver collect).
    // Same capped basket projection as the graph queries (the one
    // quadratic step is bounded by maxGroupSize); ratios are raw IEEE
    // long/long divisions so the oracle replays them bit-for-bit. The
    // basket frame is STAGED once (four consumers: both self-join sides,
    // supports, N), and the pair aggregation runs once — both rule
    // directions explode from the same pair rows
    "q_assoc_rules" -> ((s, dir) => {
      graft.ext.MarketBasket.associationRulesFromBaskets(
        stagedBaskets(s, dir), minShared = 2)
    }),

    // Newman modularity of the label-prop communities over the staged
    // co-purchase graph — the partition-quality score community detection
    // is judged by, computed fraction-free (integer sums, one division;
    // see GraphOps.modularity)
    "q_modularity" -> ((s, dir) => {
      val edges = stagedCoPurchaseSym(s, dir)
      val labels = graft.graph.GraphOps.labelPropagateMin(edges, "a", "b",
        iterations = 5, assumeSymmetric = true)
      graft.graph.GraphOps.modularity(edges, "a", "b", labels, "node", "label",
        assumeSymmetric = true)
    }),

    // degree assortativity of the co-purchase graph — hub-mixing in one
    // number, integer moments + three IEEE ops (GraphOps.assortativity)
    "q_assortativity" -> ((s, dir) => {
      graft.graph.GraphOps.assortativity(stagedCoPurchaseSym(s, dir), "a", "b",
        assumeSymmetric = true)
    }),

    // log2-binned degree distribution of the co-purchase graph — the
    // heavy-tail audit (is this a power law? where does the hub mass
    // sit?) that sizes skew defenses BEFORE they're needed. The bin is
    // exact integer arithmetic: floor(log2 d) = length(bin(d)) − 1 on
    // both engines — no float log in sight
    "q_degree_distribution" -> ((s, dir) => {
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
    }),

    // per-community conductance of the label-prop partition — the
    // localized cut-quality score the single global modularity number
    // cannot give: which community leaks. Unlabeled endpoints count as
    // leakage; integer cut/volume sums, one division per community
    "q_conductance" -> ((s, dir) => {
      val edges = stagedCoPurchaseSym(s, dir)
      val labels = graft.graph.GraphOps.labelPropagateMin(edges, "a", "b",
        iterations = 5, assumeSymmetric = true)
      graft.graph.GraphOps.conductance(edges, "a", "b",
        labels, "node", "label", assumeSymmetric = true)
    }),

    // global clustering coefficient = closed / all triplets, fraction-free:
    // Σ per-node triangle counts is exactly 3T, wedge total Σd(d−1) is
    // exactly 2W — C = 2·Σn_tri / Σd(d−1) is one integer ratio, and the
    // triangle/wedge totals divide out exactly (both divisibilities are
    // structural). Rides the degree-oriented closure + the staged edges
    "q_clustering_coeff" -> ((s, dir) => {
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
    }),

    // composite FD discovery — the lattice level q_fd_discovery's unary
    // pass cannot see: (orderkey, linenumber) is the lineitem PRIMARY KEY
    // (holds for every dependent) while each component alone fails
    "q_fd_composite" -> ((s, dir) => {
      graft.ext.Profiling.compositeFunctionalDependencies(t(s, dir, "lineitem"),
        Seq(
          (("l_orderkey", "l_linenumber"), Seq("l_partkey", "l_quantity")),
          (("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_shipdate"))))
    }),

    // adjacent-token PMI collocations (micro-nat quantized, minCount 5,
    // top 50) — the keyphrase/compound-term extractor; see
    // TextAnalysis.pmiBigrams for the determinism contract
    "q_pmi_bigrams" -> ((s, dir) => {
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5, k = 50)
    }),

    // funnel latency: first view → first subsequent purchase per user,
    // exact integer-micros percentiles over the converted population —
    // the timing half q_funnel's stage counts leave out
    "q_funnel_latency" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val p = e.where(col("event_type") === "purchase")
        .join(v, Seq("user_id"))
        .where(col("ts") > col("first_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
      p.join(v, Seq("user_id"))
        .select((graft.sources.Tables.tsMicros(col("first_purchase")) -
          graft.sources.Tables.tsMicros(col("first_view"))).as("lat_us"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(lat_us, array(0.5D, 0.9D))").as("lpc"),
          min(col("lat_us")).as("min_us"), max(col("lat_us")).as("max_us"))
        .select(col("n_converted"), col("lpc").getItem(0).as("p50_us"),
          col("lpc").getItem(1).as("p90_us"), col("min_us"), col("max_us"))
    }),

    // last-touch marketing attribution: every purchase credits the most
    // recent preceding view/click by the same user within 7 days (the
    // as-of-join shape, resolved as one user equi-join + one per-purchase
    // window — both ride a single user-hash exchange); credits aggregate
    // per touch type with integer-cents revenue. Tie-break (ts, event_id)
    // makes the winner deterministic in any engine
    "q_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value").as("p_value"))
      val touches = ev.where(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
          col("event_id").as("t_id"), col("event_type").as("touch_type"))
      val joined = purchases.join(touches,
        col("p_user") === col("t_user") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("t_ts").desc, col("t_id").desc)
      joined.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("p_value")).as("attributed_revenue"))
    }),

    // null repair by group median: nulls are PLANTED deterministically
    // ((l_orderkey·7 + l_linenumber) % 13 — the oracle plants the same),
    // then imputed from each returnflag's exact median of the surviving
    // values — the median table is domain-bounded and broadcasts onto one
    // fact scan (the q_winsorize shape, with percentile instead of caps)
    "q_impute_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          when((col("l_orderkey") * 7 + col("l_linenumber")) % 13 === 0, lit(null))
            .otherwise(col("l_quantity")).as("qty"))
      val med = li.where(col("qty").isNotNull)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(qty, 0.5)").as("med"))
      li.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), col("qty").isNull.as("was_null"),
          coalesce(col("qty"), col("med")).as("filled"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("was_null").cast("long")).as("n_imputed"),
          dsum(col("filled")).as("sum_filled"))
    }),

    // blocklist safety screen via one Aho-Corasick pass per document:
    // total + distinct matches over a term list with NESTED and
    // OVERLAPPING members ("an" ⊂ "can" ⊂ "scan"; "tab" ⊂ "table") —
    // the positional-count oracle proves every overlap fires. One scan,
    // cost independent of |terms|; per-term regex passes are the
    // anti-pattern at 100 TB
    "q_blocklist" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.NativeExpressions.blocklistCounts(col("text"),
            BlocklistTerms).as("b"))
        .where(col("b.total_hits") > 0)
        .select(col("doc_id"), col("b.total_hits").as("total_hits"),
          col("b.distinct_terms").cast("long").as("distinct_terms"))
    }),

    // zone-map pruning effectiveness: the q_zorder file profile against a
    // quarter-domain predicate box — how many of the 64 z-range files a
    // min/max-pruning scan planner skips, and the selectivity inside the
    // survivors. The report every clustering decision is judged by; both
    // sides aggregate to single rows, the combine is a 1×1 cross join
    "q_zone_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
      val scaled = li.crossJoin(broadcast(m))
        .select(expr("l_partkey * 65536 div (mp + 1)").as("zx"),
          expr("l_suppkey * 65536 div (ms + 1)").as("zy"))
      val prof = graft.operators.ZOrder.fileSkippingProfile(scaled,
        col("zx"), col("zy"), numBuckets = 64)
      val (loX, hiX, loY, hiY) = (16384L, 32767L, 16384L, 32767L)
      val hits = col("min_x") <= hiX && col("max_x") >= loX &&
        col("min_y") <= hiY && col("max_y") >= loY
      val stats = prof.agg(
        count(lit(1)).as("n_files"),
        sum(when(hits, 1L).otherwise(0L)).as("n_files_scanned"),
        sum(when(hits, col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_rows")).as("rows_total"))
      val matched = scaled.where(col("zx").between(loX, hiX) &&
          col("zy").between(loY, hiY))
        .agg(count(lit(1)).as("rows_matched"))
      stats.crossJoin(matched)
    }),

    // strongly connected components of a DIRECTED graph (trim + FW-BW
    // coloring peels, GraphOps.stronglyConnectedComponents) — the directed
    // twin of q_components. Edges: part -> next part in pick order within
    // each order (lag over (orderkey, linenumber) — LINEAR in lineitems,
    // never the deg² wedge projection); cycles arise because pick orders
    // disagree across orders. Endpoint domain capped at partkey <= 400 so
    // the oracle's recursive mutual-reachability closure stays
    // |nodes|·|reach|-bounded; the operator itself never materializes a
    // closure — per round it is node-keyed joins/aggs only
    "q_scc" -> ((s, dir) => {
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
    }),

    // small-file compaction planning (the OPTIMIZE/bin-pack maintenance
    // pass every 100 TB table needs): one "file" per ship date with a
    // size estimate, time-ordered EXCLUSIVE prefix sum via the distributed
    // GlobalRank.withGlobalCumSum (range exchange + partitioned window +
    // broadcast offsets — no single-reducer ORDER BY window, PlanSpec
    // pins it), bin = prefix div target. Time-ordered packing keeps each
    // output file a contiguous date range, so zone-map pruning on ship
    // date survives compaction
    "q_compaction_plan" -> ((s, dir) => {
      val target = 32768.0d // 32 KiB target output size
      val files = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("file_date"))
        .agg((count(lit(1)) * 120L + sum(col("l_partkey") % 64L))
          .as("size_bytes"))
      val withCum = graft.operators.GlobalRank.withGlobalCumSum(
        files, Seq(col("file_date")), col("size_bytes"), "cum_before")
      withCum
        .withColumn("bin", floor(col("cum_before") / target).cast("long"))
        .withColumn("bin_bytes",
          sum(col("size_bytes")).over(Window.partitionBy(col("bin"))))
        .withColumn("files_in_bin",
          count(lit(1)).over(Window.partitionBy(col("bin"))))
    }),

    // REAL audio decode: synthesized 16-bit mono PCM WAVs (per-sample
    // deterministic signal, Multimodal.synthesizePcmWav) run through the
    // actual RIFF-walk + int16 decode + stat loop (Multimodal.audioStats).
    // The oracle replays the signal's CLOSED FORM, not the parser — so a
    // byte-order / offset / sign bug in the decoder fails the hash. All
    // integer outputs; one narrow mapPartitions scan, no shuffle
    "q_audio_stats" -> ((s, dir) => {
      val media = Multimodal.synthesizePcmWav(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.audioStats(media).toDF()
    }),

    // audio near-dup candidates via the energy-profile fingerprint
    // (Shazam-family sign-of-energy-delta bits over 8 frames, exact
    // integer arithmetic end to end): same real RIFF+PCM decode as
    // q_audio_stats, fingerprint bucket sizes via one 8-byte-key window.
    // The oracle replays the signal's closed form through the identical
    // framing ((i*8) div n) and bit assembly — a decoder bug fails the hash
    "q_audio_fp" -> ((s, dir) => {
      val media = Multimodal.synthesizePcmWav(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.audioFingerprints(media).toDF()
        .withColumn("n_same_fp",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
    }),

    // MERGE INTO (lakehouse upsert): APPLY a CDC delta — updates, deletes,
    // inserts, at most one op per key with delete-wins precedence — to the
    // current snapshot in ONE id-keyed full-outer join. The complement of
    // q_snapshot_diff (which COMPUTES a delta). Same shuffle discipline:
    // both sides reduce to (id, md5, op) BEFORE the join, so document text
    // never crosses the exchange; output op marks each surviving row
    // K(ept)/U(pdated)/I(nserted) for the audit trail a production MERGE
    // emits as metrics
    "q_merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // deterministic delta derived from the same table: re-cased updates,
      // deletes, and out-of-domain inserts
      val upserts = base
        .withColumn("op",
          when(col("doc_id") % 11 === 3, "D")
            .when(col("doc_id") % 7 === 0, "U"))
        .where(col("op").isNotNull)
        .select(col("doc_id"),
          when(col("op") === "U", upper(col("text"))).as("text"), col("op"))
      val inserts = base.where(col("doc_id") % 13 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new:"), col("text")).as("text"), lit("I").as("op"))
      val delta = upserts.unionByName(inserts)
        .select(col("doc_id"), md5(col("text")).as("d_md5"), col("op"))
      val snap = base.select(col("doc_id"), md5(col("text")).as("b_md5"))
      snap.join(delta, Seq("doc_id"), "full_outer")
        .where(coalesce(col("op"), lit("")) =!= "D")
        .select(col("doc_id"),
          coalesce(col("d_md5"), col("b_md5")).as("text_md5"),
          coalesce(col("op"), lit("K")).as("op"))
    }),

    // SKETCH-based inclusion-dependency discovery — the 100 TB swap
    // q_fk_discovery's comment promises, made real: per column ONE
    // bottom-k sample of the md5-hash order (k = 256 rows per side, a
    // TakeOrdered — bounded by configuration, not key cardinality), and
    // the containment estimate |S_u ∩ C ∩ P| / |S_u ∩ C| computed
    // entirely on sketch rows. The bottom-k of the UNION hash order is a
    // uniform sample of C ∪ P, so membership rates within it estimate
    // |C ∩ P| / |C| with ~1/sqrt(k) error — and when |C ∪ P| <= k the
    // sketch IS the full key set and the estimate is EXACT
    // (GroundTruthSpec pins equality with q_fk_discovery at sf0.001 and
    // the error band on a planted larger domain). md5 hex order is
    // engine-portable, so the oracle replays sample selection row-for-row
    "q_fk_sketch" -> ((s, dir) => {
      val k = 256
      // provenance flags ride the distinct: tag each hash row with its
      // side BEFORE the union, fold to per-hash membership with ONE
      // group-max — the same distinct set the two-sided form produced,
      // but one exchange per candidate where the old shape paid two
      // per-side distincts, a union distinct AND two membership joins
      // back against the full sets (row-identical: max(in_c) == "h is in
      // child's distinct set"). The bottom-k TakeOrdered then reads the
      // already-tagged sample directly.
      // r16: group by the RAW key value and hash AFTER the exchange. The
      // fixture tables are single-row-group parquet, so the pre-r16 shape
      // computed md5 once per ROW inside an unsplittable single-task scan
      // (JobProfile: the lineitem candidate's scan stage was the whole
      // query, 0.73 s of task time on 4 tasks); grouping by the value
      // first keeps the scan stage down to a map-side partial distinct,
      // and the md5 runs once per DISTINCT value on the parallel
      // post-exchange side. Row-identical: md5 is a deterministic
      // function of the value, so per-value groups ARE per-hash groups
      // (DuckDB oracle unchanged: SELECT DISTINCT md5(...) — same set).
      def est(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val tagged = child.where(col(ck).isNotNull)
          .select(col(ck).cast("string").as("v"),
            lit(1).as("in_c"), lit(0).as("in_p"))
          .unionByName(parent.where(col(pk).isNotNull)
            .select(col(pk).cast("string").as("v"),
              lit(0).as("in_c"), lit(1).as("in_p")))
        val u = tagged.groupBy(col("v"))
          .agg(max(col("in_c")).as("in_c"), max(col("in_p")).as("in_p"))
          .select(md5(col("v")).as("h"), col("in_c"), col("in_p"))
          .orderBy(col("h")).limit(k)
        u.agg(count(lit(1)).as("n_union_sample"),
            sum(col("in_c")).as("n_child_sample"),
            sum(when(col("in_c") === 1 && col("in_p") === 1, 1L)
              .otherwise(0L)).as("n_both"))
          .select(lit(name).as("candidate"), col("n_union_sample"),
            col("n_child_sample"), col("n_both"),
            (col("n_both").cast("double") /
              col("n_child_sample").cast("double")).as("containment_est"))
      }
      est("orders.o_custkey->customer.c_custkey",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey")
        .unionByName(est("lineitem.l_partkey->part.p_partkey",
          t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionByName(est("customer.c_nationkey->nation.n_nationkey",
          t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .unionByName(est("part.p_size->nation.n_nationkey",
          t(s, dir, "part"), "p_size", t(s, dir, "nation"), "n_nationkey"))
    }),

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
    "q_topo_layers" -> ((s, dir) => {
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
    }),

    // ANN tuning curve: macro recall@5 of the IVF index at nprobe
    // 1/2/4/8 against ONE shared brute-force ground truth — the
    // recall-vs-cost trade a 100 TB index is tuned by, as one query.
    // IDENTICAL index (nlist=16, one refine pass) per point — so it is
    // built ONCE (stagedIvf16, shared with q_ivf_recall) and only the
    // probe budget varies per sweep point; the oracle replays the whole
    // chain per point (the q_ivf_recall machinery, parameterized).
    // Monotonicity of the curve is additionally pinned in ExtSpec
    "q_ann_tuning" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = stagedExactNeighbors(s, dir).where(col("rank") <= 5)
      val (cent, assigned) = stagedIvf16(s, dir)
      Seq(1, 2, 4, 8).map { np =>
        val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, nprobe = np)
        Similarity.recallReport(exact, approx, k = 5)
          .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("total_hits"))
          .select(lit(np).as("nprobe"), col("n_queries"), col("total_hits"),
            (col("total_hits").cast("double") /
              (col("n_queries") * 5L).cast("double")).as("macro_recall"))
      }.reduce(_.unionByName(_))
    }),

    // product-quantization codes (Similarity.pqEncode): 64 floats -> 4
    // codebook ids + the quantization error, the IVF-PQ memory-compression
    // layout. Codebooks are deterministic md5-stride donor samples, so the
    // oracle rebuilds codebooks, per-subspace argmins (dist, cid
    // tie-break) and the FIXED-ORDER error sum in SQL; encoding itself is
    // one narrow unrolled-literal projection, no shuffle
    "q_pq_codes" -> ((s, dir) => {
      Similarity.pqEncode(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dim = 64, nsub = 4, ncent = 16)
    }),

    // ADC top-5 over the PQ codes (Similarity.pqTopK) — the search half
    // of IVF-PQ: queries stay un-quantized, the corpus scan reads 4 code
    // ints per row and each subspace distance is an element_at lookup
    // into the query's unrolled literal distance table. Rank by
    // (ascending approximate L2, neighbor id); the oracle replays codes,
    // lookup tables, the fixed-order sum and the rank
    "q_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, dim = 64, nsub = 4, ncent = 16)
    }),

    // the combined FAISS IVF-PQ layout (Similarity.ivfPqTopK): IVF
    // candidate pruning (nprobe of nlist buckets, one Lloyd pass) + ADC
    // scoring over the 4-subspace PQ codes — corpus index built in ONE
    // narrow projection (bucket + codes per row), the probed scan reads
    // code width only. The oracle replays BOTH chains (centroid sampling
    // + refinement + probes, donor codebooks + LUTs + fixed-order ADC)
    // end to end in SQL
    "q_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // index comes staged (stagedIvfPq: centroids + codebooks + coded
      // corpus are all query-independent); only the ADC probe runs here.
      // q_embed_ivf_topk stays inline-by-design as the fused-build pin.
      val (cent, donors, index) = stagedIvfPq(s, dir)
      Similarity.ivfPqSearch(index, cent, donors, queries, "qid", "qvec",
        k = 5, nprobe = 8, dim = 64, nsub = 4)
    }),

    // content-defined chunking + chunk-level dedup report
    // (Dedup.contentDefinedChunks): documents cut at window-hash
    // boundaries, so identical passages chunk identically corpus-wide;
    // the report is the storage story a dataset-versioning system quotes
    // (distinct/total chunk chars = the delta-store footprint). Chunking
    // is one narrow projection; both aggregates are map-combined; the
    // 1x1 combine is a broadcast cross join
    "q_cdc_dedup" -> ((s, dir) => {
      // the fixture corpus is ONE parquet row group — without a spread
      // the ~1.5M per-position window hashes run on one core (measured
      // 7.7 s single-threaded under the old HOF chunker; the native
      // CdcChunks kernel cut the per-position cost ~5x but the spread
      // still buys full-core parallelism). A real 100 TB corpus arrives
      // in thousands of files and needs no repartition; this one
      // round-robin exchange is the single-file-fixture artifact
      val spread = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      // the oracle's generate_series ceiling is a CONSTANT 10k (this
      // DuckDB build takes neither lateral nor subquery bounds) — the
      // Spark chunker is unbounded, so assert the fixture fits the
      // oracle's window instead of silently diverging on longer docs
      assertOracleTextCeiling(spread, "q_cdc_dedup")
      // one md5 per char position stays the ORACLE-PARITY contract even
      // in the native kernel, and BOTH aggregates below consume the
      // chunk set — materialize the 16-byte-hash projection ONCE so the
      // per-position hashing never re-runs (unpersisted, the `dis`
      // branch re-chunked the whole corpus a second time)
      val hashed = Dedup.contentDefinedChunks(
          spread, "doc_id", "text", window = 16, mask = 64)
        .select(col("doc_id"), md5(col("chunk")).as("h"),
          length(col("chunk")).as("len"))
        .localCheckpoint(true)
      val tot = hashed.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_chunks"),
        sum(col("len")).as("total_chars"))
      val dis = hashed
        .groupBy(col("h"))
        .agg(min(col("len")).as("len"))
        .agg(count(lit(1)).as("distinct_chunks"),
          sum(col("len")).as("distinct_chars"))
      tot.crossJoin(dis)
        .withColumn("dedup_ratio",
          col("distinct_chars").cast("double") / col("total_chars").cast("double"))
    }),

    // chunk-level snapshot delta (the rsync/delta-store transfer bill):
    // apply the same deterministic edit set as q_merge_upsert, chunk BOTH
    // snapshot versions content-defined, and count the v2 chunks whose
    // hash the v1 chunk store already holds — an update re-transfers only
    // the chunks its edit touched, everything else is a cache hit. The
    // anti-join carries 16-byte hashes, never chunk text
    "q_cdc_delta" -> ((s, dir) => {
      // same single-file-fixture spread as q_cdc_dedup (both versions
      // chunk the full corpus; the hashes dominate)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      // same 10k oracle-ceiling contract as q_cdc_dedup (v2's "new:" and
      // upper() edits never lengthen a doc past the margin the guard keeps)
      assertOracleTextCeiling(base, "q_cdc_delta", ceiling = 9996)
      val upserts = base
        .withColumn("op",
          when(col("doc_id") % 11 === 3, "D").when(col("doc_id") % 7 === 0, "U"))
      val v2 = upserts.where(col("op").isNull || col("op") === "U")
        .select(col("doc_id"),
          when(col("op") === "U", upper(col("text"))).otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new:"), col("text")).as("text")))
      // each chunk store is consumed twice (s2 by its own agg AND the
      // anti-join; s1 by the anti-join's build side) — materialize both
      // eagerly so the per-position chunk hashing runs exactly once per
      // snapshot instead of up to 3x (the grouped stores are tiny
      // 16-byte-hash tables, the chunking above them is the expensive part)
      def store(df: DataFrame): DataFrame =
        Dedup.contentDefinedChunks(df, "doc_id", "text", window = 16, mask = 64)
          .groupBy(md5(col("chunk")).as("h"))
          .agg(min(length(col("chunk"))).as("len"))
          .localCheckpoint(true)
      val s1 = store(base)
      val s2 = store(v2)
      val fresh = s2.join(s1.select(col("h")), Seq("h"), "left_anti")
      s2.agg(count(lit(1)).as("v2_chunks"), sum(col("len")).as("v2_chars"))
        .crossJoin(fresh.agg(
          coalesce(count(lit(1)), lit(0L)).as("new_chunks"),
          coalesce(sum(col("len")), lit(0L)).as("new_chars")))
        .withColumn("transfer_ratio",
          col("new_chars").cast("double") / col("v2_chars").cast("double"))
    }),

    // leakage-safe out-of-fold target encoding (the supervised-feature
    // twin of q_leakage_safe_split's discipline): the encoder table maps
    // (category, fold) to the target mean computed WITHOUT that fold's
    // own rows — subtracting the fold's sums from the category totals, so
    // one grouped aggregation feeds every fold and no row ever sees its
    // own target. Exact integer cents until the single final division;
    // single-fold categories (n_out = 0) are unencodable by definition
    // and excluded on both sides
    "q_target_encode" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("cat"),
        (col("o_orderkey") % 5).as("fold"),
        cents(col("o_totalprice")).as("y"))
      val byCatFold = o.groupBy(col("cat"), col("fold"))
        .agg(count(lit(1)).as("n_f"), sum(col("y")).as("s_f"))
      val byCat = byCatFold.groupBy(col("cat"))
        .agg(sum(col("n_f")).as("n_all"), sum(col("s_f")).as("s_all"))
      byCatFold.join(byCat, Seq("cat"))
        .where(col("n_all") > col("n_f"))
        .select(col("cat"), col("fold"), col("n_f"),
          (col("n_all") - col("n_f")).as("n_out"),
          round((col("s_all") - col("s_f")).cast("double") /
            (col("n_all") - col("n_f")).cast("double"), 6).as("enc_out_cents"))
    }),

    // ------------- distribution-shift / eval analytics (round 9) -------------

    // exact two-sample Kolmogorov-Smirnov: D = max |F_A - F_R| over the
    // pooled support, the classic "did this column's distribution move"
    // test between two slices. FRACTION-FREE: with c_g(v) = #{x_g <= v},
    // D's numerator is max |c_A*n_R - c_R*n_A| — pure integers, compared
    // in decimal(38,0) so the product never overflows at any scale. The
    // cumulative counts come from GlobalRank.withGlobalCumSum (range
    // exchange + partitioned prefix sums), NEVER an unpartitioned window
    // over the value order. One grouped pass collapses the input to its
    // distinct values first, so the prefix-sum frame is bounded by domain
    // cardinality, not row count.
    "q_ks_test" -> ((s, dir) => {
      // the inclusive-cum frame comes staged (stagedAbrCum — built once,
      // shared with q_wasserstein); the totals then fall out as max(cum)
      // (monotone), no second pass over the input
      val cum = stagedAbrCum(s, dir).select(col("cum_a"), col("cum_r"))
      val tot = cum.agg(max(col("cum_a")).as("n_a"), max(col("cum_r")).as("n_r"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      cum.crossJoin(broadcast(tot))
        .select(col("n_a"), col("n_r"),
          abs(dec(col("cum_a")) * dec(col("n_r")) - dec(col("cum_r")) * dec(col("n_a"))).as("__d"))
        .groupBy(col("n_a"), col("n_r"))
        .agg(max(col("__d")).cast("double").as("d_num"))
        .select(col("n_a"), col("n_r"), col("d_num"),
          round(col("d_num") / (col("n_a").cast("double") * col("n_r").cast("double")), 6)
            .as("d_stat"))
    }),

    // exact 1-D Wasserstein-1 (earth-mover) distance between the same two
    // slices q_ks_test compares — where KS reports the WORST pointwise CDF
    // gap, W1 integrates the gap over the value axis (|F_A - F_R| is
    // piecewise constant between consecutive distinct values, so the
    // integral is an exact finite sum). One withGlobalCumSums pass yields
    // BOTH inclusive cums AND the 0-based value rank (a prefix count of
    // lit(1)); each segment's height x gap product runs in decimal(38,0)
    // (the sum reaches ~1e23 at this fixture — past long, exact in
    // decimal and in DuckDB's hugeint; both engines cast the SAME exact
    // integer to double at the very end). The rank equi-join attaches
    // each value's successor; the top value correctly drops (no segment
    // above it).
    "q_wasserstein" -> ((s, dir) => {
      // the (v, rank, inclusive-cum) frame comes staged (stagedAbrCum —
      // built once, shared with q_ks_test)
      val cum = stagedAbrCum(s, dir)
      val nxt = cum.select((col("r") - 1L).as("r"), col("v").as("v_next"))
      val tot = cum.agg(max(col("cum_a")).as("n_a"), max(col("cum_r")).as("n_r"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      cum.join(nxt, Seq("r"))
        .crossJoin(broadcast(tot))
        .select(col("n_a"), col("n_r"),
          (abs(dec(col("cum_a")) * dec(col("n_r")) - dec(col("cum_r")) * dec(col("n_a"))) *
            dec(col("v_next") - col("v"))).as("__seg"))
        .groupBy(col("n_a"), col("n_r"))
        .agg(sum(col("__seg")).cast("double").as("w1_num"))
        .select(col("n_a"), col("n_r"), col("w1_num"),
          round(col("w1_num") /
            (col("n_a").cast("double") * col("n_r").cast("double")), 6).as("w1_cents"))
    }),

    // Kaplan-Meier survival over user lifetimes — the retention CURVE
    // (risk sets + censoring) that q_cohort_retention's weekly grid
    // cannot express: a user's lifetime runs first->last event in whole
    // days; users still active in the final week of the observation
    // window are CENSORED (they leave the risk set without counting as
    // churn — dropping them instead is the classic retention bias).
    // Pure integers end to end: the per-time KM factor is
    // ((n_risk - d) * 1e6) div n_risk — no float ever; the consumer
    // multiplies factors (or sums their logs) downstream. The window
    // runs over the DAILY lifetime rollup, bounded by the date range by
    // construction (the q_changepoint argument).
    "q_survival_km" -> ((s, dir) => {
      val us = graft.sources.Tables.tsMicros(col("ts"))
      val u = t(s, dir, "events").select(col("user_id"), us.as("__us"))
        .groupBy(col("user_id"))
        .agg(min(col("__us")).as("f"), max(col("__us")).as("l"))
      val mx = u.agg(max(col("l")).as("m"))
      val day = 86400000000L
      val lt = u.crossJoin(broadcast(mx))
        .select(expr(s"(l - f) div $day").as("t_days"),
          when(col("l") < col("m") - lit(7L * day), 1L).otherwise(0L).as("ev"))
      val byT = lt.groupBy(col("t_days"))
        .agg(count(lit(1)).as("__ending"), sum(col("ev")).as("n_events"))
      val w = Window.orderBy(col("t_days"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byT
        .withColumn("__before", coalesce(sum(col("__ending")).over(w), lit(0L)))
        .crossJoin(broadcast(byT.agg(sum(col("__ending")).as("__n"))))
        .select(col("t_days"),
          (col("__n") - col("__before")).as("n_risk"),
          col("n_events"),
          (col("__ending") - col("n_events")).as("n_censored"),
          expr("((__n - __before - n_events) * 1000000) div (__n - __before)")
            .as("km_factor_fp"))
    }),

    // Gini concentration of customer lifetime spend — the inequality
    // read-out ("what share of revenue sits in the top tail") every
    // monetization/fairness review quotes. Fraction-free Mean-Difference
    // form: with x_(i) spend ascending (custkey tiebreak; tie order
    // cancels algebraically), G = sum((2i - n - 1) x_(i)) / (n sum x).
    // Ranks are GlobalRank's distributed exact ranks (range exchange +
    // partitioned window — no single-reducer sort); the weighted sum runs
    // in decimal(38,0) so rank*cents never overflows at scale. One IEEE
    // division + round at the very end.
    "q_gini" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      val (ranked, n) = graft.operators.GlobalRank.withGlobalRankAndCount(
        spend, Seq(col("x"), col("o_custkey")), "r")
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      ranked
        .select((dec(lit(2L) * (col("r") + 1L) - lit(n + 1L)) * dec(col("x"))).as("__w"),
          col("x"))
        .agg(sum(col("__w")).as("__num"), sum(col("x")).as("total_cents"),
          count(lit(1)).as("n_units"))
        .select(col("n_units"), col("total_cents"),
          round(col("__num").cast("double") /
            (col("n_units").cast("double") * col("total_cents").cast("double")), 6)
            .as("gini_r"))
    }),

    // Benford first-significant-digit audit over order totals — the
    // fabricated-data / broken-upstream screen an ingest review runs on
    // any money column. The digit is integer-exact (first char of the
    // cents value's decimal rendering — invariant to the *100 shift);
    // expected counts and chi-squared terms use log10(1+1/d) literals
    // computed ONCE in Scala and embedded in both engines, so no engine
    // log is ever taken. One narrow projection + a 9-row aggregate.
    "q_benford" -> ((s, dir) => {
      val byDigit = t(s, dir, "orders")
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      // digit is always in 1..9 (cents >= 1), so the 0.0 base never fires
      val expected = BenfordShare.foldLeft(lit(0.0d): org.apache.spark.sql.Column) {
        case (acc, (d, sh)) => when(col("digit") === d, lit(sh)).otherwise(acc)
      }
      byDigit
        .crossJoin(broadcast(byDigit.agg(sum(col("n_obs")).as("__n"))))
        .withColumn("__exp", col("__n").cast("double") * expected)
        .select(col("digit"), col("n_obs"),
          round(col("__exp"), 6).as("expected_r"),
          round((col("n_obs").cast("double") - col("__exp")) *
            (col("n_obs").cast("double") - col("__exp")) / col("__exp"), 6)
            .as("chi2_term_r"))
    }),

    // pointwise mutual information grid between document language and
    // source — the association map a corpus-mix review reads ("is src2
    // secretly all-German?"). Exact integer marginals; each cell's
    // p_xy*ln(n_xy*N/(n_x*n_y)) contribution is micro-quantized to a
    // LONG (the q_drift_psi unats discipline) so no cross-row float sum
    // exists anywhere. Two tiny broadcast joins over the cell table.
    "q_mutual_info" -> ((s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
      val nx = cells.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
      val ny = cells.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
      val nn = cells.agg(sum(col("n_xy")).as("__n"))
      cells.join(broadcast(nx), Seq("lang")).join(broadcast(ny), Seq("source"))
        .crossJoin(broadcast(nn))
        .select(col("lang"), col("source"), col("n_xy"), col("n_x"), col("n_y"),
          floor((col("n_xy").cast("double") / col("__n").cast("double")) *
            log((col("n_xy").cast("double") * col("__n").cast("double")) /
              (col("n_x").cast("double") * col("n_y").cast("double"))) *
            lit(1e6d) + lit(0.5d)).cast("long").as("mi_unats"))
    }),

    // CUSUM changepoint on the daily revenue series — "when did the level
    // shift" for a pipeline health monitor. FRACTION-FREE deviation:
    // dev_t = n*P_t - t*T (P_t prefix sum, T total), computed in
    // decimal(38,0) like q_ks_test/q_wasserstein (n·P passes 2^63 once
    // total cents reach ~1e15 — a plain long would silently wrap while
    // the oracle's HUGEINT stays exact); the argmax ORDERS ON THE EXACT
    // DECIMAL (a long-cast here would overflow to NULL at scale and
    // silently argmax the wrong day; the oracle orders on its exact
    // HUGEINT) and takes the earliest day on ties; only the EMITTED
    // dev_abs is cast — to double, the same exact-integer→IEEE conversion
    // on both engines (the q_ks_test d_num discipline). The window runs
    // over the DAILY rollup — bounded by the date range by construction
    // (thousands of rows), not by data volume, which is the one shape
    // where an unpartitioned window is correct.
    "q_changepoint" -> ((s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
      val w = Window.orderBy(col("day"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val scored = daily
        .withColumn("__t", row_number().over(w).cast("long"))
        .withColumn("__p", sum(col("rev_c")).over(w))
        .crossJoin(broadcast(daily.agg(
          count(lit(1)).as("n_days"), sum(col("rev_c")).as("__tot"))))
        .select(col("day").as("change_day"), col("n_days"),
          abs(dec(col("n_days")) * dec(col("__p")) - dec(col("__t")) * dec(col("__tot")))
            .as("__dev"))
      scored
        .withColumn("__rk", row_number().over(
          Window.orderBy(col("__dev").desc, col("change_day"))))
        .where(col("__rk") === 1)
        .select(col("change_day"), col("n_days"),
          col("__dev").cast("double").as("dev_abs"))
    }),

    // chi-squared independence + Cramér's V between order priority and
    // status — the categorical-association strength score a feature audit
    // ranks candidate columns by. Cell terms are micro-quantized to longs
    // BEFORE summing (no cross-cell float sum — the q_drift_psi
    // discipline); expected counts are int/int IEEE divisions; V's sqrt
    // is one correctly-rounded call on both engines.
    "q_cramers_v" -> ((s, dir) => {
      val cells = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
        .agg(count(lit(1)).as("n_xy"))
      val nx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
      val ny = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
      val dims = cells.agg(sum(col("n_xy")).as("__n"),
        countDistinct(col("x")).as("r"), countDistinct(col("y")).as("c"))
      val e = col("n_x").cast("double") * col("n_y").cast("double") /
        col("__n").cast("double")
      cells.join(broadcast(nx), Seq("x")).join(broadcast(ny), Seq("y"))
        .crossJoin(broadcast(dims))
        .select(col("__n"), col("r"), col("c"),
          floor((col("n_xy").cast("double") - e) * (col("n_xy").cast("double") - e) /
            e * lit(1e6d) + lit(0.5d)).cast("long").as("__term"))
        .groupBy(col("__n").as("n"), col("r"), col("c"))
        .agg(sum(col("__term")).as("chi2_micro"))
        .select(col("n"), col("r"), col("c"), col("chi2_micro"),
          round(sqrt((col("chi2_micro").cast("double") / lit(1e6d)) /
            (col("n").cast("double") *
              least(col("r") - 1L, col("c") - 1L).cast("double"))), 6)
            .as("cramers_v_r"))
    }),

    // equal-allocation stratified sample over languages
    // (Sampling.stratifiedEqualAllocation): every stratum hash-gated at
    // min_count/its_count, the class-balancing sampler for a training
    // mix. Membership is pinned, not just counted: kept_fp is the
    // BIT_XOR of surviving doc_ids, so a single wrongly-gated row flips
    // the hash even when counts coincide.
    "q_stratified_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = Sampling.stratifiedEqualAllocation(docs, "doc_id", "lang", seed = "strat")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), expr("bit_xor(doc_id)").as("kept_fp"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_fp"), lit(0L)).as("kept_fp"))
    }),

    // Bloom-filter membership audit — the oracle-decidable contract for
    // the pre-join Bloom sketch every broadcast-less big join ships
    // (built with the same stat.bloomFilter + plan-embedded
    // [[graft.plans.NativeExpressions.bloomMightContain]] machinery the
    // q_cross_dedup_bloom production path uses): members = order-holding
    // custkeys; probes = one synthesized NON-member key per customer
    // ("probe:<custkey>" — a prefixed rendering can never equal a numeric
    // one, at any scale, so the probe set is disjoint by construction).
    // `no_false_negatives` MUST hold (the Bloom guarantee — a false one
    // means broken plumbing); `fpr_within_bound` checks the observed
    // false-positive rate against 3x the ~1% design point. Capacity is
    // DATA-DERIVED (the member-count estimate, floored at 1000) — a
    // hardcoded capacity would saturate at larger scale factors and flip
    // the bound false while the oracle emits TRUE. Sizing rides ONE
    // approx_count_distinct pass over the raw column (partial HLL
    // sketches merged map-side — no distinct exchange, the way a real
    // pre-join filter is sized at 100 TB); its ±5% rsd is absorbed many
    // times over by the 3x FPR bound. The driver-side filter AGGREGATION
    // (stat.bloomFilter over the distinct keys) remains the one-off build
    // cost of shipping a real pre-join filter. Exact counts escape only
    // via n_members (count of the same frame the filter ingests); sketch
    // bits never do.
    "q_bloom_fpr" -> ((s, dir) => {
      // string keys on BOTH sides: the plan-embedded probe hashes UTF-8
      // bytes (BloomMightContain), so the build must insert the same
      // rendering — a putLong build would never match a binary probe
      val members = t(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("k")).distinct()
      val probes = t(s, dir, "customer")
        .select(concat(lit("probe:"), col("c_custkey").cast("string")).as("k"))
      val approxMembers = t(s, dir, "orders")
        .agg(approx_count_distinct(col("o_custkey")).as("n"))
        .first().getLong(0)
      // size from the HLL estimate INFLATED by 10%: approx_count_distinct
      // carries ±5% rsd, and an UNDERestimate silently raises the realized
      // FPR toward the 3x bound as scale grows — the headroom must absorb
      // sketch error by construction, not by luck
      val bloom = members.stat.bloomFilter("k",
        math.max(approxMembers + approxMembers / 10L, 1000L), 0.01)
      val memberChecks = members
        .agg(count(lit(1)).as("n_members"),
          sum(when(graft.plans.NativeExpressions.bloomMightContain(col("k"), bloom),
            0L).otherwise(1L)).as("__misses"))
      val probeChecks = probes
        .agg(count(lit(1)).as("n_probes"),
          sum(when(graft.plans.NativeExpressions.bloomMightContain(col("k"), bloom),
            1L).otherwise(0L)).as("__fps"))
      memberChecks.crossJoin(probeChecks)
        .select(col("n_members"), col("n_probes"),
          (col("__misses") === 0L).as("no_false_negatives"),
          (col("__fps").cast("double") <=
            lit(0.03d) * col("n_probes").cast("double")).as("fpr_within_bound"))
    })
  )

  /** Benford first-digit shares log10(1 + 1/d), computed once here and
    * embedded as IDENTICAL double literals in the Spark plan and the
    * generated q_benford oracle SQL — neither engine's own log10 is ever
    * consulted. */
  private val BenfordShare: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Exact char-`n`-gram shingle sets per doc — the DuckDB twin of
    * [[graft.plans.CharShingles]] (lowercase, distinct, whole-string shingle
    * when 0 < len ≤ n, empty set for empty text). Shared by the ground-truth
    * oracles of every char-shingle LSH query: the LSH pipelines are verified
    * against exact all-pairs Jaccard, so their output must EQUAL the exact
    * ≥-threshold pair set (hash-match ⇒ precision and recall both 1.0). */
  private def charShingleSql(src: String): String =
    s"""sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN len(s) = 0 THEN []
      |         WHEN len(s) <= 5 THEN [s]
      |         ELSE list_distinct(list_transform(range(1, len(s) - 3), i -> s[i:i+4]))
      |    END AS sh
      |  FROM (SELECT doc_id, lower(text) AS s FROM $src))""".stripMargin

  /** Exact char-shingle Jaccard over every pair sharing ≥ 1 shingle
    * (id_a < id_b, empty-shingle docs excluded exactly as the LSH banding
    * excludes them). A zero-intersection pair has jaccard 0, below every
    * downstream ≥-threshold consumer, so the posting-list equi-join is
    * result-identical to the naive all-pairs list_intersect form — and
    * turns the oracle from O(n²) list ops into one grouped join (the
    * round-7 board spent ~265 s of DuckDB time re-evaluating the naive
    * form across this CTE's four consumers; now < 1 s each). |∩| comes
    * from the join group count, |∪| = |A| + |B| − |∩|; the final int/int
    * IEEE division is bit-identical between Spark and DuckDB. CTEs are
    * MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default,
    * re-evaluating the pair pipeline once per reference. */
  private val charPairsSql: String =
    s"""${charShingleSql("documents")},
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM sh WHERE len(sh) > 0),
      | pairs AS MATERIALIZED (
      |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4))""".stripMargin

  /** Exact all-CROSS-pairs jaccard over the doc_id<400 / ≥400 corpus split
    * — the shared ground truth for every cross-corpus dedup variant
    * (bloom, bucketed): each one's hash match proves its candidate pruning
    * loses nothing. */
  private val crossPairsOracleSql: String =
    s"""WITH ${charShingleSql("documents")},
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM sh WHERE len(sh) > 0),
      | x AS (
      |  SELECT new_id, ref_id, cast(i AS double) / (nb + nr - i) AS jaccard
      |  FROM (
      |    SELECT b.doc_id AS new_id, r.doc_id AS ref_id, b.n AS nb, r.n AS nr,
      |      count(*)::BIGINT AS i
      |    FROM shm b JOIN shm r ON b.g = r.g AND b.doc_id >= 400 AND r.doc_id < 400
      |    GROUP BY 1, 2, 3, 4))
      |SELECT new_id, ref_id, jaccard FROM x WHERE jaccard >= 0.5""".stripMargin

  /** The deterministic page template of [[graft.ext.WebText.synthesizeHtml]]
    * rebuilt with SQL concatenation — shared by the q_html_extract /
    * q_url_normalize oracles (doc_id ≥ 0, so `%` equals Spark's pmod). */
  private val htmlPagesSql: String =
    // concatenation operators sit at line ENDS: this fragment is
    // interpolated into strings that call .stripMargin AFTERWARDS, and a
    // line-leading '||' would lose its first pipe to that strip
    """pages AS MATERIALIZED (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || cast(doc_id AS varchar) || '</title>' ||
      |    '<script>var id=' || cast(doc_id AS varchar) || ';track(id);</script>' ||
      |    '<style>.m{margin:0} nav a{color:#00f}</style></head><body>' ||
      |    '<nav><a href="/home">Home</a> <a href="/s?ref=' ||
      |    cast(doc_id % 7 AS varchar) || '">Section</a></nav>' ||
      |    '<div id="main"><p>' || coalesce(text, '') || '</p></div>' ||
      |    '<aside><a href="HTTPS://Links.Example.COM:443/p/' ||
      |    cast(doc_id % 13 AS varchar) || '#frag">more ' ||
      |    cast(doc_id % 13 AS varchar) ||
      |    '</a></aside><footer>(c) corp ' || cast(doc_id % 100 AS varchar) ||
      |    '</footer></body></html>' AS html
      |  FROM documents)""".stripMargin

  /** The q_media_decode oracle: rebuild the synthesized BMP/WAV/PNG/JPEG
    * payloads hex-for-hex (same `lpad∘hex` endian constructions as
    * [[graft.ext.Multimodal.synthesizeMedia]]), then PARSE the decoded
    * fields back out of the built hex at the same byte offsets the JVM
    * header parser reads (LE for BMP/WAV, BE for PNG/JPEG — the JPEG
    * offsets are fixed because the synthesized segment layout is; the JVM
    * side still walks markers for real). md5 over the hex (hex↔bytes is a
    * bijection; this DuckDB build's md5 is VARCHAR-only) pins construction
    * equality; the parsed fields pin the decoder. */
  private val mediaDecodeOracleSql: String = {
    // little-endian 32-bit hex of a SQL integer expression
    def le32(v: String): String = {
      val h = s"lpad(hex($v), 8, '0')"
      s"substr($h, 7, 2) || substr($h, 5, 2) || substr($h, 3, 2) || substr($h, 1, 2)"
    }
    // parse a little-endian value back out of the hex string `hx` at a
    // 0-based BYTE offset (byte k = hex chars 2k+1..2k+2)
    def le32p(byteOff: Int): String = {
      val c = byteOff * 2 + 1
      s"('0x' || substr(hx, ${c + 6}, 2) || substr(hx, ${c + 4}, 2) || " +
        s"substr(hx, ${c + 2}, 2) || substr(hx, $c, 2))::BIGINT"
    }
    def le16p(byteOff: Int): String = {
      val c = byteOff * 2 + 1
      s"('0x' || substr(hx, ${c + 2}, 2) || substr(hx, $c, 2))::BIGINT"
    }
    // big-endian fields read straight off the hex
    def be32p(byteOff: Int): String =
      s"('0x' || substr(hx, ${byteOff * 2 + 1}, 8))::BIGINT"
    def be16p(byteOff: Int): String =
      s"('0x' || substr(hx, ${byteOff * 2 + 1}, 4))::BIGINT"
    s"""WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    doc_id % 4 AS k,
      |    cast(doc_id % 7 + 1 AS bigint) AS w,
      |    cast(doc_id % 5 + 1 AS bigint) AS h,
      |    cast(8000 + (doc_id % 8) * 1000 AS bigint) AS sr,
      |    cast(doc_id % 400 + 1 AS bigint) AS ns,
      |    cast(doc_id % 640 + 1 AS bigint) AS pngw,
      |    cast(doc_id % 480 + 1 AS bigint) AS pngh,
      |    cast(doc_id % 1920 + 1 AS bigint) AS jpgw,
      |    cast(doc_id % 1080 + 1 AS bigint) AS jpgh,
      |    lpad(hex(doc_id % 256), 2, '0') AS fill
      |  FROM documents),
      | geom AS (SELECT *, cast(floor((w * 3 + 3) / 4) * 4 AS bigint) AS rowsize FROM p),
      | built AS MATERIALIZED (
      |  SELECT media_id, k,
      |    CASE k
      |    WHEN 0 THEN
      |      '424D' || ${le32("rowsize * h + 54")} || '00000000' || ${le32("54")} ||
      |      '28000000' || ${le32("w")} || ${le32("h")} || '0100' || '1800' ||
      |      '00000000' || ${le32("rowsize * h")} || '130B0000' || '130B0000' ||
      |      '00000000' || '00000000' || repeat(fill, cast(rowsize * h AS int))
      |    WHEN 1 THEN
      |      '52494646' || ${le32("ns * 2 + 36")} || '57415645' || '666D7420' ||
      |      ${le32("16")} || '0100' || '0100' || ${le32("sr")} || ${le32("sr * 2")} ||
      |      '0200' || '1000' || '64617461' || ${le32("ns * 2")} ||
      |      repeat(fill, cast(ns * 2 AS int))
      |    WHEN 2 THEN
      |      '89504E470D0A1A0A' || '0000000D' || '49484452' ||
      |      lpad(hex(pngw), 8, '0') || lpad(hex(pngh), 8, '0') || '08' || '02' ||
      |      '000000' || '00000000' || '00000000' || '49454E44' || 'AE426082'
      |    ELSE
      |      'FFD8' || 'FFE0' || '0010' || '4A46494600' || '0101' || '00' ||
      |      '0048' || '0048' || '00' || '00' ||
      |      'FFC0' || '0011' || '08' || lpad(hex(jpgh), 4, '0') || lpad(hex(jpgw), 4, '0') ||
      |      '03' || '012200' || '021101' || '031101' || 'FFD9'
      |    END AS hx
      |  FROM geom),
      | parsed AS (
      |  SELECT media_id, k, hx,
      |    ${le32p(18)} AS bmp_w, ${le32p(22)} AS bmp_h,
      |    ${le32p(24)} AS wav_sr, ${le16p(32)} AS wav_ba, ${le32p(40)} AS wav_ds,
      |    ${be32p(16)} AS png_w, ${be32p(20)} AS png_h,
      |    ${be16p(25)} AS jpg_h, ${be16p(27)} AS jpg_w
      |  FROM built)
      |SELECT media_id,
      |  CASE k WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'png' ELSE 'jpeg' END AS kind,
      |  CASE WHEN k = 0 THEN cast(bmp_w AS int) WHEN k = 2 THEN cast(png_w AS int)
      |       WHEN k = 3 THEN cast(jpg_w AS int) END AS width,
      |  CASE WHEN k = 0 THEN cast(bmp_h AS int) WHEN k = 2 THEN cast(png_h AS int)
      |       WHEN k = 3 THEN cast(jpg_h AS int) END AS height,
      |  CASE WHEN k = 1 THEN cast(wav_sr AS int) END AS sample_rate,
      |  CASE WHEN k = 1 THEN wav_ds // wav_ba END AS n_samples,
      |  CASE WHEN k = 1 THEN ((wav_ds // wav_ba) * 1000.0) / wav_sr END AS duration_ms,
      |  md5(hx) AS payload_md5
      |FROM parsed""".stripMargin
  }

  /** The q_bpe_tokens oracle: replay BPE TRAINING in SQL, then tokenize.
    * Documents render as comma-wrapped hex symbols (`,61,,62,` …); each
    * training stage takes the argmax adjacent pair — `ORDER BY count
    * DESC, x, y` is the trainer's exact tiebreak, ASCII-lexicographic in
    * both engines — and applies the merge with one `replace()`, which IS
    * one left-to-right non-overlapping merge pass on that rendering (see
    * [[graft.functions.Bpe]]). MATERIALIZED pins each stage: the default
    * CTE inlining re-evaluates every referenced stage and the 24-deep
    * chain goes exponential (measured: >120 s inlined, 0.14 s
    * materialized). The coalesce sentinel ('~' is not a hex symbol) keeps
    * a hypothetically-empty sample from turning `replace` NULL. */
  private def bpeOracleSql(finalSelect: String => String): String = {
    val n = 24
    val wrap = """regexp_replace(hex(text), '(..)', ',\1,', 'g')"""
    def m(i: Int, s: String): String = s"coalesce((SELECT $s FROM m$i), '~')"
    def step(i: Int): String =
      s"replace(s, ',' || ${m(i, "x")} || ',,' || ${m(i, "y")} || ',', " +
        s"',' || ${m(i, "x || y")} || ',')"
    val sb = new StringBuilder
    sb ++= "WITH s0 AS MATERIALIZED (SELECT " + wrap +
      " AS s FROM documents WHERE doc_id < 50 AND text IS NOT NULL AND len(text) > 0)"
    for (i <- 1 to n) {
      sb ++= s""",
 m$i AS MATERIALIZED (
  SELECT t.ls[u.g] AS x, t.ls[u.g + 1] AS y, count(*) AS c
  FROM (SELECT string_split(trim(s, ','), ',,') AS ls FROM s${i - 1}) t,
       unnest(generate_series(1, len(t.ls) - 1)) AS u(g)
  GROUP BY 1, 2 ORDER BY c DESC, x, y LIMIT 1),
 s$i AS MATERIALIZED (SELECT ${step(i)} AS s FROM s${i - 1})"""
    }
    sb ++= s""",
 a0 AS (SELECT doc_id, source, $wrap AS s FROM documents)"""
    for (i <- 1 to n) {
      sb ++= s""",
 a$i AS (SELECT doc_id, source, ${step(i)} AS s FROM a${i - 1})"""
    }
    sb ++= finalSelect(s"a$n")
    sb.toString
  }

  private val bpeTokensOracleSql: String = bpeOracleSql(last => s"""
SELECT doc_id, ((len(s) - len(replace(s, ',', ''))) // 2)::BIGINT AS n_bpe_tokens FROM $last""")

  /** The fertility rollup on top of the replayed BPE chain: join back to
    * documents for lang and the whitespace word count (the q_token_budget
    * formula), then integer sums + one guarded division per lang. */
  private val tokenizerFertilityOracleSql: String = bpeOracleSql(last => s"""
, f AS (
  SELECT d.lang,
    ((len(a.s) - len(replace(a.s, ',', ''))) // 2)::BIGINT AS bpe,
    len(list_filter(string_split_regex(d.text, '[\\s\\x0b]+'), x -> x <> ''))::BIGINT AS ws
  FROM $last a JOIN documents d USING (doc_id)
  WHERE d.text IS NOT NULL)
SELECT lang, count(*)::BIGINT AS n_docs, sum(bpe)::BIGINT AS bpe_tokens,
  sum(ws)::BIGINT AS ws_tokens,
  CASE WHEN sum(ws) > 0
       THEN cast(sum(bpe) AS double) / cast(sum(ws) AS double) END AS fertility
FROM f GROUP BY 1""")

  /** q_pack_bpe: the same replayed tokenizer, then the pack layout as a
    * per-source cumulative window over BPE counts (HUGEINT window sum
    * cast back to BIGINT before the div/mod). */
  private val packBpeOracleSql: String = bpeOracleSql(last => s"""
, cnt AS (
  SELECT doc_id, source,
    ((len(s) - len(replace(s, ',', ''))) // 2)::BIGINT AS n_tokens
  FROM $last)
SELECT doc_id, source, n_tokens,
  cum_before // 2048 AS pack_id, cum_before % 2048 AS offset
FROM (
  SELECT doc_id, source, n_tokens,
    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
  FROM cnt WHERE n_tokens IS NOT NULL AND n_tokens > 0)""")

  /** The q_image_near_dup oracle: rebuild the 9×8 gradient BMPs hex-for-
    * hex ([[graft.ext.Multimodal.synthesizeGradientImages]]), read every
    * gray byte back out of the built hex at the decoder's exact offsets
    * (bottom-up rows, 28-byte stride, blue channel), recompute the 64
    * dHash comparison bits, and take exact all-pairs Hamming ≤ 3 over the
    * per-bit rows (64·pairs rows — integer-only, no 64-bit shifts, which
    * overflow DuckDB's UBIGINT `<<`). Exact all-pairs == the Spark LSH
    * output because 4-band pigeonhole recall at Hamming ≤ 3 is
    * unconditional. */
  /** The dHash pair derivation (payload rebuild → pixel grid → dHash
    * bits → banded pairs → hamming) as a CTE chain ending in `pairs` —
    * shared by the q_image_near_dup and q_image_dup_clusters oracles. */
  private val imagePairChainSql: String =
    """d AS (
      |  SELECT cast(doc_id AS bigint) AS id, doc_id % 50 AS pid, doc_id // 50 AS v
      |  FROM documents),
      | cells AS (
      |  SELECT id, ys, x,
      |    CASE WHEN x = 9 THEN '00'
      |         ELSE repeat(lpad(hex((pid * 37 + x * (13 + (pid % 11) * 23) +
      |           (7 - ys) * 53 +
      |           CASE WHEN v > 0 AND v % 9 = x AND v % 8 = (7 - ys)
      |                THEN 40 ELSE 0 END) % 256), 2, '0'), 3)
      |    END AS ph
      |  FROM d, generate_series(0, 7) s(ys), generate_series(0, 9) t(x)),
      | body AS MATERIALIZED (SELECT id, string_agg(ph, '' ORDER BY ys, x) AS bh FROM cells GROUP BY id),
      | built AS MATERIALIZED (
      |  SELECT id,
      |    '424D' || '16010000' || '00000000' || '36000000' || '28000000' ||
      |    '09000000' || '08000000' || '0100' || '1800' || '00000000' ||
      |    'E0000000' || '130B0000' || '130B0000' || '00000000' || '00000000' ||
      |    bh AS hx
      |  FROM body),
      | grid AS MATERIALIZED (
      |  SELECT id, x, y,
      |    ('0x' || substr(hx, (54 + (7 - y) * 28 + x * 3) * 2 + 1, 2))::BIGINT AS g
      |  FROM built, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
      | bits AS MATERIALIZED (
      |  SELECT a.id, a.y * 8 + a.x AS bit,
      |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS v
      |  FROM grid a JOIN grid b ON a.id = b.id AND b.x = a.x + 1 AND b.y = a.y
      |  WHERE a.x < 8),
      | pairs AS MATERIALIZED (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)::BIGINT AS hamming
      |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.id < b.id
      |  GROUP BY 1, 2)""".stripMargin

  private val imageNearDupOracleSql: String =
    s"""WITH $imagePairChainSql
      |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin

  /** The q_image_dup_clusters oracle: the pair chain plus the recursive
    * min-reachable closure (the q_near_dup_clusters convention, over
    * dHash-Hamming edges instead of Jaccard edges). */
  private val imageDupClustersOracleSql: String =
    s"""WITH RECURSIVE $imagePairChainSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
      | edges AS (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      |SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src""".stripMargin

  /** The full IVF top-k chain in SQL, ending in a `ranked` CTE — the
    * centroid gate, ONE Lloyd refinement pass, the argmin assignment, the
    * probe selection and the in-bucket cosine top-k all mirror
    * [[graft.ext.Similarity]] exactly: md5-prefix centroid gate; the
    * Lloyd mean quantized to 1e-6 and summed as bigints (exact and
    * order-independent, so both engines produce bit-identical refined
    * centroids — see [[graft.ext.Similarity.refineCentroids]]); empty
    * buckets keep their sampled position; NULL vectors excluded from
    * assignment and queries exactly where Spark excludes them; distance
    * ordering under sqrt like the Spark side (sqrt is monotone, but two
    * distinct squared distances can ROUND to the same double under sqrt
    * and fall to the centroid_id tie-break — ordering by sqrt keeps even
    * that case bit-faithful); (dist, centroid_id) and
    * (cosine DESC, neighbor_id) tie-breaks. Shared by the
    * q_embed_ivf_topk and q_ivf_recall oracles. */
  private def ivfChainSql(nprobe: Int = 8): String =
    s"""params AS (
      |  SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
      | cand AS (
      |  SELECT cast(vec_id AS varchar) AS sid,
      |         list_transform(embedding, x -> cast(x AS double)) AS cvec
      |  FROM embeddings, params
      |  WHERE embedding IS NOT NULL
      |    AND ('0x' || substr(md5('ivf:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
      | cent0 AS (
      |  SELECT row_number() OVER (ORDER BY sid) - 1 AS centroid_id, cvec
      |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
      | corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | assigned0 AS (
      |  SELECT vec_id, vec, centroid_id FROM (
      |    SELECT c.vec_id, c.vec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM corpus c CROSS JOIN cent0 ct)
      |  WHERE rn = 1),
      | exploded AS (
      |  SELECT centroid_id, unnest(vec) AS x,
      |         unnest(range(1, len(vec) + 1)) AS pos
      |  FROM assigned0),
      | means AS (
      |  SELECT centroid_id, pos,
      |    cast(sum(cast(floor(x * 1000000.0 + 0.5) AS bigint)) AS double)
      |      / (count(*) * 1000000.0) AS m
      |  FROM exploded GROUP BY centroid_id, pos),
      | newc AS (
      |  SELECT centroid_id, list(m ORDER BY pos) AS cvec
      |  FROM means GROUP BY centroid_id),
      | cent AS (
      |  SELECT c0.centroid_id, coalesce(n.cvec, c0.cvec) AS cvec
      |  FROM cent0 c0 LEFT JOIN newc n USING (centroid_id)),
      | assigned AS (
      |  SELECT vec_id, vec, centroid_id FROM (
      |    SELECT c.vec_id, c.vec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM corpus c CROSS JOIN cent ct)
      |  WHERE rn = 1),
      | q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
      |       FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | probes AS (
      |  SELECT qid, qvec, centroid_id FROM (
      |    SELECT q.qid, q.qvec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(q.qvec) + 1), i -> q.qvec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(q.qvec) + 1), i -> q.qvec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM q CROSS JOIN cent ct)
      |  WHERE rn <= $nprobe),
      | scored AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
      |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(p.qvec, p.qvec)) = 0 THEN 0.0
      |         ELSE list_dot_product(a.vec, p.qvec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(p.qvec, p.qvec)))
      |    END AS cosine
      |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      |  WHERE a.vec_id <> p.qid),
      | ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)""".stripMargin

  /** q_blocklist's term list: deliberately nested ("an" ⊂ "can" ⊂ "scan",
    * "tab" ⊂ "table") and overlap-prone, so the oracle equality proves the
    * Aho-Corasick output-link walk fires EVERY ending term at every
    * position — the cases a naive first-match scanner drops. */
  private val BlocklistTerms = Seq("scan", "can", "an", "table", "tab", "order")

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

  /** DuckDB-runnable oracles, column-aliased identically to the Spark side.
    * Omitted keys (hash/LSH/stub-based ops) get the driver's weaker
    * rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q_minhash_near_dup" ->
      s"""WITH $charPairsSql
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin,

    // the exact pair set labeled by unordered source pair
    "q_dup_flow" ->
      s"""WITH $charPairsSql,
        | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5)
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  count(*)::BIGINT AS n_pairs
        |FROM above a JOIN documents da ON da.doc_id = a.id_a
        |  JOIN documents db ON db.doc_id = a.id_b
        |GROUP BY 1, 2""".stripMargin,

    "q_near_dup_clusters" ->
      s"""WITH RECURSIVE $charPairsSql,
        | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM above
        |  UNION SELECT id_b, id_a FROM above),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src""".stripMargin,

    // same planted versions, survivorship replayed as arg_max/arg_min
    // FILTER non-null (the unique per-cluster version number makes the
    // Spark struct-argmax and DuckDB arg_max the same function)
    "q_golden_record" ->
      """WITH recs AS (
        |  SELECT c_custkey, v,
        |    CASE WHEN (c_custkey + v * 7) % 3 <> 0
        |      THEN c_name || '-v' || cast(v AS varchar) END AS name,
        |    CASE WHEN (c_custkey + v * 5) % 4 <> 0
        |      THEN c_mktsegment || '/' || cast(v AS varchar) END AS segment,
        |    c_acctbal + v AS acctbal
        |  FROM (SELECT *, unnest(generate_series(0, c_custkey % 3)) AS v
        |        FROM customer))
        |SELECT c_custkey, count(*)::BIGINT AS n_records,
        |  arg_max(name, v) FILTER (WHERE name IS NOT NULL) AS name,
        |  arg_min(segment, v) FILTER (WHERE segment IS NOT NULL) AS segment,
        |  max(acctbal) AS acctbal
        |FROM recs GROUP BY 1""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $charPairsSql,
        | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM above
        |  UNION SELECT id_b, id_a FROM above),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | clusters AS MATERIALIZED (
        |  SELECT src AS id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        | ranked AS (
        |  SELECT c.cluster_id, d.doc_id AS best_id,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        |  FROM clusters c JOIN documents d ON c.id = d.doc_id)
        |SELECT c.id, c.cluster_id, b.best_id
        |FROM clusters c
        |JOIN (SELECT cluster_id, best_id FROM ranked WHERE rn = 1) b USING (cluster_id)""".stripMargin,

    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE $charPairsSql,
        | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM above
        |  UNION SELECT id_b, id_a FROM above),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | keeper AS (
        |  SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src),
        | rep AS (
        |  SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS rep_id
        |  FROM documents d LEFT JOIN keeper k ON d.doc_id = k.id)
        |SELECT doc_id, rep_id,
        |  CASE WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM rep""".stripMargin,

    // the audit replayed: exact pairs, the same closure + both split
    // gates, leakage as one int/int division per method row
    "q_split_leakage_audit" ->
      s"""WITH RECURSIVE $charPairsSql,
        | above AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM above
        |  UNION SELECT id_b, id_a FROM above),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | keeper AS (
        |  SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src),
        | rep AS (
        |  SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS rep_id
        |  FROM documents d LEFT JOIN keeper k ON d.doc_id = k.id),
        | safe AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM rep),
        | naive AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        | m AS (
        |  SELECT 'cluster_safe' AS method, sa.split AS s1, sb.split AS s2
        |  FROM above a JOIN safe sa ON sa.doc_id = a.id_a
        |              JOIN safe sb ON sb.doc_id = a.id_b
        |  UNION ALL
        |  SELECT 'naive_hash', na.split, nb.split
        |  FROM above a JOIN naive na ON na.doc_id = a.id_a
        |              JOIN naive nb ON nb.doc_id = a.id_b)
        |SELECT method, count(*)::BIGINT AS n_dup_pairs,
        |  sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END)::BIGINT AS n_cross_split,
        |  cast(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS leakage_rate
        |FROM m GROUP BY 1""".stripMargin,

    "q_cross_dedup_bloom" -> crossPairsOracleSql,

    // identical contract to the bloom variant, staged-bucketed path
    "q_cross_dedup_bucketed" -> crossPairsOracleSql,

    "q_cross_dedup" ->
      s"""WITH ${charShingleSql("documents")},
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM sh WHERE len(sh) > 0),
        | dup AS (
        |  SELECT DISTINCT new_id AS doc_id FROM (
        |    SELECT b.doc_id AS new_id, b.n AS nb, r.n AS nr, count(*)::BIGINT AS i
        |    FROM shm b JOIN shm r ON b.g = r.g AND b.doc_id >= 400 AND r.doc_id < 400
        |    GROUP BY b.doc_id, r.doc_id, 2, 3)
        |  WHERE cast(i AS double) / (nb + nr - i) >= 0.5)
        |SELECT doc_id, md5(text) AS text_hash FROM documents
        |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin,

    // rebuilds the md5-family SimHash fingerprint per document — same token
    // hash (first 8 md5 bytes big-endian), same ±1 vote arithmetic, same
    // strict >0 bit rule — then takes exact all-pairs Hamming ≤ 3. The
    // 4-band pigeonhole cannot miss a pair within Hamming 3 (not a
    // data-dependent recall argument); tokenization parity caveats are on
    // the query above. [\s\x0b] == Java's \s exactly (RE2's \s lacks
    // vertical tab). Plain triple-quote: \s reaches DuckDB unescaped.
    "q_simhash_near_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[\s\x0b]+')) AS tok
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE tok <> ''),
        | th AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
        | votes AS (
        |  SELECT doc_id, b.bit AS bit,
        |    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(range(0, 64)) AS bit) b
        |  GROUP BY doc_id, b.bit),
        | fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN 1::HUGEINT << bit ELSE 0::HUGEINT END)::UBIGINT AS fp
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    // the portable-md5 metadata derivation plus byte length of the UTF-8
    // payload — value-checks the mapPartitions feature path end to end
    // (including null payloads becoming 0-byte features)
    "q_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  (['image/png', 'image/jpeg', 'audio/wav'])[
        |    cast(('0x' || substr(md5('mime:' || cast(doc_id AS varchar)), 1, 8))::UBIGINT % 3 + 1 AS int)] AS mime,
        |  cast(coalesce(octet_length(encode(text)), 0) AS bigint) AS n_bytes
        |FROM documents""".stripMargin,

    // the DEFLATE byte count is engine-local (DuckDB cannot deflate);
    // the oracle recomputes the exact raw byte length and asserts the
    // format-envelope boolean Spark computed is TRUE
    "q_compression_ratio" ->
      """SELECT doc_id, lang,
        |  cast(octet_length(encode(text)) AS bigint) AS raw_bytes,
        |  TRUE AS within_bound
        |FROM documents""".stripMargin,

    // the synthesized BMP/WAV payloads rebuilt hex-for-hex in SQL, then
    // PARSED back out of the built hex at the same byte offsets the JVM
    // decoder reads (LE reassembly via substr) — md5 over the hex pins the
    // bytes, the parsed fields pin the decode
    "q_media_decode" -> mediaDecodeOracleSql,
    "q_image_near_dup" -> imageNearDupOracleSql,
    "q_image_dup_clusters" -> imageDupClustersOracleSql,

    // the synthesized page rebuilt with string concatenation, then the
    // same RE2-safe extraction regexes replayed (DuckDB regexp_replace
    // needs the explicit 'g' flag where Spark's is global by default);
    // both engines' \s classes are extended with \x0b explicitly
    "q_html_extract" ->
      s"""WITH $htmlPagesSql,
        | nb AS (
        |  SELECT doc_id, html,
        |    regexp_replace(regexp_replace(html,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
        |  FROM pages),
        | ex AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
        |      '[\\s\\x0b]+', ' ', 'g')) AS clean,
        |    trim(regexp_replace(regexp_replace(
        |      array_to_string(regexp_extract_all(noblocks,
        |        '(?s)<a [^>]*>(.*?)</a>', 1), ' '),
        |      '<[^>]*>', ' ', 'g'), '[\\s\\x0b]+', ' ', 'g')) AS atext
        |  FROM nb)
        |SELECT doc_id,
        |  regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
        |  md5(clean) AS text_hash,
        |  length(clean)::BIGINT AS text_len,
        |  cast(length(atext) AS double)
        |    / cast(greatest(length(clean), 1) AS double) AS link_density,
        |  len(regexp_extract_all(html, '(?s)<a [^>]*>', 0))::BIGINT AS n_links
        |FROM ex""".stripMargin,

    // the same literal-codepoint damage synthesis and the same four
    // counting regexes (every char appears as the raw codepoint — no
    // escape forms, so the Java and RE2 readings cannot diverge)
    "q_encoding_audit" -> {
      val tail0 = " ��broken�"
      val tail1 = " cafÃ© âquoteâ"
      val tail2 = " ctlspill"
      val tail3 = " a b c"
      val pRep = "�"
      val pCtrl = "[--]"
      val pMoji = "Ã[¨©ª«]|" +
        "â[]|Â "
      val pNbsp = " "
      "WITH d AS (\n" +
        "  SELECT doc_id, coalesce(text, '') || CASE doc_id % 10\n" +
        s"    WHEN 0 THEN '$tail0'\n" +
        s"    WHEN 1 THEN '$tail1'\n" +
        s"    WHEN 2 THEN '$tail2'\n" +
        s"    WHEN 3 THEN '$tail3'\n" +
        "    ELSE '' END AS dmg FROM documents)\n" +
        "SELECT doc_id,\n" +
        s"  len(regexp_extract_all(dmg, '$pRep'))::BIGINT AS n_replacement,\n" +
        s"  len(regexp_extract_all(dmg, '$pCtrl'))::BIGINT AS n_ctrl,\n" +
        s"  len(regexp_extract_all(dmg, '$pMoji'))::BIGINT AS n_mojibake,\n" +
        s"  len(regexp_extract_all(dmg, '$pNbsp'))::BIGINT AS n_nbsp,\n" +
        s"  (len(regexp_extract_all(dmg, '$pRep')) + " +
        s"len(regexp_extract_all(dmg, '$pCtrl')) + " +
        s"len(regexp_extract_all(dmg, '$pMoji')) + " +
        s"len(regexp_extract_all(dmg, '$pNbsp'))) = 0 AS clean\n" +
        "FROM d"
    },

    // same pages; hrefs exploded, the normalization chain replayed
    // step-for-step (RE2 backrefs are \\1-style where Spark's are $1)
    "q_url_normalize" ->
      s"""WITH $htmlPagesSql,
        | hr AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]*)"', 1)) AS href
        |  FROM pages),
        | ab AS (
        |  SELECT doc_id, href,
        |    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
        |         ELSE 'https://corp.example.com' || href END AS aurl
        |  FROM hr),
        | nf AS (SELECT doc_id, href, regexp_replace(aurl, '#.*$$', '') AS u FROM ab),
        | sl AS (
        |  SELECT doc_id, href,
        |    lower(regexp_extract(u, '^([^:]+)://', 1)) || '://'
        |      || lower(regexp_extract(u, '^[^:]+://([^/?#]*)', 1))
        |      || regexp_extract(u, '^[^:]+://[^/?#]*(.*)$$', 1) AS u2
        |  FROM nf),
        | np AS (
        |  SELECT doc_id, href,
        |    regexp_replace(regexp_replace(u2,
        |      '^(https://[^/?#:]*):443((?:[/?].*)?)$$', '\\1\\2'),
        |      '^(http://[^/?#:]*):80((?:[/?].*)?)$$', '\\1\\2') AS url_norm
        |  FROM sl)
        |SELECT doc_id, href, url_norm,
        |  regexp_extract(regexp_extract(url_norm, '^[^:]+://([^/?#:]*)', 1),
        |    '([^.]+\\.[^.]+)$$', 1) AS domain
        |FROM np""".stripMargin,

    // the two-group anchor pattern unnested in DuckDB's lockstep form,
    // the q_html_extract tag-strip/collapse on the inner text, the
    // q_url_normalize chain on the target, one GROUP BY per target
    "q_anchor_stats" ->
      s"""WITH $htmlPagesSql,
        | pr AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(html,
        |      '(?s)<a [^>]*href="([^"]*)"[^>]*>(.*?)</a>', 1)) AS href,
        |    unnest(regexp_extract_all(html,
        |      '(?s)<a [^>]*href="([^"]*)"[^>]*>(.*?)</a>', 2)) AS itxt
        |  FROM pages),
        | at AS (
        |  SELECT doc_id, href,
        |    trim(regexp_replace(regexp_replace(itxt, '<[^>]*>', ' ', 'g'),
        |      '[\\s\\x0b]+', ' ', 'g')) AS anchor_text
        |  FROM pr),
        | ab AS (
        |  SELECT doc_id, anchor_text,
        |    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
        |         ELSE 'https://corp.example.com' || href END AS aurl
        |  FROM at),
        | nf AS (SELECT doc_id, anchor_text, regexp_replace(aurl, '#.*$$', '') AS u FROM ab),
        | sl AS (
        |  SELECT doc_id, anchor_text,
        |    lower(regexp_extract(u, '^([^:]+)://', 1)) || '://'
        |      || lower(regexp_extract(u, '^[^:]+://([^/?#]*)', 1))
        |      || regexp_extract(u, '^[^:]+://[^/?#]*(.*)$$', 1) AS u2
        |  FROM nf),
        | np AS (
        |  SELECT doc_id, anchor_text,
        |    regexp_replace(regexp_replace(u2,
        |      '^(https://[^/?#:]*):443((?:[/?].*)?)$$', '\\1\\2'),
        |      '^(http://[^/?#:]*):80((?:[/?].*)?)$$', '\\1\\2') AS url_norm
        |  FROM sl)
        |SELECT url_norm, count(*)::BIGINT AS n_anchors,
        |  count(DISTINCT doc_id)::BIGINT AS n_pages,
        |  sum(length(anchor_text))::BIGINT AS anchor_chars
        |FROM np GROUP BY 1""".stripMargin,

    // same positions out of one (windowed) global order — the value at a
    // sorted position is tie-invariant, so the two engines' different
    // tie placements cannot disagree
    "q_equidepth_hist" ->
      """WITH v AS (
        |  SELECT cast(floor(l_extendedprice * 100 + 0.5) AS bigint) AS cents
        |  FROM lineitem),
        | r AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1 AS r FROM v),
        | n AS (SELECT count(*) AS n FROM v),
        | pos AS (
        |  SELECT g.i AS bucket, (n.n * g.i) // 8 - 1 AS p
        |  FROM generate_series(1, 8) g(i), n)
        |SELECT pos.bucket::BIGINT AS bucket, r.cents AS upper_cents
        |FROM pos JOIN r ON r.r = pos.p""".stripMargin,

    // centroid rebuilt from the same bigint micro-sums; three sequential
    // list folds = the same IEEE op sequence as the fused kernel
    "q_embedding_stats" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | m0 AS (
        |  SELECT pos, cast(sum(cast(floor(x * 1000000.0 + 0.5) AS bigint)) AS double)
        |    / (count(*) * 1000000.0) AS m
        |  FROM (SELECT unnest(vec) AS x, unnest(range(1, len(vec) + 1)) AS pos FROM v)
        |  GROUP BY pos),
        | mv AS (SELECT list(m ORDER BY pos) AS mean_vec FROM m0),
        | c AS (
        |  SELECT CASE WHEN sqrt(list_dot_product(v.vec, v.vec))
        |              * sqrt(list_dot_product(mean_vec, mean_vec)) = 0 THEN 0.0
        |         ELSE list_dot_product(v.vec, mean_vec)
        |           / (sqrt(list_dot_product(v.vec, v.vec))
        |              * sqrt(list_dot_product(mean_vec, mean_vec))) END AS cos
        |  FROM v, mv),
        | q AS (SELECT cast(floor(cos * 1000000.0 + 0.5) AS bigint) AS cm FROM c)
        |SELECT least(greatest((cm + 1000000) * 10 // 2000000, 0), 9)::BIGINT AS cos_bin,
        |  count(*)::BIGINT AS n_vectors, sum(cm)::BIGINT AS sum_cos_micro
        |FROM q GROUP BY 1""".stripMargin,

    // same synthesized lines; this engine ERRORS on malformed extraction
    // where Spark returns null, so validity gates through json_valid
    "q_jsonl_quarantine" ->
      """WITH l AS (
        |  SELECT CASE WHEN doc_id % 13 = 7 THEN '!' ELSE '' END ||
        |    '{"id":' || cast(doc_id AS varchar) || ',"lang":"' || lang ||
        |    '","len":' || cast(n_chars AS varchar) || '}' AS line
        |  FROM documents),
        | p AS (
        |  SELECT
        |    CASE WHEN json_valid(line)
        |         THEN json_extract_string(line, '$.lang')
        |         ELSE '__corrupt__' END AS bucket,
        |    CASE WHEN json_valid(line)
        |         THEN cast(json_extract_string(line, '$.len') AS BIGINT)
        |         ELSE length(line)::BIGINT END AS w
        |  FROM l)
        |SELECT bucket, count(*)::BIGINT AS n_lines, sum(w)::BIGINT AS total_len
        |FROM p GROUP BY 1""".stripMargin,

    // the static-filter equivalent of the runtime-pruned join
    "q_dynamic_prune" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY 1""".stripMargin,

    // each constraint's counts replayed as one aggregate row; the FK row
    // counts non-orphans the same anti-join way ("constraint" quoted —
    // reserved word there)
    "q_expectations" ->
      """WITH u AS (
        |  SELECT 0::BIGINT AS ord, 'not_null(o_custkey)' AS c,
        |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n,
        |    count(*)::BIGINT AS d, 1.0 AS threshold
        |  FROM orders
        |  UNION ALL
        |  SELECT 1, 'in_range(o_totalprice)',
        |    sum(CASE WHEN o_totalprice BETWEEN 0.0 AND 1000000.0 THEN 1 ELSE 0 END)::BIGINT,
        |    sum(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
        |  FROM orders
        |  UNION ALL
        |  SELECT 2, 'matches(o_orderpriority)',
        |    sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END)::BIGINT,
        |    sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
        |  FROM orders
        |  UNION ALL
        |  SELECT 3, 'is_in(o_orderstatus)',
        |    sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END)::BIGINT,
        |    sum(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
        |  FROM orders
        |  UNION ALL
        |  SELECT 4, 'unique(o_orderkey)',
        |    count(DISTINCT o_orderkey)::BIGINT, count(*)::BIGINT, 1.0
        |  FROM orders
        |  UNION ALL
        |  SELECT 5, 'foreign_key(o_custkey)',
        |    sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(*)::BIGINT, 1.0
        |  FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey)
        |SELECT ord, c AS "constraint", n AS observed_num, d AS observed_den,
        |  threshold,
        |  CASE WHEN d > 0 THEN cast(n AS double) / cast(d AS double)
        |       ELSE 1.0 END AS rate,
        |  (CASE WHEN d > 0 THEN cast(n AS double) / cast(d AS double)
        |        ELSE 1.0 END) >= threshold AS passed
        |FROM u""".stripMargin,

    // bucketing is layout-only: the oracle is the plain join + rollup
    "q_bucket_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint))::BIGINT AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // link rows re-derived (href → domain only), joined to the page text
    // lengths, aggregated with exact integers — same join/agg as Spark
    "q_domain_profile" ->
      s"""WITH $htmlPagesSql,
        | hr AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]*)"', 1)) AS href
        |  FROM pages),
        | np AS (
        |  SELECT doc_id,
        |    CASE WHEN regexp_matches(href, '(?i)^https?://')
        |         THEN lower(regexp_extract(href, '^[^:]+://([^/?#:]*)', 1))
        |         ELSE 'corp.example.com' END AS host
        |  FROM hr),
        | lk AS (
        |  SELECT doc_id, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
        |  FROM np),
        | nb AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(html,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
        |  FROM pages),
        | pg AS (
        |  SELECT doc_id,
        |    length(trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
        |      '[\\s\\x0b]+', ' ', 'g')))::BIGINT AS text_len
        |  FROM nb)
        |SELECT lk.domain, count(DISTINCT lk.doc_id)::BIGINT AS n_pages,
        |  count(*)::BIGINT AS n_links, sum(pg.text_len)::BIGINT AS total_text_chars
        |FROM lk JOIN pg USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // the GVI1 raw-video fixture replayed in SQL: same id-derived
    // geometry, the stride rule ceil(nf/6) as (nf+5)//6, per-frame fill
    // and perturbed-first-pixel bytes rebuilt as hex — md5 over the hex
    // pins the frame bytes, the integer luma sum pins the decoder's
    // arithmetic, unnest(generate_series) replays the sampled indices
    "q_frame_sample" ->
      """WITH p AS (
        |  SELECT cast(doc_id AS bigint) AS media_id,
        |    cast(doc_id % 4 + 2 AS bigint) AS w,
        |    cast(doc_id % 3 + 2 AS bigint) AS h,
        |    cast(doc_id % 23 + 1 AS bigint) AS nf
        |  FROM documents),
        | s AS (SELECT *, (nf + 5) // 6 AS stride FROM p),
        | f AS (
        |  SELECT media_id, w, h, nf,
        |    unnest(generate_series(0, nf - 1, stride)) AS fi
        |  FROM s),
        | px AS (
        |  SELECT *, (media_id * 7 + fi * 31) % 256 AS fill,
        |    (media_id * 7 + fi * 31 + fi) % 256 AS first
        |  FROM f)
        |SELECT media_id, cast(fi AS int) AS frame_idx,
        |  cast(nf AS int) AS n_frames, cast(w AS int) AS width,
        |  cast(h AS int) AS height,
        |  first + fill * (w * h - 1) AS luma_sum,
        |  (first + fill * (w * h - 1)) / cast(w * h AS double) AS mean_luma,
        |  md5(lpad(hex(first), 2, '0') ||
        |      repeat(lpad(hex(fill), 2, '0'), cast(w * h - 1 AS int))) AS frame_md5
        |FROM px""".stripMargin,

    // every frame's closed-form luma sum, consecutive deltas via lag,
    // the same >= 100·w·h integer gate
    "q_scene_cuts" ->
      """WITH p AS (
        |  SELECT cast(doc_id AS bigint) AS media_id,
        |    cast(doc_id % 4 + 2 AS bigint) AS w,
        |    cast(doc_id % 3 + 2 AS bigint) AS h,
        |    cast(doc_id % 23 + 1 AS bigint) AS nf
        |  FROM documents),
        | f AS (
        |  SELECT media_id, w, h, nf,
        |    unnest(generate_series(0, nf - 1)) AS fi
        |  FROM p),
        | s AS (
        |  SELECT media_id, w, h, fi,
        |    (media_id * 7 + fi * 31 + fi) % 256 +
        |      ((media_id * 7 + fi * 31) % 256) * (w * h - 1) AS lsum
        |  FROM f),
        | d AS (
        |  SELECT media_id, w, h, fi,
        |    abs(lsum - lag(lsum) OVER (PARTITION BY media_id ORDER BY fi)) AS delta
        |  FROM s)
        |SELECT media_id, fi AS frame_idx, delta::BIGINT AS abs_sum_delta
        |FROM d WHERE delta >= 100 * w * h""".stripMargin,

    // same 4-full-week trim, same floor(double) hour indexing, same dense
    // zero-filled grid and fraction-free deviation; top-50 under the
    // identical (|dev|, type, hour) total order
    "q_seasonal_profile" ->
      """WITH t0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
        | inwin AS (
        |  SELECT event_type,
        |    cast(floor((epoch_us(ts) - t0.t0) / 3600000000.0) AS bigint) AS hour_idx
        |  FROM events, t0
        |  WHERE epoch_us(ts) < t0.t0 + 28 * 24 * 3600000000),
        | sparse AS (
        |  SELECT event_type, hour_idx, count(*)::BIGINT AS cnt
        |  FROM inwin GROUP BY 1, 2),
        | hours AS (SELECT g.i::BIGINT AS hour_idx FROM generate_series(0, 671) g(i)),
        | types AS (SELECT DISTINCT event_type FROM events),
        | dense AS (
        |  SELECT t.event_type, h.hour_idx,
        |    coalesce(s.cnt, 0)::BIGINT AS cnt,
        |    (h.hour_idx % 168)::BIGINT AS how
        |  FROM hours h CROSS JOIN types t
        |  LEFT JOIN sparse s
        |    ON s.event_type = t.event_type AND s.hour_idx = h.hour_idx),
        | base AS (
        |  SELECT event_type, how, sum(cnt)::BIGINT AS cell_sum,
        |    count(*)::BIGINT AS n_obs
        |  FROM dense GROUP BY 1, 2)
        |SELECT d.event_type, d.hour_idx, d.how, d.cnt, b.cell_sum,
        |  (d.cnt * b.n_obs - b.cell_sum)::BIGINT AS dev_scaled
        |FROM dense d JOIN base b ON d.event_type = b.event_type AND d.how = b.how
        |ORDER BY abs(d.cnt * b.n_obs - b.cell_sum) DESC, d.event_type, d.hour_idx
        |LIMIT 50""".stripMargin,
    "q_bpe_tokens" -> bpeTokensOracleSql,
    "q_pack_bpe" -> packBpeOracleSql,
    "q_tokenizer_fertility" -> tokenizerFertilityOracleSql,

    // the full cleaning funnel, replayed stage by stage: sanitize (scrub
    // pattern), the composite quality formula, exact dedup (min-id keeper),
    // and near-dup removal resolved with a recursive-CTE transitive closure
    // over the EXACT ≥0.8 char-shingle pair set — value-checks the composed
    // pipeline end-to-end, not just its stages
    "q_clean_corpus" ->
      s"""WITH RECURSIVE s0 AS (
        |  SELECT doc_id, regexp_replace(text, '[\\r\\n\\\\]', '', 'g') AS text FROM documents),
        | t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS rawtoks,
        |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS lowtoks
        |  FROM s0),
        | m AS (
        |  SELECT doc_id, text, lowtoks,
        |    CASE WHEN len(rawtoks) = 0 THEN 0.0
        |         ELSE cast(list_sum(list_transform(rawtoks, x -> length(x))) AS double)
        |              / cast(len(rawtoks) AS double) END AS mean_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE cast(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS double)
        |              / cast(length(text) AS double) END AS punct,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS double)
        |              / cast(length(text) AS double) END AS digit
        |  FROM t),
        | q AS (
        |  SELECT doc_id, text,
        |    (least(cast(length(text) AS double) / 500.0, 1.0)
        |     + CASE WHEN mean_tok BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END
        |     + (1.0 - least(punct * 4.0, 1.0))
        |     + (1.0 - least(digit * 4.0, 1.0))
        |     + least((CASE WHEN len(lowtoks) = 0 THEN 0.0
        |              ELSE cast(len(list_filter(lowtoks, x -> x IN ('the','of','and','to','in','a','is','that','for','it','was','on','are','with','as','at','be','this','have','from'))) AS double)
        |                   / cast(len(lowtoks) AS double) END) * 3.0, 1.0)) / 5.0 AS quality
        |  FROM m),
        | quality_docs AS MATERIALIZED (SELECT doc_id, text FROM q WHERE quality >= 0.2),
        | exact_keep AS MATERIALIZED (
        |  SELECT min(doc_id) AS doc_id, min(text) AS text FROM quality_docs GROUP BY text),
        | ${charShingleSql("exact_keep")},
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM sh WHERE len(sh) > 0),
        | pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
        |      count(*)::BIGINT AS i
        |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2, 3, 4)
        |  WHERE cast(i AS double) / (na + nb - i) >= 0.8),
        | edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | dropped AS (
        |  SELECT count(*) AS n FROM (
        |    SELECT src FROM reach GROUP BY src HAVING src > least(src, min(dst))))
        |SELECT '0_input' AS stage, (SELECT count(*) FROM documents) AS n_docs
        |UNION ALL SELECT '1_quality', (SELECT count(*) FROM quality_docs)
        |UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM exact_keep)
        |UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM exact_keep) - (SELECT n FROM dropped)""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM d WHERE len(sh) > 0),
        | pairs AS (
        |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
        |  FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
        |      count(*)::BIGINT AS i
        |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2, 3, 4))
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3""".stripMargin,

    // same trigram dialect; the reference gram set via anti-membership
    "q_cross_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | ref AS MATERIALIZED (
        |  SELECT DISTINCT unnest(sh) AS gram FROM d WHERE doc_id < 400 AND len(sh) > 0),
        | b AS (
        |  SELECT doc_id, unnest(sh) AS gram FROM d WHERE doc_id >= 400 AND len(sh) > 0)
        |SELECT b.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  cast(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS novelty
        |FROM b LEFT JOIN ref r ON b.gram = r.gram
        |GROUP BY 1""".stripMargin,

    // same trigram dialect; first occurrence = integer min over the gram
    // partition, novelty one int/int division — gram-less docs emit no row
    "q_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | g AS (SELECT doc_id, unnest(sh) AS gram FROM d WHERE len(sh) > 0),
        | w AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_id
        |  FROM g)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  cast(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS novelty
        |FROM w GROUP BY 1""".stripMargin,

    "q_embed_near_dup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |         list_transform(embedding, x -> cast(x AS double) * 2) AS vec
        |  FROM embeddings),
        | pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)) = 0 THEN NULL
        |         ELSE list_dot_product(a.vec, b.vec)
        |              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
        |    END AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 4) AS cosine_r FROM pairs WHERE cosine >= 0.99""".stripMargin,

    // the whole SemDeDup chain replayed in SQL: planted corpus, md5-prefix
    // centroid gate (count BEFORE the null filter, like sampleCentroids),
    // cosine-ARGMAX assignment (ORDER BY cosine DESC, centroid_id = the
    // Spark side's array_min over (-cosine, cid) structs), in-bucket pairs
    "q_semantic_dedup" ->
      """WITH planted AS (
        |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |         list_transform(embedding, x -> cast(x AS double) * 2) AS vec
        |  FROM embeddings),
        | params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM planted),
        | cand AS (
        |  SELECT cast(vec_id AS varchar) AS sid, vec AS cvec
        |  FROM planted, params
        |  WHERE vec IS NOT NULL
        |    AND ('0x' || substr(md5('ivf:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
        | cent AS (
        |  SELECT row_number() OVER (ORDER BY sid) - 1 AS centroid_id, cvec
        |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
        | assigned AS (
        |  SELECT vec_id, vec, centroid_id FROM (
        |    SELECT p.vec_id, p.vec, ct.centroid_id,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        (CASE WHEN sqrt(list_dot_product(p.vec, p.vec)) * sqrt(list_dot_product(ct.cvec, ct.cvec)) = 0 THEN 0.0
        |              ELSE list_dot_product(p.vec, ct.cvec)
        |                   / (sqrt(list_dot_product(p.vec, p.vec)) * sqrt(list_dot_product(ct.cvec, ct.cvec)))
        |         END) DESC, ct.centroid_id) AS rn
        |    FROM planted p CROSS JOIN cent ct WHERE p.vec IS NOT NULL)
        |  WHERE rn = 1),
        | pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.centroid_id AS centroid_id,
        |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)) = 0 THEN NULL
        |         ELSE list_dot_product(a.vec, b.vec)
        |              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
        |    END AS cosine
        |  FROM assigned a JOIN assigned b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, centroid_id, round(cosine, 4) AS cosine_r
        |FROM pairs WHERE cosine >= 0.99""".stripMargin,

    // micro-unit fixed-point (float->double widening is exact in both
    // engines) and long-summed moments; the two parallel unnests zip
    "q_embed_dim_stats" ->
      """WITH ex0 AS (
        |  SELECT unnest(range(0, len(embedding))) AS dim, unnest(embedding) AS v
        |  FROM embeddings),
        | ex AS (
        |  SELECT cast(dim AS integer) AS dim,
        |    cast(floor(cast(v AS double) * 1000000.0 + 0.5) AS bigint) AS fp
        |  FROM ex0)
        |SELECT dim, count(*)::BIGINT AS n,
        |  cast(sum(fp) AS bigint) AS sum_fp,
        |  cast(sum(fp * fp) AS bigint) AS ssq_fp,
        |  min(fp) AS min_fp, max(fp) AS max_fp,
        |  round(cast(sum(fp) AS double) / (cast(count(*) AS double) * 1000000.0), 6) AS mean
        |FROM ex GROUP BY dim""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty,
        | cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_base_price,
        | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_filter_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'",

    "q_date_filter" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY o_orderpriority""".stripMargin,

    "q_sanitize" ->
      """SELECT doc_id,
        | md5(regexp_replace(text, '[\r\n\\]', '', 'g')) AS text_hash,
        | length(regexp_replace(text, '[\r\n\\]', '', 'g')) AS n_chars_clean
        |FROM documents""".stripMargin,

    "q_array_join" ->
      "SELECT c_custkey, array_to_string(string_split(c_name, ' '), '|') AS parts FROM customer",

    "q_split_explode" ->
      """SELECT word, count(*) AS n FROM
        | (SELECT unnest(string_split(p_type, ' ')) AS word FROM part) GROUP BY word""".stripMargin,

    "q_dedup_keyed" ->
      "SELECT o_custkey, min(o_orderkey) AS first_order, count(*) AS n_orders FROM orders GROUP BY o_custkey",

    "q_distinct" ->
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        | round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_winsorize" ->
      """WITH caps AS (
        |  SELECT l_returnflag,
        |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(floor(greatest(lo, least(hi, l_extendedprice)) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS clipped_sum,
        |  cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS raw_sum
        |FROM lineitem JOIN caps USING (l_returnflag)
        |GROUP BY l_returnflag""".stripMargin,

    // the sketch caps are engine-local; the oracle checks the EXACT side
    // and asserts the rank-error booleans Spark computed are TRUE
    "q_winsorize_approx" ->
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS raw_sum,
        |  TRUE AS lo_within_bound, TRUE AS hi_within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_token_budget" ->
      """WITH s AS (
        |  SELECT source,
        |    cast(sum(len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> ''))) AS bigint) AS n_tokens
        |  FROM documents GROUP BY source),
        | w AS (
        |  SELECT source, n_tokens,
        |    CASE source WHEN 'src0' THEN cast(0.30 AS double)
        |                WHEN 'src1' THEN cast(0.20 AS double)
        |                ELSE cast(0.50 AS double)
        |                     / cast(count(*) OVER () - 2 AS double) END AS weight
        |  FROM s)
        |SELECT source, n_tokens, weight, weight * 1.0e9 AS target_tokens,
        |  (weight * 1.0e9) / cast(n_tokens AS double) AS epochs
        |FROM w""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med
        |  FROM lineitem GROUP BY l_returnflag),
        | dev AS (
        |  SELECT l.l_returnflag, l_extendedprice, med.med AS med,
        |    abs(l_extendedprice - med.med) AS absdev
        |  FROM lineitem l JOIN med USING (l_returnflag)),
        | caps AS (
        |  SELECT l_returnflag, min(med) AS med, round(quantile_cont(absdev, 0.5), 6) AS mad
        |  FROM dev GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |  cast(sum(CASE WHEN abs(l_extendedprice - c.med) > 3.0 * c.mad THEN 1 ELSE 0 END) AS bigint) AS n_outliers,
        |  min(c.med) AS med, min(c.mad) AS mad
        |FROM lineitem l JOIN caps c USING (l_returnflag)
        |GROUP BY l.l_returnflag""".stripMargin,

    // both sketch values are engine-local; the oracle asserts the
    // rank-error booleans Spark computed are TRUE (see sketchRankOk)
    "q_mad_outliers_approx" ->
      """SELECT l_returnflag, count(*) AS n,
        |  TRUE AS med_within_bound, TRUE AS mad_within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_length_buckets" ->
      """WITH counted AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        | b AS (
        |  SELECT source, n_tokens,
        |    ntile(10) OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS bucket
        |  FROM counted)
        |SELECT source, cast(bucket AS bigint) AS bucket, count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM b GROUP BY source, bucket""".stripMargin,

    "q_moving_sum" ->
      """WITH daily AS (
        |  SELECT l_returnflag, date_trunc('day', l_shipdate) AS day,
        |    sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS rev_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, day,
        |  cast(sum(rev_c) OVER (PARTITION BY l_returnflag ORDER BY day
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS double) / 100.0 AS mov7_rev
        |FROM daily""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the HLL estimate is engine-local; the oracle recomputes the exact
    // count and asserts the 3-sigma bound boolean Spark computed is TRUE
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS total_spent
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12""".stripMargin,

    "q_union" ->
      """SELECT substring(name, 1, 4) AS prefix, count(*) AS n FROM
        | (SELECT c_name AS name FROM customer UNION ALL SELECT s_name AS name FROM supplier)
        |GROUP BY 1""".stripMargin,

    "q_mapping_join" ->
      """SELECT o_orderkey, coalesce(c_name, cast(o_custkey AS varchar)) AS start
        |FROM orders LEFT JOIN customer ON cast(o_custkey AS varchar) = cast(c_custkey AS varchar)""".stripMargin,

    "q_auto_map" ->
      """SELECT cast(c_custkey AS bigint) AS start_id, cast(n_nationkey AS bigint) AS end_id
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,

    "q_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5e0 * (
        |  SELECT cast(sum(cast(floor(o2.o_totalprice * 100.0 + 0.5) AS bigint)) AS double)
        |         / (100.0 * count(*))
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "q_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')",

    "q_lag_delta" ->
      """SELECT event_id, user_id,
        | value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events""".stripMargin,

    "q_full_outer" ->
      """WITH buyers AS (
        |  SELECT o_custkey,
        |    cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS spent
        |  FROM orders GROUP BY o_custkey
        |  HAVING cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 > 400000.0),
        | builders AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT c_custkey, c_name, o_custkey, spent
        |FROM builders FULL OUTER JOIN buyers ON c_custkey = o_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin,

    "q_chunk" ->
      """SELECT chunk, count(*) AS n FROM
        | (SELECT cast(floor((row_number() OVER () - 1) / 1000) AS bigint) AS chunk FROM orders)
        |GROUP BY chunk""".stripMargin,

    "q_topk_window" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM
        | (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 5""".stripMargin,

    "q_rank_dense" ->
      """SELECT l_returnflag, l_quantity, rnk, drnk, count(*) AS n FROM (
        |  SELECT l_returnflag, l_quantity,
        |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drnk
        |  FROM lineitem)
        |WHERE drnk <= 3 GROUP BY l_returnflag, l_quantity, rnk, drnk""".stripMargin,

    "q_percent_rank" ->
      """SELECT c_custkey, c_nationkey,
        | percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS pr,
        | cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS cd
        |FROM customer""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name,
        | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_snowflake_join" ->
      """SELECT r_name, count(*) AS n_customers,
        | cast(sum(cast(floor(c_acctbal * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_graph_degree" ->
      "SELECT l_partkey AS node_id, count(*) AS degree FROM lineitem GROUP BY l_partkey",

    // all five integer power iterations replayed as staged CTEs (recursive
    // CTEs cannot aggregate in the recursive term); UNION dedups, and
    // reverse edges can never collide with forward ones (parity-disjoint
    // namespaces), so it equals the Spark side's union+distinct
    "q_pagerank" -> {
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
    },

    // the personalized variant: same staged rounds, teleport and initial
    // mass concentrated on the seed set via the same integer divisions;
    // multiply-referenced frames MATERIALIZED (DuckDB re-evaluates
    // inlined CTEs per reference — the q_k_truss lesson)
    "q_ppr" -> {
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
    },

    // all three max-normalized HITS rounds replayed as staged CTEs (the
    // q_pagerank pattern); the per-round max is a scalar subquery over
    // the MATERIALIZED raw frame, mirroring the Spark side's broadcast
    "q_hits" -> {
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
    },

    // same orientation (a < b, dedup), same wedge-close joins, same
    // per-node explode — triangles appear exactly once as a < b < c
    "q_triangles" ->
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
        |SELECT node_id, count(*)::BIGINT AS n_triangles FROM n GROUP BY 1""".stripMargin,

    // the recurrence replayed round by round (q_pagerank's pattern):
    // symmetric closure + self-loops, then 5 rounds of min-over-neighbors
    "q_label_prop" ->
      (s"WITH $labelPropChainSql" +
        "\nSELECT node AS node_id, label AS community FROM l5"),

    // Newman modularity of the q_label_prop communities, fraction-free:
    // every sum stays an integer, one final IEEE division
    "q_modularity" ->
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
          |FROM mm, intra, sq""".stripMargin),

    // same capped projection and degree aggregation; the same
    // length(bin())-1 integer log2
    "q_degree_distribution" ->
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
        |FROM g, t""".stripMargin,

    // same label chain; straddling edges explode to both communities,
    // volumes from member degrees, the guarded min-side division
    "q_conductance" ->
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
          |FROM vol LEFT JOIN cuts ON cuts.c = vol.c CROSS JOIN tot""".stripMargin),

    // per-key counts, then one-row stats; ⌈a/b⌉ as pure integer
    // arithmetic, share as one int/int IEEE division
    "q_skew_profile" ->
      """WITH c AS (SELECT l_partkey, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1)
        |SELECT cast(sum(cnt) AS bigint) AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt) AS max_cnt,
        |  cast(max(cnt) AS double) / cast(sum(cnt) AS double) AS top1_share,
        |  round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
        |  round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
        |  cast((max(cnt) * count(*) + cast(sum(cnt) AS bigint) - 1)
        |       // cast(sum(cnt) AS bigint) AS bigint) AS suggested_salt
        |FROM c""".stripMargin,

    // exact CC: min reachable id per node (self included via least) over
    // the same thresholded co-purchase edges
    "q_components" ->
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
        |FROM reach GROUP BY src""".stripMargin,

    // the peel unrolled: deg_i over adj_{i-1}, keep edges whose BOTH ends
    // have degree >= 3 — 16 rounds (fixture depth 10; extra rounds are
    // no-ops at the fixpoint), then the in-core degree count. Every level
    // is AS MATERIALIZED: each references its predecessor three times, so
    // an inlining planner would otherwise expand the chain 3^16-fold
    "q_k_core" -> {
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
    },

    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        | max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q_range_join" ->
      """SELECT p.event_id AS event_id, count(v.ts) AS n_prior_views
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |GROUP BY p.event_id""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'view') AS "view",
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,

    // explicit UNION ALL long form (NOT the UNPIVOT keyword: DuckDB's
    // UNPIVOT silently drops NULL values; Spark's unpivot keeps them, and
    // the profile's n_nulls needs them kept)
    "q_column_profile" ->
      """WITH src AS (
        |  SELECT cast(o_orderkey AS varchar) AS o_orderkey,
        |    cast(o_custkey AS varchar) AS o_custkey,
        |    o_orderstatus,
        |    cast(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS varchar) AS o_totalprice_cents,
        |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |    o_orderpriority
        |  FROM orders),
        | lf AS (
        |  SELECT 'o_orderkey' AS col_name, o_orderkey AS value FROM src
        |  UNION ALL SELECT 'o_custkey', o_custkey FROM src
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM src
        |  UNION ALL SELECT 'o_totalprice_cents', o_totalprice_cents FROM src
        |  UNION ALL SELECT 'o_orderdate', o_orderdate FROM src
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM src)
        |SELECT col_name, count(*) AS n_rows,
        |  cast(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_nulls,
        |  count(DISTINCT value) AS n_distinct,
        |  min(value) AS min_s, max(value) AS max_s
        |FROM lf GROUP BY col_name""".stripMargin,

    "q_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS rawtoks,
        |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS lowtoks
        |  FROM documents),
        | m AS (
        |  SELECT doc_id, text, lowtoks,
        |    CASE WHEN len(rawtoks) = 0 THEN 0.0
        |         ELSE cast(list_sum(list_transform(rawtoks, x -> length(x))) AS double)
        |              / cast(len(rawtoks) AS double) END AS mean_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE cast(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS double)
        |              / cast(length(text) AS double) END AS punct,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS double)
        |              / cast(length(text) AS double) END AS digit
        |  FROM t),
        | s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(lowtoks) = 0 THEN 0.0
        |         ELSE cast(len(list_filter(lowtoks, x -> x IN ('the','of','and','to','in','a','is','that','for','it','was','on','are','with','as','at','be','this','have','from'))) AS double)
        |              / cast(len(lowtoks) AS double) END AS stopr,
        |    least(cast(length(text) AS double) / 500.0, 1.0) AS len_score,
        |    CASE WHEN mean_tok BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END AS word_score,
        |    1.0 - least(punct * 4.0, 1.0) AS punct_pen,
        |    1.0 - least(digit * 4.0, 1.0) AS digit_pen
        |  FROM m)
        |SELECT doc_id,
        |  (len_score + word_score + punct_pen + digit_pen + least(stopr * 3.0, 1.0)) / 5.0 AS quality
        |FROM s
        |WHERE (len_score + word_score + punct_pen + digit_pen + least(stopr * 3.0, 1.0)) / 5.0 >= 0.5""".stripMargin,

    "q_pii_scrub" ->
      """SELECT doc_id,
        | md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g')) AS redacted_hash,
        | cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
        |   + len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{6,}', 0)) AS bigint) AS n_pii
        |FROM documents""".stripMargin,

    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, cast(start // 40 AS bigint) AS chunk_idx,
        |  cast(least(50, len(toks) - start) AS bigint) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, start + 1, start + 50), ' ')) AS chunk_hash
        |FROM s""".stripMargin,

    "q_pack_sequences" ->
      """WITH counted AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        | streamed AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |  FROM counted WHERE n_tokens > 0)
        |SELECT doc_id, source, n_tokens,
        |  (cum_before // 2048)::BIGINT AS pack_id, (cum_before % 2048)::BIGINT AS offset
        |FROM streamed""".stripMargin,

    "q_source_quota" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY
        |  substring(md5('q' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8),
        |  doc_id) <= 30""".stripMargin,

    // positions are 1-based list indices over the SAME empty-filtered
    // token list; adjacency replayed as g+1/g+2 self-joins; Spark's
    // 0-based posexplode meets the oracle at min(g) - 1
    "q_phrase_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS ls
        |  FROM documents),
        | pos AS (
        |  SELECT doc_id, g, ls[g] AS term
        |  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS g FROM tok)),
        | m AS (
        |  SELECT a.doc_id, a.g AS p0
        |  FROM pos a
        |  JOIN pos b ON b.doc_id = a.doc_id AND b.g = a.g + 1
        |  WHERE a.term = 'table' AND b.term = 'hash')
        |SELECT doc_id, count(*)::BIGINT AS n_matches,
        |  (min(p0) - 1)::BIGINT AS first_pos
        |FROM m GROUP BY 1""".stripMargin,

    "q_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
        |SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
        |  array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
        |FROM tf GROUP BY term""".stripMargin,

    "q_top_terms" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | ranked AS (
        |  SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, dfreq.df AS df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
        |SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3""".stripMargin,

    // the same rank replayed with the source as the grouping key
    "q_source_top_terms" ->
      """WITH terms AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY source, term),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | ranked AS (
        |  SELECT tf.source AS source, tf.term AS term, tf.tf AS tf, dfreq.df AS df,
        |    row_number() OVER (PARTITION BY tf.source
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
        |SELECT source, term, tf, df, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | ranked AS (
        |  SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, dfreq.df AS df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
        |SELECT doc_id, term, tf, df, rank,
        |  round(tf * (ln((1.0 + (SELECT count(*) FROM documents)) / (1.0 + df)) + 1.0), 6) AS tfidf
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // the unigram LM and the scoring formula replayed exactly: integer
    // counts, per-(doc,term) milli-nat quantization, long sums, one final
    // division + round(6)
    "q_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        | lm AS (SELECT doc_id, term, tf, sum(tf) OVER (PARTITION BY term) AS ctf FROM tf),
        | n AS (
        |  SELECT cast(sum(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> ''))) AS double) AS n_total
        |  FROM documents)
        |SELECT doc_id, cast(sum(tf) AS bigint) AS n_tokens,
        |  round(cast(sum(cast(floor(cast(tf AS double) * ln(n_total / cast(ctf AS double)) * 1000.0 + 0.5) AS bigint)) AS double)
        |        / (cast(sum(tf) AS double) * 1000.0), 6) AS xent
        |FROM lm, n GROUP BY doc_id""".stripMargin,

    // identical interpolated-bigram arithmetic: λ = 0.75 (binary-exact),
    // context/bigram counts via the same two sum-windows, Laplace unigram
    // backoff joined on wb, milli-nat floor before the integer sum
    "q_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tl
        |  FROM documents),
        | uni AS (
        |  SELECT term, count(*)::BIGINT AS nw
        |  FROM (SELECT unnest(tl) AS term FROM toks) GROUP BY 1),
        | tot AS (
        |  SELECT (SELECT cast(sum(len(tl)) AS double) FROM toks) AS n_total,
        |         (SELECT cast(count(*) AS double) FROM uni) AS v),
        | bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tl)),
        |    i -> {'wa': tl[i], 'wb': tl[i + 1]})) AS p
        |  FROM toks WHERE len(tl) >= 2),
        | tf AS (
        |  SELECT doc_id, p.wa AS wa, p.wb AS wb, count(*)::BIGINT AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        | m AS (
        |  SELECT doc_id, wa, wb, tf,
        |    sum(tf) OVER (PARTITION BY wa, wb) AS cab,
        |    sum(tf) OVER (PARTITION BY wa) AS cctx
        |  FROM tf),
        | j AS (SELECT m.*, uni.nw AS nb FROM m JOIN uni ON uni.term = m.wb)
        |SELECT doc_id, cast(sum(tf) AS bigint) AS n_bigrams,
        |  round(cast(sum(cast(floor(cast(tf AS double) *
        |      ln(0.75 * (cast(cab AS double) / cast(cctx AS double)) +
        |         0.25 * ((cast(nb AS double) + 1.0) / (n_total + v))) *
        |      (-1000.0) + 0.5) AS bigint)) AS double)
        |    / (cast(sum(tf) AS double) * 1000.0), 6) AS xent
        |FROM j, tot GROUP BY doc_id""".stripMargin,

    // both Laplace-smoothed LMs, the milli-nat quantization, and the exact
    // final division replayed; tc/rc arrive via the same term-partitioned
    // conditional sum-windows as the Spark plan
    "q_importance_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source = 'src0' AS is_t,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, bool_or(is_t) AS is_t
        |        FROM toks GROUP BY 1, 2),
        | m AS (SELECT doc_id, term, tf,
        |         sum(CASE WHEN is_t THEN tf END) OVER (PARTITION BY term) AS tc,
        |         sum(CASE WHEN NOT is_t THEN tf END) OVER (PARTITION BY term) AS rc
        |       FROM tf),
        | n AS (SELECT
        |    cast(sum(CASE WHEN source = 'src0' THEN len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) END) AS double) AS nt,
        |    cast(sum(CASE WHEN NOT (source = 'src0') THEN len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) END) AS double) AS nr
        |   FROM documents),
        | v AS (SELECT cast(count(DISTINCT term) AS double) AS v FROM toks)
        |SELECT doc_id, cast(sum(tf) AS bigint) AS n_tokens,
        |  cast(sum(cast(floor(cast(tf AS double) *
        |    (ln((cast(coalesce(tc, 0) AS double) + 1.0) / (nt + v)) -
        |     ln((cast(coalesce(rc, 0) AS double) + 1.0) / (nr + v)))
        |    * 1000.0 + 0.5) AS bigint)) AS double) / 1000.0 AS log_weight
        |FROM m, n, v GROUP BY doc_id""".stripMargin,

    // the full BM25 chain replayed: integer tf/df/dl, one exact avgdl
    // division, the Lucene idf form, milli-quantized contributions, and
    // the same (score desc, doc_id asc) deterministic top-20
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tl
        |  FROM documents),
        | exploded AS (
        |  SELECT doc_id, cast(len(tl) AS bigint) AS dl, unnest(tl) AS term FROM toks),
        | tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM exploded WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
        | dfs AS (SELECT *, cast(count(*) OVER (PARTITION BY term) AS bigint) AS df FROM tf),
        | stats AS (
        |  SELECT cast(count(*) AS double) AS n_docs,
        |    cast(sum(len(tl)) AS double) / cast(count(*) AS double) AS avgdl
        |  FROM toks)
        |SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |  cast(sum(cast(floor(
        |    ln((n_docs - cast(df AS double) + 0.5) / (cast(df AS double) + 0.5) + 1.0) *
        |    (cast(tf AS double) * 2.2 /
        |     (cast(tf AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl)))
        |    * 1000.0 + 0.5) AS bigint)) AS double) / 1000.0 AS bm25
        |FROM dfs, stats GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,

    // both ranked lists rebuilt exactly as their own oracles build them
    // (q_bm25 / q_embed_topk), then fused: only integer ranks cross the
    // boundary, each reciprocal is one IEEE division, the two-list sum
    // one addition — bit-identical in both engines
    "q_rrf_hybrid" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tl
        |  FROM documents),
        | exploded AS (
        |  SELECT doc_id, cast(len(tl) AS bigint) AS dl, unnest(tl) AS term FROM toks),
        | tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM exploded WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
        | dfs AS (SELECT *, cast(count(*) OVER (PARTITION BY term) AS bigint) AS df FROM tf),
        | stats AS (
        |  SELECT cast(count(*) AS double) AS n_docs,
        |    cast(sum(len(tl)) AS double) / cast(count(*) AS double) AS avgdl
        |  FROM toks),
        | bm AS (
        |  SELECT doc_id,
        |    cast(sum(cast(floor(
        |      ln((n_docs - cast(df AS double) + 0.5) / (cast(df AS double) + 0.5) + 1.0) *
        |      (cast(tf AS double) * 2.2 /
        |       (cast(tf AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl)))
        |      * 1000.0 + 0.5) AS bigint)) AS double) / 1000.0 AS bm25
        |  FROM dfs, stats GROUP BY doc_id
        |  ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
        | lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_a FROM bm),
        | q AS (SELECT list_transform(embedding, x -> cast(x AS double)) AS qvec
        |       FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL),
        | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |       FROM embeddings WHERE embedding IS NOT NULL),
        | scored AS (
        |   SELECT c.vec_id AS doc_id,
        |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
        |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
        |     END AS cosine
        |   FROM c CROSS JOIN q WHERE c.vec_id <> 0),
        | sem AS (
        |   SELECT doc_id, rank_b FROM (
        |     SELECT doc_id,
        |       row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_b
        |     FROM scored) WHERE rank_b <= 20),
        | fused AS (
        |   SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank_a, s.rank_b,
        |     coalesce(1.0 / (60.0 + cast(l.rank_a AS double)), 0.0) +
        |     coalesce(1.0 / (60.0 + cast(s.rank_b AS double)), 0.0) AS rrf
        |   FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
        |SELECT doc_id, rank_a AS lex_rank, rank_b AS sem_rank, rrf
        |FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,

    // exact KL per source: corpus term counts via the same term-partitioned
    // sum-window, per-source totals from a second narrow scan, milli-nat
    // quantization, final division of two exact integers + round(6)
    "q_source_divergence" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        | wtf AS (SELECT source, term, tf,
        |           cast(sum(tf) OVER (PARTITION BY term) AS bigint) AS ctf FROM tf),
        | ns AS (
        |  SELECT source,
        |    cast(sum(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> ''))) AS bigint) AS nsv
        |  FROM documents GROUP BY source),
        | nt AS (
        |  SELECT cast(sum(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> ''))) AS double) AS n
        |  FROM documents)
        |SELECT wtf.source AS source, max(nsv) AS n_tokens,
        |  count(DISTINCT term)::BIGINT AS n_terms,
        |  round(cast(sum(cast(floor(cast(tf AS double) *
        |    ln(cast(tf AS double) * n / (cast(nsv AS double) * cast(ctf AS double)))
        |    * 1000.0 + 0.5) AS bigint)) AS double)
        |    / (cast(max(nsv) AS double) * 1000.0), 6) AS kl_nats
        |FROM wtf JOIN ns ON wtf.source = ns.source, nt GROUP BY wtf.source""".stripMargin,

    "q_zipf" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents),
        | counts AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY 1)
        |SELECT freq, count(*)::BIGINT AS n_terms FROM counts GROUP BY 1""".stripMargin,

    "q_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | lines AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(toks, start + 1, start + 10), ' ') AS line
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 10)) AS start
        |        FROM t WHERE len(toks) > 0)),
        | ldf AS (SELECT line, count(*) AS line_df FROM lines GROUP BY line)
        |SELECT doc_id, count(*) AS n_lines,
        |  cast(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup_lines,
        |  cast(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS dup_line_ratio
        |FROM lines JOIN ldf USING (line) GROUP BY doc_id""".stripMargin,

    // same page synthesis, same doc-level line presence and >= 0.5 share
    "q_boilerplate_lines" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    concat_ws(chr(10),
        |      'home news about ' || source,
        |      coalesce(text, ''),
        |      'contact ' || source || ' terms privacy',
        |      'ref ' || doc_id) AS page
        |  FROM documents),
        | lines AS (
        |  SELECT DISTINCT source, doc_id, line
        |  FROM (SELECT source, doc_id,
        |          unnest(string_split(page, chr(10))) AS line FROM d)
        |  WHERE trim(line) <> ''),
        | nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        | lc AS (SELECT source, line, count(*)::BIGINT AS line_docs
        |        FROM lines GROUP BY 1, 2)
        |SELECT lc.source, max(nd.n_docs)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_distinct_lines,
        |  sum(CASE WHEN line_docs >= 2
        |       AND cast(line_docs AS double) / cast(n_docs AS double) >= 0.5
        |      THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate_lines
        |FROM lc JOIN nd USING (source) GROUP BY 1""".stripMargin,

    // the oracle MAY use the single-reducer global window: it runs once at
    // verification scale, while the Spark side must stay distributed
    "q_curriculum" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank
        |  FROM documents)
        |SELECT doc_id, rank,
        |  (rank * 10) // (SELECT count(*) FROM documents) AS shard
        |FROM r""".stripMargin,

    // counts, md5-group dup totals, struct-max language argmax, and the
    // same single divisions
    "q_dataset_card" ->
      """WITH base AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    sum(n_chars)::BIGINT AS total_chars,
        |    min(n_chars)::BIGINT AS min_chars,
        |    max(n_chars)::BIGINT AS max_chars
        |  FROM documents),
        | dups AS (
        |  SELECT sum(c - 1)::BIGINT AS exact_dup_docs
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text))),
        | top AS (
        |  SELECT lang AS top_lang, c AS top_lang_docs
        |  FROM (SELECT lang, count(*)::BIGINT AS c FROM documents GROUP BY 1)
        |  ORDER BY c DESC, lang DESC LIMIT 1)
        |SELECT n_docs, n_sources, n_langs, total_chars, min_chars, max_chars,
        |  cast(total_chars AS double) / cast(n_docs AS double) AS mean_chars,
        |  exact_dup_docs,
        |  cast(exact_dup_docs AS double) / cast(n_docs AS double) AS dup_rate,
        |  top_lang, top_lang_docs,
        |  cast(top_lang_docs AS double) / cast(n_docs AS double) AS top_lang_share
        |FROM base, dups, top""".stripMargin,

    // same per-group U statistic (position() is the LOCATE twin), same
    // exclusions and single division
    "q_grouped_auc" ->
      """WITH r AS (
        |  SELECT lang AS g, (position('spark' IN text) > 0) AS y, n_chars AS s
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        | bysc AS (
        |  SELECT g, s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
        |  FROM r GROUP BY 1, 2),
        | below AS (
        |  SELECT a.g, a.s, a.p, a.n, coalesce(sum(b.n), 0)::BIGINT AS neg_below
        |  FROM bysc a LEFT JOIN bysc b ON b.g = a.g AND b.s < a.s
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g AS group_key, sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
        |  cast(sum(p * neg_below * 2 + p * n) AS double) /
        |    cast(sum(p) * sum(n) * 2 AS double) AS auc
        |FROM below GROUP BY 1 HAVING sum(p) > 0 AND sum(n) > 0""".stripMargin,

    // same 0-based rank (row_number − 1 under the identical total
    // order), same integer `//` buckets and single divisions
    "q_decile_lift" ->
      """WITH r AS (
        |  SELECT (lang = 'en') AS y,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
        |  FROM documents),
        | t AS (SELECT count(*)::BIGINT AS total FROM r),
        | b AS (
        |  SELECT (r.r * 10) // t.total AS bucket, count(*)::BIGINT AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos
        |  FROM r, t GROUP BY 1),
        | tot AS (SELECT sum(n)::BIGINT AS tot_n, sum(pos)::BIGINT AS tot_pos FROM b),
        | c AS (
        |  SELECT a.bucket, a.n, a.pos, sum(b2.pos)::BIGINT AS cum_pos
        |  FROM b a JOIN b b2 ON b2.bucket <= a.bucket
        |  GROUP BY 1, 2, 3)
        |SELECT c.bucket, c.n, c.pos, c.cum_pos,
        |  cast(c.pos AS double) / cast(c.n AS double) AS pos_rate,
        |  cast(c.pos * tot.tot_n AS double) /
        |    cast(c.n * tot.tot_pos AS double) AS lift,
        |  cast(c.cum_pos AS double) / cast(tot.tot_pos AS double) AS cum_capture
        |FROM c, tot""".stripMargin,

    // the same planted amendments, the same null-safe IS DISTINCT FROM
    // per-column counters over one inner join
    "q_diff_columns" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
        |    cast(floor(c_acctbal * 100 + 0.5) AS bigint) AS acct_cents
        |  FROM customer),
        | prev AS (SELECT * FROM base WHERE c_custkey % 10 < 9),
        | cur AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_name || '-r2' ELSE c_name END AS c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'SEG-X' ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 11 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS c_nationkey,
        |    CASE WHEN c_custkey % 13 = 0 THEN acct_cents + 1 ELSE acct_cents END AS acct_cents
        |  FROM base WHERE c_custkey % 10 > 0),
        | j AS (
        |  SELECT count(*)::BIGINT AS n_compared,
        |    sum(CASE WHEN p.c_name IS DISTINCT FROM c.c_name THEN 1 ELSE 0 END)::BIGINT AS d_name,
        |    sum(CASE WHEN p.c_mktsegment IS DISTINCT FROM c.c_mktsegment THEN 1 ELSE 0 END)::BIGINT AS d_seg,
        |    sum(CASE WHEN p.c_nationkey IS DISTINCT FROM c.c_nationkey THEN 1 ELSE 0 END)::BIGINT AS d_nat,
        |    sum(CASE WHEN p.acct_cents IS DISTINCT FROM c.acct_cents THEN 1 ELSE 0 END)::BIGINT AS d_acct
        |  FROM prev p JOIN cur c USING (c_custkey)),
        | u AS (
        |  SELECT 'c_name' AS column_name, d_name AS n_changed, n_compared FROM j
        |  UNION ALL SELECT 'c_mktsegment', d_seg, n_compared FROM j
        |  UNION ALL SELECT 'c_nationkey', d_nat, n_compared FROM j
        |  UNION ALL SELECT 'acct_cents', d_acct, n_compared FROM j)
        |SELECT column_name, n_changed, n_compared,
        |  cast(n_changed AS double) / cast(n_compared AS double) AS change_rate
        |FROM u""".stripMargin,

    // the same 15-hex-char row hashes xor-folded; chr(31)/chr(1) build
    // the separator and sentinel the Spark side embeds as literals
    "q_table_fingerprint" -> {
      def fp(table: String, cols: Seq[String]) = {
        val canon = cols
          .map(c => s"coalesce(cast($c AS varchar), chr(1) || 'null')")
          .mkString("concat_ws(chr(31), ", ", ", ")")
        s"""SELECT '$table' AS table_name, count(*)::BIGINT AS n_rows,
           |  bit_xor(cast(('0x' || substr(md5($canon), 1, 15))::UBIGINT AS BIGINT)) AS fingerprint
           |FROM $table""".stripMargin
      }
      Seq(
        fp("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
        fp("documents", Seq("doc_id", "text", "lang", "source", "n_chars")),
        fp("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
        fp("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
        fp("region", Seq("r_regionkey", "r_name"))
      ).mkString("\nUNION ALL\n")
    },

    // same distinct-unit gate and fixed-order χ²
    "q_srm_check" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id,
        |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
        |  FROM events),
        | c AS (SELECT
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
        |    * (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
        |    / (cast(n_a + n_b AS double) / 2.0)
        |  + (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
        |    * (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
        |    / (cast(n_a + n_b AS double) / 2.0) AS chi2,
        |  (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
        |    * (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
        |    / (cast(n_a + n_b AS double) / 2.0)
        |  + (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
        |    * (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
        |    / (cast(n_a + n_b AS double) / 2.0)
        |    >= 3.841458820694124 AS srm_detected
        |FROM c""".stripMargin,

    // the same left-join segment attach, arm gate, and guarded z² per group
    "q_ab_segments" ->
      """WITH ev AS (
        |  SELECT e.user_id, e.event_type, e.value,
        |    coalesce(c.c_mktsegment, 'unknown') AS segment
        |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey),
        | u AS (
        |  SELECT user_id, segment,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 120 THEN 1 ELSE 0 END) AS conv,
        |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
        |  FROM ev GROUP BY 1, 2),
        | c AS (SELECT segment,
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN is_a THEN conv ELSE 0 END)::BIGINT AS conv_a,
        |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN NOT is_a THEN conv ELSE 0 END)::BIGINT AS conv_b
        |  FROM u GROUP BY 1),
        | z AS (SELECT *,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
        |        AND conv_a + conv_b < n_a + n_b
        |   THEN (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
        |    * (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
        |    / (cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double)
        |       * (1.0 - cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double))
        |       * (1.0 / cast(n_a AS double) + 1.0 / cast(n_b AS double)))
        |   ELSE 0.0 END AS z2
        |  FROM c)
        |SELECT segment, n_a, conv_a, n_b, conv_b, z2,
        |  z2 >= 3.841458820694124 AS significant
        |FROM z""".stripMargin,

    // the same per-distinct-score suffix sums and single divisions
    "q_threshold_sweep" ->
      """WITH r AS (
        |  SELECT (lang = 'en') AS y, n_chars AS s
        |  FROM documents WHERE lang IS NOT NULL),
        | bs AS (
        |  SELECT s,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
        |  FROM r GROUP BY 1),
        | t AS (SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg FROM bs),
        | c AS (
        |  SELECT s,
        |    sum(p) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
        |    sum(n) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp
        |  FROM bs)
        |SELECT s AS threshold, tp, fp,
        |  (n_pos - tp)::BIGINT AS fn, (n_neg - fp)::BIGINT AS tn,
        |  cast(tp AS double) / cast(tp + fp AS double) AS "precision",
        |  cast(tp AS double) / cast(n_pos AS double) AS recall,
        |  cast(fp AS double) / cast(n_neg AS double) AS fpr
        |FROM c, t""".stripMargin,

    // same arm gate, same pre/post cells, same fixed-order cell means
    "q_did" ->
      """WITH b AS (
        |  SELECT epoch_us(ts) AS us, user_id, event_type, value FROM events),
        | m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
        | units AS (
        |  SELECT user_id,
        |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a,
        |    sum(CASE WHEN event_type = 'purchase' AND us < mid
        |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS pre,
        |    sum(CASE WHEN event_type = 'purchase' AND us >= mid
        |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS post
        |  FROM b, m GROUP BY 1, 2),
        | c AS (
        |  SELECT
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN is_a THEN pre ELSE 0 END)::BIGINT AS sa_pre,
        |    sum(CASE WHEN is_a THEN post ELSE 0 END)::BIGINT AS sa_post,
        |    sum(CASE WHEN NOT is_a THEN pre ELSE 0 END)::BIGINT AS sb_pre,
        |    sum(CASE WHEN NOT is_a THEN post ELSE 0 END)::BIGINT AS sb_post
        |  FROM units)
        |SELECT n_a, n_b,
        |  cast(sa_pre AS double) / cast(n_a AS double) AS mean_a_pre,
        |  cast(sa_post AS double) / cast(n_a AS double) AS mean_a_post,
        |  cast(sb_pre AS double) / cast(n_b AS double) AS mean_b_pre,
        |  cast(sb_post AS double) / cast(n_b AS double) AS mean_b_post,
        |  cast(sa_post AS double) / cast(n_a AS double)
        |    - cast(sa_pre AS double) / cast(n_a AS double) AS delta_a,
        |  cast(sb_post AS double) / cast(n_b AS double)
        |    - cast(sb_pre AS double) / cast(n_b AS double) AS delta_b,
        |  (cast(sa_post AS double) / cast(n_a AS double)
        |    - cast(sa_pre AS double) / cast(n_a AS double))
        |  - (cast(sb_post AS double) / cast(n_b AS double)
        |    - cast(sb_pre AS double) / cast(n_b AS double)) AS did
        |FROM c""".stripMargin,

    // same integer midpoint, same cents moments (DuckDB's HUGEINT sums
    // hold the same integers; the double casts land on identical values),
    // same fixed-order θ/variance arithmetic
    "q_cuped" ->
      """WITH b AS (
        |  SELECT epoch_us(ts) AS us, user_id, event_type, value FROM events),
        | m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
        | units AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' AND us < mid
        |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase' AND us >= mid
        |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS y
        |  FROM b, m GROUP BY 1),
        | mom AS (
        |  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM units)
        |SELECT n AS n_units,
        |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
        |    THEN cast(n * sxy - sx * sy AS double) / cast(n * sxx - sx * sx AS double)
        |    ELSE 0.0 END AS theta,
        |  cast(n * syy - sy * sy AS double)
        |    / (cast(n AS double) * cast(n AS double)) AS var_raw,
        |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
        |    THEN (cast(n * syy - sy * sy AS double)
        |          - cast(n * sxy - sx * sy AS double) * cast(n * sxy - sx * sy AS double)
        |            / cast(n * sxx - sx * sx AS double))
        |         / (cast(n AS double) * cast(n AS double))
        |    ELSE cast(n * syy - sy * sy AS double)
        |         / (cast(n AS double) * cast(n AS double)) END AS var_adj,
        |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
        |        AND cast(n * syy - sy * sy AS double) > 0
        |    THEN cast(n * sxy - sx * sy AS double) * cast(n * sxy - sx * sy AS double)
        |         / (cast(n * sxx - sx * sx AS double) * cast(n * syy - sy * sy AS double))
        |    ELSE 0.0 END AS var_reduction
        |FROM mom""".stripMargin,

    // the same hash-gated arms and the same fixed-order pooled-variance z²
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 120 THEN 1 ELSE 0 END) AS conv,
        |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
        |  FROM events GROUP BY user_id),
        | c AS (SELECT
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN is_a THEN conv ELSE 0 END)::BIGINT AS conv_a,
        |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN NOT is_a THEN conv ELSE 0 END)::BIGINT AS conv_b
        |  FROM u),
        | z AS (SELECT *,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
        |        AND conv_a + conv_b < n_a + n_b
        |   THEN (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
        |    * (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
        |    / (cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double)
        |       * (1.0 - cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double))
        |       * (1.0 / cast(n_a AS double) + 1.0 / cast(n_b AS double)))
        |   ELSE 0.0 END AS z2
        |  FROM c)
        |SELECT n_a, conv_a, n_b, conv_b, z2,
        |  z2 >= 3.841458820694124 AS significant
        |FROM z""".stripMargin,

    // same md5 replica gate, same one-division means, same exact
    // order-statistic ranks over (mean, replica)
    "q_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT g.b AS b,
        |    cast(sum(n_chars) AS double) / cast(count(*) AS double) AS m
        |  FROM documents, generate_series(0, 99) AS g(b)
        |  WHERE n_chars IS NOT NULL
        |    AND substr(md5('boot:' || b || ':' || doc_id), 1, 8) < '80000000'
        |  GROUP BY 1),
        | ranked AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS r FROM reps),
        | f AS (
        |  SELECT cast(sum(n_chars) AS double) / cast(count(*) AS double) AS mean_full
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT mean_full,
        |  max(CASE WHEN r = 5 THEN m END) AS p05_mean,
        |  max(CASE WHEN r = 50 THEN m END) AS p50_mean,
        |  max(CASE WHEN r = 95 THEN m END) AS p95_mean,
        |  count(*)::BIGINT AS n_replicas
        |FROM ranked, f GROUP BY mean_full""".stripMargin,

    // identical integer U statistic and threshold counts, the same
    // single divisions ("precision" quoted — reserved word there)
    "q_classifier_eval" ->
      """WITH r AS (
        |  SELECT (lang = 'en') AS y, n_chars AS s, n_chars >= 306 AS pred
        |  FROM documents WHERE lang IS NOT NULL),
        | conf AS (
        |  SELECT
        |    sum(CASE WHEN y AND pred THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    sum(CASE WHEN NOT y AND pred THEN 1 ELSE 0 END)::BIGINT AS fp,
        |    sum(CASE WHEN y AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS fn,
        |    sum(CASE WHEN NOT y AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS tn
        |  FROM r),
        | byscore AS (
        |  SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
        |  FROM r GROUP BY 1),
        | below AS (
        |  SELECT a.s, a.p, a.n, coalesce(sum(b.n), 0)::BIGINT AS neg_below
        |  FROM byscore a LEFT JOIN byscore b ON b.s < a.s
        |  GROUP BY 1, 2, 3),
        | auc AS (
        |  SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
        |    sum(p * neg_below * 2 + p * n)::BIGINT AS auc_num
        |  FROM below)
        |SELECT n_pos, n_neg, tp, fp, fn, tn,
        |  cast(auc_num AS double) / cast(n_pos * n_neg * 2 AS double) AS auc,
        |  cast(tp AS double) / cast(tp + fp AS double) AS "precision",
        |  cast(tp AS double) / cast(tp + fn AS double) AS recall,
        |  cast(tp * 2 AS double) / cast(tp * 2 + fp + fn AS double) AS f1
        |FROM conf CROSS JOIN auc""".stripMargin,

    // the layout is derived data: the oracle aggregates documents
    // directly — a hash match proves the partitioned write+read+prune
    // cycle preserved every row of the pruned language
    "q_partition_prune" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    // the two staged exports replayed as a projection union — v1 rows
    // carry NULL lang/source exactly as mergeSchema surfaces them
    "q_schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, text, cast(NULL AS varchar) AS lang,
        |    cast(NULL AS varchar) AS source
        |  FROM documents WHERE doc_id % 10 < 8
        |  UNION ALL
        |  SELECT doc_id, text, lang, source
        |  FROM documents WHERE doc_id % 10 >= 8)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_preschema,
        |  sum(length(text))::BIGINT AS total_chars
        |FROM u GROUP BY 1""".stripMargin,

    // both snapshot profiles generated from one column list (UNION ALL
    // per column over the varchar rendering), exact distincts, avg char
    // lengths, and the same IEEE rate/length deltas
    "q_profile_drift" -> {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      def prof(src: String, p: String) = cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS ${p}_rows,
           |    sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS ${p}_nulls,
           |    count(DISTINCT v)::BIGINT AS ${p}_distinct,
           |    avg(length(v)) AS ${p}_avg_len
           |  FROM (SELECT cast($c AS varchar) AS v FROM $src)""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH prev AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
         | cur0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         |    CASE WHEN doc_id % 5 = 0 THEN 'mirror' ELSE source END AS source,
         |    n_chars
         |  FROM documents WHERE doc_id % 10 > 0),
         | pp AS (
         |  ${prof("prev", "prev")}),
         | cc AS (
         |  ${prof("cur0", "cur")})
         |SELECT col_name, prev_rows, cur_rows, prev_nulls, cur_nulls,
         |  cur_nulls / cast(cur_rows AS double) -
         |    prev_nulls / cast(prev_rows AS double) AS null_rate_delta,
         |  prev_distinct, cur_distinct,
         |  cur_distinct - prev_distinct AS distinct_delta,
         |  cur_avg_len - prev_avg_len AS avg_len_delta
         |FROM pp JOIN cc USING (col_name)""".stripMargin
    },

    "q_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, md5(text) AS h_prev FROM documents WHERE doc_id % 10 < 8),
        | cur AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h_cur
        |  FROM documents WHERE doc_id % 10 > 0)
        |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
        |  CASE WHEN h_prev IS NULL THEN 'added'
        |       WHEN h_cur IS NULL THEN 'removed'
        |       WHEN h_prev <> h_cur THEN 'changed' END AS change
        |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
        |WHERE CASE WHEN h_prev IS NULL THEN 'added'
        |           WHEN h_cur IS NULL THEN 'removed'
        |           WHEN h_prev <> h_cur THEN 'changed' END IS NOT NULL""".stripMargin,

    "q_contamination" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    substring(md5('bench' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8)
        |      < '0ccccccc' AS in_bench,
        |    CASE WHEN t IS NULL THEN NULL
        |         WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |        FROM documents)),
        | bench AS (
        |  SELECT list_distinct(flatten(list(grams) FILTER (WHERE grams IS NOT NULL))) AS bg
        |  FROM g WHERE in_bench)
        |SELECT doc_id,
        |  cast(coalesce(len(grams), 0) AS bigint) AS n_grams,
        |  cast(coalesce(len(list_intersect(grams, bg)), 0) AS bigint) AS n_hit,
        |  CASE WHEN coalesce(len(grams), 0) > 0
        |       THEN cast(coalesce(len(list_intersect(grams, bg)), 0) AS double)
        |            / cast(len(grams) AS double)
        |       ELSE 0.0 END AS overlap,
        |  CASE WHEN coalesce(len(grams), 0) > 0
        |       THEN cast(coalesce(len(list_intersect(grams, bg)), 0) AS double)
        |            / cast(len(grams) AS double)
        |       ELSE 0.0 END > 0.2 AS contaminated
        |FROM g, bench WHERE NOT in_bench""".stripMargin,

    "q_bigrams" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | b AS (
        |  SELECT doc_id, len(toks) - 1 AS n_bigrams,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM t WHERE len(toks) >= 2),
        | c AS (SELECT doc_id, n_bigrams, bigram, count(*) AS c FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, n_bigrams, max(c) AS max_c,
        |  cast(max(c) AS double) / cast(n_bigrams AS double) AS top_bigram_share
        |FROM c GROUP BY doc_id, n_bigrams""".stripMargin,

    "q_split_assign" ->
      """WITH assigned AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM assigned GROUP BY split""".stripMargin,

    "q_hash_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substring(md5('s42' || coalesce(cast(o_orderkey AS varchar), chr(0) || 'null')), 1, 8) < '40000000'""".stripMargin,

    "q_corpus_mix" ->
      """SELECT source, count(*) AS n FROM documents
        |WHERE substring(md5('mix' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '80000000'
        |              WHEN 'src2' THEN '40000000' ELSE '20000000' END
        |GROUP BY source""".stripMargin,

    "q_shuffle_order" ->
      """SELECT row_number() OVER (ORDER BY md5('ep1' || coalesce(cast(c_custkey AS varchar), chr(0) || 'null')), c_custkey) - 1 AS "position",
        | c_custkey
        |FROM customer""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_text_profile" ->
      """SELECT doc_id,
        | length(text) AS n_chars,
        | len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '')) AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0)) AS n_bpeish_tokens,
        | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS double) / cast(length(text) AS double) END AS punct_ratio,
        | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS double) / cast(length(text) AS double) END AS digit_ratio,
        | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS double) / cast(length(text) AS double) END AS upper_ratio
        |FROM documents""".stripMargin,

    "q_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | cast(sum(length(text)) AS bigint) AS n_chars,
        | cast(sum(len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> ''))) AS bigint) AS n_tokens
        |FROM documents GROUP BY lang""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with','for','was','this'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('le','la','les','des','une','est','dans','pour','que','avec'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','sich','auf'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','una','por','con','para','como','más','pero'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('il','di','che','non','per','sono','della','anche','come','questo'))) AS s_it
        |  FROM t),
        | p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN greatest(s_en, s_fr, s_de, s_es, s_it) = 0 THEN 'und'
        |         WHEN s_en = greatest(s_en, s_fr, s_de, s_es, s_it) THEN 'en'
        |         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es, s_it) THEN 'fr'
        |         WHEN s_de = greatest(s_en, s_fr, s_de, s_es, s_it) THEN 'de'
        |         WHEN s_es = greatest(s_en, s_fr, s_de, s_es, s_it) THEN 'es'
        |         WHEN s_it = greatest(s_en, s_fr, s_de, s_es, s_it) THEN 'it'
        |         ELSE 'und' END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
        |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |       FROM embeddings WHERE embedding IS NOT NULL),
        | scored AS (
        |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
        |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
        |     END AS cosine
        |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
        | ranked AS (
        |   SELECT query_id, neighbor_id, cosine,
        |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |   FROM scored)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // the q_embed_topk chain re-aggregated: per-item slot counts over the
    // same exact top-5 lists, the same two divisions
    "q_rec_coverage" ->
      """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
        |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |       FROM embeddings WHERE embedding IS NOT NULL),
        | scored AS (
        |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
        |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
        |     END AS cosine
        |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
        | ranked AS (
        |   SELECT query_id, neighbor_id,
        |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |   FROM scored),
        | top AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
        | per_item AS (SELECT neighbor_id, count(*)::BIGINT AS c FROM top GROUP BY 1),
        | cat AS (SELECT count(*)::BIGINT AS catalog_n FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT sum(c)::BIGINT AS n_slots,
        |  count(*)::BIGINT AS n_distinct_recommended,
        |  catalog_n,
        |  cast(count(*) AS double) / cast(catalog_n AS double) AS coverage,
        |  cast(max(c) AS double) / cast(sum(c) AS double) AS max_item_share
        |FROM per_item, cat GROUP BY catalog_n""".stripMargin,

    // the same corpus-trained scale (127/max|x|), the same floor(x·s+0.5)
    // quantizer, and the integer dot product — integer-valued doubles keep
    // list_dot_product exact far below 2^53, so the bigint cast replays
    // Spark's long sum bit-for-bit
    "q_int8_topk" ->
      """WITH mx AS (
        |  SELECT max(list_max(list_transform(embedding, x -> abs(cast(x AS double))))) AS maxabs
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | c AS (
        |  SELECT vec_id AS neighbor_id,
        |    list_transform(embedding,
        |      x -> floor(cast(x AS double) * (127.0 / maxabs) + 0.5)) AS cc
        |  FROM embeddings, mx WHERE embedding IS NOT NULL),
        | q AS (
        |  SELECT vec_id AS query_id,
        |    list_transform(embedding,
        |      x -> floor(cast(x AS double) * (127.0 / maxabs) + 0.5)) AS qc
        |  FROM embeddings, mx
        |  WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        | scored AS (
        |  SELECT query_id, neighbor_id,
        |    cast(list_dot_product(cc, qc) AS bigint) AS idot
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        | ranked AS (
        |  SELECT query_id, neighbor_id, idot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, idot, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // the ENTIRE approximate pipeline rebuilt in SQL — centroids,
    // assignment, probes, in-bucket top-k — so the approximation itself is
    // value-checked, not just bounded by a recall report
    "q_embed_ivf_topk" ->
      s"""WITH ${ivfChainSql()}
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // recall@5 of the SQL-rebuilt IVF against the SQL exact top-5: the
    // report's values are themselves oracle-checked now
    "q_ivf_recall" ->
      s"""WITH ${ivfChainSql()},
        | approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
        | escored AS (
        |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
        |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
        |    END AS cosine
        |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
        | exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |    FROM escored)
        |  WHERE rank <= 5)
        |SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits,
        |  count(a.neighbor_id)::DOUBLE / 5 AS recall_at_k
        |FROM exact e LEFT JOIN approx a
        |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY e.query_id""".stripMargin,

    "q_embed_topk_agg" ->
      """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
        |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
        |       FROM embeddings WHERE embedding IS NOT NULL),
        | scored AS (
        |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
        |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
        |     END AS cosine
        |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
        | ranked AS (
        |   SELECT query_id, neighbor_id, cosine,
        |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |   FROM scored)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin,

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_date_parts" ->
      """SELECT cast(year(o_orderdate) AS int) AS y, cast(month(o_orderdate) AS int) AS m,
        | count(*) AS n,
        | cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events,
        | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_gap_fill" ->
      """WITH sparse AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        | b AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
        | hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
        | types AS (SELECT DISTINCT event_type FROM events)
        |SELECT h.hour, t.event_type, coalesce(s.n_events, 0) AS n_events
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN sparse s ON s.hour = h.hour AND s.event_type = t.event_type""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 200),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM d WHERE len(sh) > 0),
        | scored AS (
        |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
        |  FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
        |      count(*)::BIGINT AS i
        |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2, 3, 4)),
        | empt AS (SELECT doc_id FROM d WHERE len(sh) = 0)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
        |UNION ALL
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
        |FROM empt a JOIN empt b ON a.doc_id < b.doc_id""".stripMargin,

    // the prefix-filter join is EXACT, so its oracle is the plan it
    // replaces: all-pairs Jaccard over the full corpus (fine at verify
    // scale; the whole point is that Spark never runs this shape)
    "q_prefix_join" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM d WHERE len(sh) > 0),
        | scored AS (
        |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
        |  FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
        |      count(*)::BIGINT AS i
        |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2, 3, 4))
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.4""".stripMargin,

    // DuckDB groups the gram STRING where Spark groups its md5 — identical
    // partitions (md5 is injective absent collisions, the same assumption
    // contentHash rides); min<>max replays the cross-doc test exactly
    "q_substring_dup" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 40 + 2, 1))) AS i
        |  FROM documents WHERE length(text) >= 40),
        | grams AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS g FROM pos),
        | dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id))
        |SELECT gr.doc_id,
        |  count(*)::BIGINT AS n_positions,
        |  count(d.g)::BIGINT AS n_dup_positions,
        |  cast(count(d.g) AS double) / cast(count(*) AS double) AS dup_span_ratio
        |FROM grams gr LEFT JOIN dup d USING (g)
        |GROUP BY gr.doc_id""".stripMargin,

    // the same islands, replayed: running max of span ends over the
    // PRECEDING rows decides island breaks; sum of breaks numbers them
    "q_dup_spans" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 40 + 2, 1))) AS i
        |  FROM documents WHERE length(text) >= 40),
        | grams AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g FROM pos),
        | dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        | hits AS (SELECT doc_id, i AS p FROM grams JOIN dup USING (g)),
        | marked AS (
        |  SELECT doc_id, p,
        |    CASE WHEN max(p + 39) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |           OR p > max(p + 39) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits),
        | isl AS (
        |  SELECT doc_id, p,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM marked)
        |SELECT doc_id, min(p) AS span_start, max(p + 39) AS span_end,
        |  max(p + 39) - min(p) + 1 AS span_len
        |FROM isl GROUP BY doc_id, island""".stripMargin,

    // capacity >= cardinality ⇒ Misra-Gries never evicts ⇒ estimates ARE
    // the exact counts on every path — the oracle is plain count(*)
    "q_heavy_hitters" ->
      "SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1",

    // same two-level crowd counts, same first-fit CASE — anonymity sets
    // are counted over ALL rows at each level's projection
    "q_k_anonymity" ->
      """WITH base AS (
        |  SELECT c.c_custkey, n.n_name AS geo0, r.r_name AS geo1, c.c_mktsegment AS seg
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey),
        | c0 AS (SELECT geo0, seg, count(*) AS n0 FROM base GROUP BY 1, 2),
        | c1 AS (SELECT geo1, seg, count(*) AS n1 FROM base GROUP BY 1, 2)
        |SELECT b.c_custkey,
        |  CASE WHEN n0 >= 10 THEN 0 WHEN n1 >= 10 THEN 1 ELSE 2 END AS anon_level,
        |  CASE WHEN n0 >= 10 THEN geo0 WHEN n1 >= 10 THEN geo1 ELSE '*' END AS qi_geo,
        |  CASE WHEN n0 >= 10 THEN seg WHEN n1 >= 10 THEN seg ELSE '*' END AS qi_segment
        |FROM base b
        |JOIN c0 USING (geo0, seg)
        |JOIN c1 USING (geo1, seg)""".stripMargin,

    // same grouped count-distinct over the same IEEE band arithmetic
    "q_l_diversity" ->
      """SELECT n.n_name AS qi_geo, c.c_mktsegment AS qi_segment,
        |  count(*)::BIGINT AS group_size,
        |  count(DISTINCT CAST(floor(c.c_acctbal / 1000.0) AS BIGINT))::BIGINT AS distinct_sensitive,
        |  (count(DISTINCT CAST(floor(c.c_acctbal / 1000.0) AS BIGINT)) < 3) AS at_risk
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    // the same mask-ladder bit spread, replayed with DuckDB's integer
    // & | << >> — Morton codes are pure bit arithmetic, so the oracle is
    // bit-for-bit, not approximate
    "q_zorder" ->
      """WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
        | s AS (SELECT (l_partkey * 65536) // (mp + 1) AS zx,
        |              (l_suppkey * 65536) // (ms + 1) AS zy FROM lineitem, m),
        | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
        | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
        | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
        | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
        | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
        | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e)
        |SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
        |  min(zx) AS min_x, max(zx) AS max_x,
        |  min(zy) AS min_y, max(zy) AS max_y
        |FROM z GROUP BY 1""".stripMargin,

    // the oracle aggregates the PARQUET side — equality proves the JSONL
    // write→read cycle preserved every text byte (same 60-bit md5 prefix
    // idiom as q_feature_hash; bit_xor skips nulls identically)
    "q_jsonl_roundtrip" ->
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  bit_xor(cast(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)) AS text_fp
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // every ordered pair replayed as a grouped count-distinct — same
    // null semantics (count(DISTINCT) drops null dependents, the null
    // determinant is one group)
    "q_fd_discovery" -> {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      cols.flatMap { a =>
        cols.filterNot(_ == a).map { b =>
          s"""SELECT '$a' AS determinant, '$b' AS dependent,
             |  count(*)::BIGINT AS n_det_values,
             |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
             |  (sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) = 0) AS holds
             |FROM (SELECT $a, count(DISTINCT $b) AS cd FROM customer GROUP BY 1)""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
    },

    // same 0-based rank (row_number - 1), same integer ordinal and
    // Morton arithmetic; the oracle's global window is again the
    // single-reducer plan GlobalRank exists to avoid
    "q_zorder_quantile" ->
      """WITH r AS (
        |  SELECT l_quantity,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS rk,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        | s AS (SELECT (rk * 65536) // n AS zx,
        |              (CAST(l_quantity AS BIGINT) * 65536) // 51 AS zy FROM r),
        | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
        | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
        | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
        | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
        | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
        | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e)
        |SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
        |  min(zx) AS min_x, max(zx) AS max_x,
        |  min(zy) AS min_y, max(zy) AS max_y
        |FROM z GROUP BY 1""".stripMargin,

    // the oracle's single-reducer row_number is the very plan
    // balancedShards avoids — same total order, same snake arithmetic
    "q_balanced_shards" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
        |  FROM documents)
        |SELECT CAST(CASE WHEN (rk // 10) % 2 = 0 THEN rk % 10
        |            ELSE 9 - (rk % 10) END AS INTEGER) AS shard,
        |  count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM r GROUP BY 1""".stripMargin,

    // same 60 md5 bits mod the bucket count — pure integer arithmetic
    "q_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
        |  FROM documents)
        |SELECT doc_id,
        |  cast(('0x' || substr(md5(term), 1, 15))::UBIGINT % 512 AS bigint) AS bucket,
        |  count(*)::BIGINT AS cnt
        |FROM toks GROUP BY 1, 2""".stripMargin,

    // same 60-bit md5 uniform, same long→double→+1 cast order (the cast
    // rounds above 2^53 — identically in both engines), same ln()/w key
    "q_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ln((('0x' || substr(md5('es' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 15))::UBIGINT::DOUBLE + 1.0)
        |       / 1152921504606846976.0) / cast(n_chars AS double) AS es_key
        |  FROM documents)
        |ORDER BY es_key DESC, doc_id ASC LIMIT 100""".stripMargin,

    // same distinct word-3-gram sets, rebuilt as a posting-list join with
    // per-pair shared counts; shared/na is one int/int IEEE division
    "q_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 200),
        | d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
        | g AS (SELECT doc_id, unnest(sh) AS g FROM d2),
        | shared AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*)::BIGINT AS shared
        |  FROM g x JOIN g y ON x.g = y.g AND x.doc_id <> y.doc_id GROUP BY 1, 2),
        | sz AS (SELECT doc_id AS id_a, cast(len(sh) AS bigint) AS na FROM d2)
        |SELECT id_a, id_b, shared,
        |  cast(shared AS double) / cast(na AS double) AS containment
        |FROM shared JOIN sz USING (id_a)
        |WHERE cast(shared AS double) / cast(na AS double) >= 0.6""".stripMargin,

    "q_asof_join" ->
      """SELECT event_id, user_id, ts, prev_view_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'view' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_ts
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin,

    "q_event_dedup" ->
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 600000000""".stripMargin,

    // same one-window-pass pattern: both conditional maxima over the
    // identical (ts, event_id)-ordered frame excluding the current row
    "q_pattern_match" ->
      """SELECT user_id, event_id, ts,
        |  epoch_us(ts) - last_view_us AS us_since_view
        |FROM (
        |  SELECT user_id, event_type, ts, event_id,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER w AS last_view_us,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER w AS last_click_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
        |  AND epoch_us(ts) - last_view_us <= 3600000000
        |  AND (last_click_us IS NULL OR last_click_us <= last_view_us)""".stripMargin,

    // same lag-gate + running-sum run ids, same (ts, event_id) tie-break;
    // run_id is cast to bigint (DuckDB window sums integers as int128)
    "q_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | r AS (
        |  SELECT user_id, event_type, ts,
        |    cast(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS bigint) AS run_id
        |  FROM o),
        | iv AS (
        |  SELECT user_id, run_id, min(event_type) AS state,
        |    min(ts) AS valid_from, count(*)::BIGINT AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, run_id, state, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to, n_events,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM iv
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)""".stripMargin,

    // the funnel replayed: same pages, same extraction regexes, same
    // gates, exact-pair near-dedup (recall 1.0 on this corpus's planted
    // pairs), the same closure-minimum drop rule
    "q_web_corpus_funnel" ->
      s"""WITH RECURSIVE $htmlPagesSql,
        | nb AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(html,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
        |  FROM pages),
        | ex AS MATERIALIZED (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
        |      '[\\s\\x0b]+', ' ', 'g')) AS clean,
        |    trim(regexp_replace(regexp_replace(
        |      array_to_string(regexp_extract_all(noblocks,
        |        '(?s)<a [^>]*>(.*?)</a>', 1), ' '),
        |      '<[^>]*>', ' ', 'g'), '[\\s\\x0b]+', ' ', 'g')) AS atext
        |  FROM nb),
        | gated AS MATERIALIZED (
        |  SELECT doc_id, clean FROM ex
        |  WHERE cast(length(atext) AS double)
        |      / cast(greatest(length(clean), 1) AS double) <= 0.5
        |    AND length(clean) >= 50),
        | exact AS MATERIALIZED (
        |  SELECT min(doc_id) AS doc_id, clean FROM gated GROUP BY clean),
        | toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(clean), '[\\s\\x0b]+'),
        |      x -> x <> '') AS t
        |  FROM exact),
        | shd AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) = 0 THEN []
        |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    END AS sh
        |  FROM toks),
        | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
        |  FROM shd WHERE len(sh) > 0),
        | prs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
        |      count(*)::BIGINT AS i
        |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2, 3, 4)
        |  WHERE cast(i AS double) / (na + nb - i) >= 0.8),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | drop_ids AS MATERIALIZED (
        |  SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING src > least(src, min(dst))),
        | kept AS MATERIALIZED (
        |  SELECT e.doc_id, e.clean FROM exact e
        |  WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_ids))
        |SELECT '0_pages' AS stage, (SELECT count(*) FROM pages)::BIGINT AS n
        |UNION ALL SELECT '1_content_gate', (SELECT count(*) FROM gated)
        |UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM exact)
        |UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM kept)
        |UNION ALL SELECT '4_kept_tokens',
        |  (SELECT coalesce(sum(len(list_filter(
        |     string_split_regex(clean, '[\\s\\x0b]+'), x -> x <> ''))), 0)::BIGINT
        |   FROM kept)""".stripMargin,

    "q_freshness_gate" ->
      """WITH t AS (
        |  SELECT event_type, max(epoch_us(ts)) AS latest_us
        |  FROM events GROUP BY 1),
        | g AS (SELECT max(latest_us) AS global_us FROM t)
        |SELECT event_type,
        |  ((g.global_us - t.latest_us) // 3600000000)::BIGINT AS lag_hours,
        |  (g.global_us - t.latest_us) <= 259200000000 AS fresh
        |FROM t, g""".stripMargin,

    // identical integer-micros fold bounds (long // replays Spark's div on
    // these non-negative operands) and the same conditional count rollup
    "q_purged_folds" ->
      """WITH s AS (
        |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) + 1 AS hi
        |  FROM events),
        | b AS (
        |  SELECT f.fold,
        |    lo + ((hi - lo) * f.fold) // 5 AS test_lo_us,
        |    lo + ((hi - lo) * (f.fold + 1)) // 5 AS test_hi_us
        |  FROM (SELECT unnest(range(0, 5)) AS fold) f, s),
        | e AS (SELECT epoch_us(ts) AS us FROM events)
        |SELECT b.fold::BIGINT AS fold, b.test_lo_us, b.test_hi_us,
        |  sum(CASE WHEN us >= test_lo_us AND us < test_hi_us
        |      THEN 1 ELSE 0 END)::BIGINT AS test_n,
        |  sum(CASE WHEN us < test_lo_us - 21600000000
        |        OR us >= test_hi_us + 21600000000
        |      THEN 1 ELSE 0 END)::BIGINT AS train_n,
        |  (count(*) - sum(CASE WHEN us >= test_lo_us AND us < test_hi_us
        |      THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN us < test_lo_us - 21600000000
        |        OR us >= test_hi_us + 21600000000
        |      THEN 1 ELSE 0 END))::BIGINT AS purged_n
        |FROM e, b GROUP BY 1, 2, 3""".stripMargin,

    // the same block-reversed synthesized arrival, per-user running max,
    // and hour bucketing capped at 24
    "q_lateness_profile" ->
      """WITH r AS (
        |  SELECT epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY (event_id // 64) * 64 + 63 - (event_id % 64)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM events)
        |SELECT least((runmax - us) // 3600000000, 24)::BIGINT AS late_hours,
        |  count(*)::BIGINT AS n_events
        |FROM r GROUP BY 1""".stripMargin,

    // same subject predicate and explicit FK cascade; affected = IN the
    // (distinct'd) erase-key set, retained = the complement
    "q_erasure_audit" ->
      """WITH subj AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 1),
        | okeys AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_custkey IN (SELECT k FROM subj))
        |SELECT 'customer' AS table_name,
        |  sum(CASE WHEN c_custkey IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT AS affected_rows,
        |  sum(CASE WHEN c_custkey IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT AS retained_rows
        |FROM customer
        |UNION ALL
        |SELECT 'events',
        |  sum(CASE WHEN user_id IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN user_id IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT
        |FROM events
        |UNION ALL
        |SELECT 'lineitem',
        |  sum(CASE WHEN l_orderkey IN (SELECT k FROM okeys) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN l_orderkey IN (SELECT k FROM okeys) THEN 0 ELSE 1 END)::BIGINT
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders',
        |  sum(CASE WHEN o_custkey IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN o_custkey IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT
        |FROM orders""".stripMargin,

    "q_calibration_curve" ->
      """SELECT least(cast(floor(n_chars / 100) AS bigint), 9) AS bin,
        |  count(*)::BIGINT AS n,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |  cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS pos_rate
        |FROM documents WHERE lang IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // the same micros axis (epoch_us) and numeric RANGE frame
    "q_rolling_features" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    cast(floor(value * 100 + 0.5) AS bigint) AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w::BIGINT AS n_7d,
        |  sum(cents) OVER w::BIGINT AS cents_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // same strict-future window; LEFT JOIN + max replays the EXISTS
    "q_label_window" ->
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view'),
        | p AS (
        |  SELECT user_id AS p_user, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id,
        |  max(CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS label
        |FROM v LEFT JOIN p
        |  ON p.p_user = v.user_id AND p.p_us > v.v_us
        |  AND p.p_us <= v.v_us + 86400000000
        |GROUP BY 1""".stripMargin,

    // the same tier-run dimension and containment join; a LEFT join so
    // the pre-first-view purchases keep their NULL-tier row
    "q_pit_join" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    cast(floor(value * 10) AS bigint) AS tier
        |  FROM events WHERE event_type = 'view'),
        | o AS (
        |  SELECT user_id, ts, event_id, tier,
        |    CASE WHEN lag(tier) OVER w IS NULL
        |           OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
        |  FROM v
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | r AS (
        |  SELECT user_id, tier, ts,
        |    cast(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS bigint) AS run_id
        |  FROM o),
        | iv AS (
        |  SELECT user_id, run_id, min(tier) AS tier, min(ts) AS valid_from
        |  FROM r GROUP BY 1, 2),
        | dim AS (
        |  SELECT user_id, tier, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
        |  FROM iv),
        | p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT d.tier,
        |  count(*)::BIGINT AS n_purchases,
        |  sum(cast(floor(p.value * 100 + 0.5) AS bigint))::BIGINT AS value_cents
        |FROM p LEFT JOIN dim d
        |  ON d.user_id = p.user_id AND d.valid_from <= p.ts
        |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |GROUP BY 1""".stripMargin,

    "q_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
        | count(DISTINCT event_type) AS n_types,
        | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value
        |FROM events GROUP BY user_id""".stripMargin,

    // the oracle IS the full recompute — the merge-equals-recompute
    // contract is the whole point of the incremental operator
    "q_incremental_agg" ->
      """SELECT user_id, count(*) AS n_events,
        | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value,
        | min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY user_id""".stripMargin,

    // the merged-HLL estimate is engine-local; the oracle recomputes the
    // exact distinct over the full table (history ∪ delta partitions it
    // exactly) and asserts Spark's 3-sigma bound boolean is TRUE
    "q_incremental_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    "q_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        | sessioned AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM flagged)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n_events
        |FROM sessioned GROUP BY user_id, sess""".stripMargin,

    // the ordered-funnel chain replayed stage by stage (each stage's min
    // is constrained to strictly after the previous stage's first event)
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        | c AS (
        |  SELECT e.user_id AS user_id, min(e.ts) AS first_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY 1),
        | p AS (
        |  SELECT e.user_id AS user_id, min(e.ts) AS first_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY 1)
        |SELECT v.user_id AS user_id,
        |  CASE WHEN p.first_purchase IS NOT NULL THEN 3
        |       WHEN c.first_click IS NOT NULL THEN 2 ELSE 1 END AS stage,
        |  v.first_view AS first_view, c.first_click AS first_click,
        |  p.first_purchase AS first_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,

    // both engines truncate weeks to Monday; deltas are exact multiples of
    // 7 days so integer division is lossless
    "q_cohort_retention" ->
      """WITH wk AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        | first AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1)
        |SELECT cohort,
        |  cast(date_diff('day', cohort, wk.wk) // 7 AS integer) AS weeks_since,
        |  count(DISTINCT wk.user_id)::BIGINT AS n_users
        |FROM wk JOIN first ON wk.user_id = first.user_id
        |GROUP BY 1, 2""".stripMargin,

    // identical md5 gate, integer bin arithmetic, Laplace-smoothed shares,
    // micro-nat PSI quantization
    "q_drift_psi" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    substring(md5('snapA' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8)
        |      < '80000000' AS a
        |  FROM documents),
        | bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d WHERE a),
        | counts AS (
        |  SELECT cast(least(9, greatest(0,
        |      cast(floor((n_chars - lo) * 10 / (hi - lo + 1)) AS integer))) AS integer) AS bin,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM d, bounds GROUP BY 1),
        | t AS (SELECT bin, n_a, n_b,
        |    cast(sum(n_a) OVER () AS bigint) AS ta,
        |    cast(sum(n_b) OVER () AS bigint) AS tb
        |  FROM counts)
        |SELECT bin, n_a, n_b,
        |  cast(floor(
        |    (cast(n_a + 1 AS double) / cast(ta + 10 AS double) -
        |     cast(n_b + 1 AS double) / cast(tb + 10 AS double)) *
        |    ln((cast(n_a + 1 AS double) / cast(ta + 10 AS double)) /
        |       (cast(n_b + 1 AS double) / cast(tb + 10 AS double)))
        |    * 1000000.0 + 0.5) AS bigint) AS psi_unats
        |FROM t""".stripMargin,

    // same (ts, event_id) tie-break as q_scd2; p = one exact int/int
    // IEEE division (count cast BIGINT — DuckDB window sums are int128)
    "q_event_transitions" ->
      """WITH l AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        | c AS (
        |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  cast(n AS double) / cast(sum(n) OVER (PARTITION BY prev_type) AS double) AS p
        |FROM c""".stripMargin,

    // identical exact integer moments (DuckDB widens bigint combinations
    // to int128 natively — the decimal(38,0) twin of the Spark side),
    // identical final IEEE op chains, round 6
    "q_trend_slope" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate AS date)) AS bigint) AS x,
        |    cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS y
        |  FROM orders),
        | m AS (
        |  SELECT o_orderpriority, count(*)::BIGINT AS n,
        |    cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
        |    cast(sum(x * x) AS bigint) AS sxx,
        |    sum(cast(x AS hugeint) * cast(y AS hugeint)) AS sxy,
        |    sum(cast(y AS hugeint) * cast(y AS hugeint)) AS syy
        |  FROM o GROUP BY 1),
        | k AS (
        |  SELECT *,
        |    cast(n AS hugeint) * sxy - cast(sx AS hugeint) * cast(sy AS hugeint) AS num,
        |    cast(n AS hugeint) * cast(sxx AS hugeint)
        |      - cast(sx AS hugeint) * cast(sx AS hugeint) AS den,
        |    cast(n AS hugeint) * syy
        |      - cast(sy AS hugeint) * cast(sy AS hugeint) AS dyy
        |  FROM m),
        | s AS (
        |  SELECT *, round(cast(num AS double) / cast(den AS double), 6) AS slope
        |  FROM k)
        |SELECT o_orderpriority, n,
        |  slope AS slope_cents_per_day,
        |  round(cast(sy AS double) / cast(n AS double)
        |    - slope * (cast(sx AS double) / cast(n AS double)), 6) AS intercept_cents,
        |  round(cast(num AS double)
        |    / sqrt(cast(den AS double) * cast(dyy AS double)), 6) AS pearson_r
        |FROM s""".stripMargin,

    "q_fk_discovery" ->
      """WITH cand(candidate, nc, nm) AS (
        |  SELECT 'orders.o_custkey->customer.c_custkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT,
        |    (SELECT count(DISTINCT o_custkey) FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM customer))::BIGINT
        |  UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey',
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem
        |      WHERE l_partkey IN (SELECT p_partkey FROM part))
        |  UNION ALL SELECT 'customer.c_nationkey->nation.n_nationkey',
        |    (SELECT count(DISTINCT c_nationkey) FROM customer),
        |    (SELECT count(DISTINCT c_nationkey) FROM customer
        |      WHERE c_nationkey IN (SELECT n_nationkey FROM nation))
        |  UNION ALL SELECT 'events.user_id->customer.c_custkey',
        |    (SELECT count(DISTINCT user_id) FROM events),
        |    (SELECT count(DISTINCT user_id) FROM events
        |      WHERE user_id IN (SELECT c_custkey FROM customer))
        |  UNION ALL SELECT 'customer.c_custkey->orders.o_custkey',
        |    (SELECT count(DISTINCT c_custkey) FROM customer),
        |    (SELECT count(DISTINCT c_custkey) FROM customer
        |      WHERE c_custkey IN (SELECT o_custkey FROM orders))
        |  UNION ALL SELECT 'part.p_size->nation.n_nationkey',
        |    (SELECT count(DISTINCT p_size) FROM part),
        |    (SELECT count(DISTINCT p_size) FROM part
        |      WHERE p_size IN (SELECT n_nationkey FROM nation)))
        |SELECT candidate, nc AS n_child_distinct, nm AS n_matched,
        |  cast(nm AS double) / cast(nc AS double) AS inclusion
        |FROM cand""".stripMargin,

    "q_ri_audit" ->
      """WITH r AS (
        |  SELECT 'customer->orders' AS relation,
        |    (SELECT count(*) FROM customer)::BIGINT AS n_parent,
        |    (SELECT count(*) FROM orders)::BIGINT AS n_child,
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |       (SELECT c_custkey FROM customer))::BIGINT AS n_orphan_child,
        |    (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |       (SELECT o_custkey FROM orders))::BIGINT AS n_childless_parent
        |  UNION ALL SELECT 'orders->lineitem',
        |    (SELECT count(*) FROM orders), (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |       (SELECT o_orderkey FROM orders)),
        |    (SELECT count(*) FROM orders WHERE o_orderkey NOT IN
        |       (SELECT l_orderkey FROM lineitem))
        |  UNION ALL SELECT 'part->lineitem',
        |    (SELECT count(*) FROM part), (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |       (SELECT p_partkey FROM part)),
        |    (SELECT count(*) FROM part WHERE p_partkey NOT IN
        |       (SELECT l_partkey FROM lineitem))
        |  UNION ALL SELECT 'nation->customer',
        |    (SELECT count(*) FROM nation), (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
        |       (SELECT n_nationkey FROM nation)),
        |    (SELECT count(*) FROM nation WHERE n_nationkey NOT IN
        |       (SELECT c_nationkey FROM customer)))
        |SELECT * FROM r""".stripMargin,

    // DuckDB's jaro_winkler_similarity is bit-identical to the native
    // expression (verified on all dictionary pairs) — raw doubles compare
    // every stage replayed: same dirty fixture, the neighborhood as a
    // global row_number + ranged self-join (the SN oracle's pattern),
    // DuckDB's bit-identical jaro_winkler_similarity at the same 0.9,
    // the recursive-CTE component closure at the component minimum, and
    // survivorship as arg_min/max (the golden-record oracle's pattern)
    "q_er_pipeline" ->
      """WITH RECURSIVE base AS (
        |  SELECT cast(p_partkey AS bigint) AS rec_id, p_name AS name,
        |    cast(floor(p_retailprice * 100 + 0.5) AS bigint) AS price_cents
        |  FROM part),
        | recs AS MATERIALIZED (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT rec_id + 10000000, name || ' xx', price_cents + 5
        |  FROM base WHERE rec_id % 4 = 0),
        | ranked1 AS (
        |  SELECT rec_id, name,
        |    row_number() OVER (ORDER BY name, rec_id) AS g
        |  FROM recs),
        | ranked2 AS (
        |  SELECT rec_id, name,
        |    row_number() OVER (
        |      ORDER BY array_to_string((string_split(name, ' '))[1:3], ' '),
        |        rec_id) AS g
        |  FROM recs),
        | cand AS (
        |  SELECT a.rec_id AS id_a, b.rec_id AS id_b,
        |    a.name AS na, b.name AS nb
        |  FROM ranked1 a JOIN ranked1 b ON b.g BETWEEN a.g + 1 AND a.g + 3
        |  UNION
        |  SELECT a.rec_id, b.rec_id, a.name, b.name
        |  FROM ranked2 a JOIN ranked2 b ON b.g BETWEEN a.g + 1 AND a.g + 3),
        | scored AS MATERIALIZED (
        |  SELECT id_a, id_b FROM cand
        |  WHERE jaro_winkler_similarity(na, nb) >= 0.9),
        | edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM scored
        |  UNION SELECT id_b, id_a FROM scored),
        | reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        | cmap AS (
        |  SELECT src AS rec_id, least(src, min(dst)) AS keep_id
        |  FROM reach GROUP BY src),
        | withc AS (
        |  SELECT coalesce(c.keep_id, r.rec_id) AS cluster_id,
        |    r.rec_id, r.name, r.price_cents
        |  FROM recs r LEFT JOIN cmap c USING (rec_id))
        |SELECT cluster_id, count(*)::BIGINT AS n_records,
        |  arg_min(name, rec_id) FILTER (WHERE name IS NOT NULL) AS name,
        |  max(price_cents) AS price_cents
        |FROM withc GROUP BY 1""".stripMargin,

    "q_jaro_rank" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS block
        |  FROM part),
        | p AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |  FROM names a JOIN names b
        |    ON a.block = b.block AND a.p_name < b.p_name)
        |SELECT name_a, name_b, jw FROM p WHERE jw >= 0.8""".stripMargin,

    // same dictionary-first blocking (names are 'adjective noun', block =
    // the noun); both engines implement plain Levenshtein
    "q_fuzzy_match" ->
      """WITH names AS (
        |  SELECT p_name, count(*)::BIGINT AS n_parts,
        |    split_part(p_name, ' ', 2) AS block
        |  FROM part GROUP BY 1),
        | p AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    cast(levenshtein(a.p_name, b.p_name) AS int) AS dist,
        |    a.n_parts AS n_a, b.n_parts AS n_b
        |  FROM names a JOIN names b
        |    ON a.block = b.block AND a.p_name < b.p_name)
        |SELECT name_a, name_b, dist, n_a, n_b FROM p WHERE dist <= 2""".stripMargin,

    // same (ts, event_id) tie-break, same top-k ordering
    "q_event_paths" ->
      """WITH l AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER w AS p1,
        |    lag(event_type, 2) OVER w AS p2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*)::BIGINT AS n
        |FROM l WHERE p2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin,

    // code-point split + GROUP BY replay of the native kernel's
    // per-character floor-quantized micro-nat contributions
    "q_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE text <> ''),
        | f AS (SELECT doc_id, ch, count(*)::BIGINT AS n FROM c GROUP BY 1, 2),
        | t AS (SELECT doc_id, cast(sum(n) AS bigint) AS tot FROM f GROUP BY 1)
        |SELECT f.doc_id, min(t.tot) AS n_cp,
        |  cast(sum(cast(floor(
        |    -(cast(n AS double) / cast(tot AS double)) *
        |     ln(cast(n AS double) / cast(tot AS double)) * 1000000.0 + 0.5)
        |    AS bigint)) AS bigint) AS ent_unats
        |FROM f JOIN t ON f.doc_id = t.doc_id
        |GROUP BY 1""".stripMargin,

    // DuckDB's list() honors ORDER BY inside the aggregate — the twin of
    // the struct-sort idiom (same (ts, event_id) tie-break)
    "q_user_sequences" ->
      """WITH l AS (
        |  SELECT user_id, count(*)::BIGINT AS n_events,
        |    list(event_type ORDER BY ts, event_id) AS seq_all
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events,
        |  array_to_string(seq_all[greatest(len(seq_all) - 7, 1):], '>') AS seq
        |FROM l""".stripMargin,

    // same token-reversed sort key, same 3-neighbor window
    "q_sorted_neighborhood" ->
      """WITH n0 AS (SELECT DISTINCT p_name FROM part),
        | names AS (
        |  SELECT p_name,
        |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ') AS skey
        |  FROM n0),
        | nb AS (
        |  SELECT p_name AS name_a,
        |    lead(p_name, 1) OVER w AS nb1,
        |    lead(p_name, 2) OVER w AS nb2,
        |    lead(p_name, 3) OVER w AS nb3
        |  FROM names WINDOW w AS (ORDER BY skey, p_name)),
        | p AS (
        |  SELECT name_a,
        |    unnest(list_filter([nb1, nb2, nb3], x -> x IS NOT NULL)) AS name_b
        |  FROM nb)
        |SELECT name_a, name_b,
        |  cast(levenshtein(name_a, name_b) AS int) AS dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 2""".stripMargin,

    // bounded recursive frontier expansion over the same thresholded
    // co-purchase edges; UNION dedups (node, d) states so the walk set
    // stays <= |V| * (maxHops + 1)
    "q_bfs_dist" ->
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
        |SELECT node AS node_id, min(d) AS hops FROM reach GROUP BY node""".stripMargin,

    // the peel unrolled: measured convergence is 1 drop round at this
    // fixture; 3 rounds are unrolled (extra rounds are no-ops on a
    // converged set), then the final support recomputes on the
    // stabilized edges — same left-join/zero-coalesce as the operator
    "q_k_truss" -> {
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
    },

    // same capped projection; per-seed recursive closure with the depth
    // guard, the same md5 seed gate, 12//d integer terms, one division
    "q_closeness" ->
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
        |FROM dist WHERE hops > 0 GROUP BY 1""".stripMargin,

    // same capped edge projection as q_triangles; wedges at the middle
    // vertex, stop-hub cap (a no-op at fixture scale, mirrored for
    // semantic parity), NOT EXISTS for the non-adjacency contract
    "q_link_predict" ->
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
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.u AND e.b = p.w)""".stripMargin,

    // the oracle recomputes from the FULL table — a hash match proves
    // merge(history_state, delta_state) == recompute(history ∪ delta)
    "q_incremental_median" ->
      """SELECT l_returnflag,
        |  quantile_cont(cast(l_quantity AS bigint), 0.5) AS median_qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    // the release replayed exactly: same counts, same md5-prefix noise
    // index, and the SAME 256 integer noise literals (both engines get
    // them from one geometricNoiseTable call — the quantile math runs
    // once on the driver, never in either engine)
    "q_dp_release" -> {
      val tbl = graft.ext.Privacy.geometricNoiseTable(1.0).mkString(", ")
      s"""WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS tc
        |  FROM customer GROUP BY 1, 2),
        | nz AS (
        |  SELECT *, ('0x' || substr(md5('dp1:' || c_mktsegment || ':' ||
        |    cast(c_nationkey AS varchar)), 1, 8))::BIGINT % 256 AS idx
        |  FROM g)
        |SELECT c_mktsegment, c_nationkey,
        |  greatest(tc + ([$tbl])[cast(idx AS int) + 1], 0)::BIGINT AS noisy_count,
        |  cast(1.0 AS double) AS epsilon
        |FROM nz""".stripMargin
    },

    "q_t_closeness" ->
      """WITH base AS (
        |  SELECT n_name AS qi_geo, c_mktsegment AS qi_segment,
        |    cast(floor(c_acctbal / 1000.0) AS bigint) AS band
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        | cell AS (
        |  SELECT qi_geo, qi_segment, band, count(*)::BIGINT AS gc
        |  FROM base GROUP BY 1, 2, 3),
        | bandc AS (SELECT band, count(*)::BIGINT AS bc FROM base GROUP BY 1),
        | tot AS (SELECT sum(bc)::BIGINT AS total, count(*)::BIGINT AS nbands FROM bandc),
        | grp AS (SELECT qi_geo, qi_segment, sum(gc)::BIGINT AS n FROM cell GROUP BY 1, 2),
        | grid AS MATERIALIZED (
        |  SELECT g.qi_geo, g.qi_segment, g.n, b.band, b.bc, t.total, t.nbands,
        |    coalesce(c.gc, 0)::BIGINT AS gc
        |  FROM grp g CROSS JOIN bandc b CROSS JOIN tot t
        |  LEFT JOIN cell c ON c.qi_geo = g.qi_geo
        |    AND c.qi_segment = g.qi_segment AND c.band = b.band),
        | cums AS (
        |  SELECT qi_geo, qi_segment, n, nbands,
        |    CAST(sum(gc) OVER win AS DOUBLE) / n AS cq,
        |    CAST(sum(bc) OVER win AS DOUBLE) / total AS cp
        |  FROM grid
        |  WINDOW win AS (PARTITION BY qi_geo, qi_segment ORDER BY band))
        |SELECT qi_geo, qi_segment, n AS group_size,
        |  round(sum(abs(cq - cp)) / (max(nbands) - 1), 6) AS emd,
        |  round(sum(abs(cq - cp)) / (max(nbands) - 1), 6) > 0.2 AS at_risk
        |FROM cums GROUP BY 1, 2, 3""".stripMargin,

    // α = 1/2: pow(0.5, k) and each product are exact in both engines;
    // only the final sum is order-sensitive, inside the 1e-6 round
    "q_ewma" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id,
        |  round(sum(value * CASE WHEN rn = 1 THEN pow(0.5, n - 1)
        |                         ELSE pow(0.5, n - rn) * 0.5 END), 6) AS ewma,
        |  max(n)::BIGINT AS n_events
        |FROM r GROUP BY 1""".stripMargin,

    // z² as a ratio of integers — no quantization anywhere; the single
    // IEEE division is bit-identical cross-engine
    "q_anomaly" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        | w AS (
        |  SELECT event_type, hour, cnt,
        |    count(*) OVER win AS n, sum(cnt) OVER win AS sx,
        |    sum(cnt * cnt) OVER win AS sq
        |  FROM hourly
        |  WINDOW win AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, hour, cnt,
        |  CAST((n * cnt - sx) * (n * cnt - sx) AS DOUBLE) / (n * sq - sx * sx) AS z2,
        |  CAST((n * cnt - sx) * (n * cnt - sx) AS DOUBLE) / (n * sq - sx * sx) > 4.0
        |    AS is_anomaly
        |FROM w WHERE n >= 12 AND n * sq - sx * sx <> 0""".stripMargin,

    // oracle reads the parquet side — a hash match certifies the whole
    // ORC write → vectorized read cycle byte-preserves every text
    "q_orc_roundtrip" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  bit_xor(cast(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)) AS text_fp
        |FROM documents GROUP BY 1""".stripMargin,

    "q_negative_sample" ->
      """WITH anchors AS (
        |  SELECT c_custkey,
        |    cast(('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::UBIGINT AS BIGINT) % 40
        |      AS bucket
        |  FROM customer WHERE c_custkey % 100 = 0),
        | cand AS (
        |  SELECT a.c_custkey, p.p_partkey
        |  FROM anchors a JOIN part p ON p.p_partkey % 40 = a.bucket),
        | bought AS (
        |  SELECT DISTINCT o_custkey, l_partkey
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | neg AS (
        |  SELECT c.c_custkey, c.p_partkey FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM bought b
        |    WHERE b.o_custkey = c.c_custkey AND b.l_partkey = c.p_partkey)),
        | ranked AS (
        |  SELECT c_custkey, p_partkey FROM neg
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY (c_custkey * 2654435761 + p_partkey * 40503) % 1000003, p_partkey)
        |    <= 50)
        |SELECT c_custkey, count(*)::BIGINT AS n_negatives,
        |  min(p_partkey) AS min_part, max(p_partkey) AS max_part,
        |  bit_xor(p_partkey) AS part_fp
        |FROM ranked GROUP BY 1""".stripMargin,

    // each step replayed as one join on (node, md5-choice rank) — the
    // determinism contract in GraphOps.randomWalks, unrolled
    "q_random_walks" ->
      (s"WITH $walksChainSql\n" +
        "SELECT walk_id, step, node FROM walks"),

    // visit counts over the identical walk table — centrality estimation
    // from sampled walks (the PageRank-adjacent signal DeepWalk uses)
    "q_walk_centrality" ->
      (s"WITH $walksChainSql\n" +
        "SELECT node AS node_id, count(*)::BIGINT AS visits," +
        " count(DISTINCT walk_id)::BIGINT AS n_walks FROM walks GROUP BY 1"),

    // skip-gram (center, context) pair frequencies within walk-window 2
    "q_skipgram_pairs" ->
      (s"WITH $walksChainSql\n" +
        """SELECT x.node AS node_a, y.node AS node_b, count(*)::BIGINT AS n_pairs
          |FROM walks x JOIN walks y ON x.walk_id = y.walk_id
          |  AND y.step - x.step IN (1, 2)
          |GROUP BY 1, 2""".stripMargin),

    // integer moments; √A·√B then one divide — three correctly-rounded
    // IEEE ops, bit-identical in any engine
    "q_correlation" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        | g AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*)::BIGINT AS n,
        |    sum(x.cnt)::BIGINT AS sx, sum(y.cnt)::BIGINT AS sy,
        |    sum(x.cnt * y.cnt)::BIGINT AS sxy,
        |    sum(x.cnt * x.cnt)::BIGINT AS sxx,
        |    sum(y.cnt * y.cnt)::BIGINT AS syy
        |  FROM hourly x JOIN hourly y ON x.hour = y.hour
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
        |FROM g
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""".stripMargin,

    // the oracle REBUILDS from scratch — equality proves the state merge
    "q_incremental_copurchase" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= 256)
        |SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*)::BIGINT AS w
        |FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // same capped baskets, supports as distinct-counted longs, both rule
    // directions via UNION ALL, ratios as the same long/long IEEE
    // divisions the Spark side emits
    "q_assoc_rules" ->
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
        |  CROSS JOIN n""".stripMargin,

    // both-direction endpoint degrees; the same √A·√B Pearson form as
    // q_correlation — integer moments, three IEEE ops
    "q_assortativity" ->
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
        |FROM g""".stripMargin,

    // triangle CTE shared with q_triangles' oracle; the ratio of the two
    // structural integer totals
    "q_clustering_coeff" ->
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
        |FROM tri, wed""".stripMargin,

    // one grouped count-distinct per determinant PAIR, all dependents
    // sharing its exchange — same replay shape as q_fd_discovery
    "q_fd_composite" -> {
      val cands = Seq(
        (("l_orderkey", "l_linenumber"), Seq("l_partkey", "l_quantity")),
        (("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_shipdate")))
      cands.flatMap { case ((a, b), deps) =>
        deps.map { c =>
          s"""SELECT '$a,$b' AS determinant, '$c' AS dependent,
             |  count(*)::BIGINT AS n_det_values,
             |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
             |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) = 0 AS holds
             |FROM (SELECT count(DISTINCT $c) AS cd FROM lineitem GROUP BY $a, $b)""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
    },

    // same tokenization as q_bigrams; totals from the PRE-filter counts;
    // the ln ratio assembled in the identical left-associative order
    "q_pmi_bigrams" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS toks
        |  FROM documents),
        | u AS (SELECT unnest(toks) AS w FROM t),
        | uni AS (SELECT w, count(*)::BIGINT AS nw FROM u GROUP BY 1),
        | b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM t WHERE len(toks) >= 2),
        | bi_all AS (
        |  SELECT string_split(bigram, ' ')[1] AS wa, string_split(bigram, ' ')[2] AS wb,
        |    count(*)::BIGINT AS nab
        |  FROM b GROUP BY 1, 2),
        | tot AS (
        |  SELECT (SELECT sum(nw) FROM uni)::BIGINT AS n_uni,
        |    (SELECT sum(nab) FROM bi_all)::BIGINT AS n_bi),
        | bi AS (SELECT * FROM bi_all WHERE nab >= 5)
        |SELECT bi.wa, bi.wb, bi.nab,
        |  cast(floor(ln((bi.nab::DOUBLE * tot.n_uni * tot.n_uni) /
        |    (tot.n_bi::DOUBLE * ua.nw * ub.nw)) * 1000000.0 + 0.5) AS BIGINT) AS pmi_unats
        |FROM bi JOIN uni ua ON ua.w = bi.wa JOIN uni ub ON ub.w = bi.wb CROSS JOIN tot
        |ORDER BY pmi_unats DESC, wa ASC, wb ASC LIMIT 50""".stripMargin,

    "q_funnel_latency" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        | p AS (
        |  SELECT e.user_id, min(e.ts) AS fp
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.fv GROUP BY 1),
        | lat AS (
        |  SELECT epoch_us(fp) - epoch_us(fv) AS lat_us
        |  FROM p JOIN v USING (user_id))
        |SELECT count(*)::BIGINT AS n_converted,
        |  quantile_cont(lat_us, 0.5) AS p50_us,
        |  quantile_cont(lat_us, 0.9) AS p90_us,
        |  min(lat_us) AS min_us, max(lat_us) AS max_us
        |FROM lat""".stripMargin,

    // the as-of credit replayed with QUALIFY; 7 days in event-time micros
    "q_attribution" ->
      """WITH p AS (
        |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id, value AS p_value
        |  FROM events WHERE event_type = 'purchase'),
        | t AS (
        |  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
        |    event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')),
        | credited AS (
        |  SELECT p.p_id, p.p_value, t.touch_type
        |  FROM p JOIN t ON p.p_user = t.t_user
        |    AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
        |  QUALIFY row_number() OVER (PARTITION BY p.p_id
        |    ORDER BY t.t_ts DESC, t.t_id DESC) = 1)
        |SELECT touch_type, count(*)::BIGINT AS n_purchases,
        |  cast(sum(cast(floor(p_value * 100.0 + 0.5) AS bigint)) AS double) / 100.0
        |    AS attributed_revenue
        |FROM credited GROUP BY 1""".stripMargin,

    // identical planted-null rule, exact median from the survivors
    "q_impute_median" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CASE WHEN (l_orderkey * 7 + l_linenumber) % 13 = 0 THEN NULL
        |         ELSE l_quantity END AS qty
        |  FROM lineitem),
        | med AS (
        |  SELECT l_returnflag, quantile_cont(qty, 0.5) AS med
        |  FROM li WHERE qty IS NOT NULL GROUP BY 1)
        |SELECT li.l_returnflag, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN qty IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
        |  cast(sum(cast(floor(coalesce(qty, med) * 100.0 + 0.5) AS bigint)) AS double)
        |    / 100.0 AS sum_filled
        |FROM li JOIN med ON li.l_returnflag = med.l_returnflag
        |GROUP BY 1""".stripMargin,

    // positional replay: a match STARTING at position i in SQL is the
    // same set AC counts by END position — every overlap and nested term
    // appears in both
    "q_blocklist" -> {
      val vals = BlocklistTerms.map(t => s"('$t')").mkString(", ")
      s"""WITH terms(term) AS (VALUES $vals),
        | d AS (SELECT doc_id, lower(text) AS t, length(text) AS l FROM documents),
        | g AS (SELECT doc_id, t, unnest(generate_series(1, l)) AS i FROM d),
        | m AS (
        |  SELECT g.doc_id, tm.term
        |  FROM g JOIN terms tm ON substr(g.t, g.i, length(tm.term)) = tm.term)
        |SELECT doc_id, count(*)::BIGINT AS total_hits,
        |  count(DISTINCT term)::BIGINT AS distinct_terms
        |FROM m GROUP BY 1""".stripMargin
    },

    // the q_zorder profile CTE + the pruning aggregate; the row-level
    // match count comes straight off the scaled frame
    "q_zone_prune" ->
      """WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
        | s AS (SELECT (l_partkey * 65536) // (mp + 1) AS zx,
        |              (l_suppkey * 65536) // (ms + 1) AS zy FROM lineitem, m),
        | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
        | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
        | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
        | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
        | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
        | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e),
        | prof AS (
        |  SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
        |    min(zx) AS min_x, max(zx) AS max_x,
        |    min(zy) AS min_y, max(zy) AS max_y
        |  FROM z GROUP BY 1),
        | stats AS (
        |  SELECT count(*)::BIGINT AS n_files,
        |    sum(CASE WHEN min_x <= 32767 AND max_x >= 16384
        |             AND min_y <= 32767 AND max_y >= 16384 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_files_scanned,
        |    sum(CASE WHEN min_x <= 32767 AND max_x >= 16384
        |             AND min_y <= 32767 AND max_y >= 16384 THEN n_rows ELSE 0 END)::BIGINT
        |      AS rows_scanned,
        |    sum(n_rows)::BIGINT AS rows_total
        |  FROM prof),
        | matched AS (
        |  SELECT count(*)::BIGINT AS rows_matched FROM z
        |  WHERE zx BETWEEN 16384 AND 32767 AND zy BETWEEN 16384 AND 32767)
        |SELECT * FROM stats CROSS JOIN matched""".stripMargin,

    // same lag/filter pipeline, then SCC from first principles: recursive
    // reachability closure -> mutual pairs -> scc = min mutually-reachable
    // id (the label convention the operator guarantees). The closure is
    // oracle-side only and bounded by the partkey <= 400 domain cap
    "q_scc" ->
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
        |FROM lab""".stripMargin,

    // identical per-file size estimate, exclusive running sum (the
    // single-reducer ORDER BY window the Spark side exists to avoid is
    // FINE oracle-side), identical bin arithmetic: both engines divide
    // exact integers < 2^53 by 32768.0 in IEEE doubles
    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT l_shipdate AS file_date,
        |    (count(*) * 120 + sum(l_partkey % 64))::BIGINT AS size_bytes
        |  FROM lineitem GROUP BY 1),
        | c AS (
        |  SELECT file_date, size_bytes,
        |    coalesce(sum(size_bytes) OVER (ORDER BY file_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |  FROM f),
        | b AS (SELECT *, cast(floor(cum_before / 32768.0) AS bigint) AS bin FROM c)
        |SELECT file_date, size_bytes, cum_before, bin,
        |  sum(size_bytes) OVER (PARTITION BY bin)::BIGINT AS bin_bytes,
        |  count(*) OVER (PARTITION BY bin)::BIGINT AS files_in_bin
        |FROM b""".stripMargin,

    // the SIGNAL's closed form, not the decoder: unsigned pattern
    // u_i = (id*131 + i*7919) mod 65536, signed value u - 65536 when
    // u >= 32768; stats in exact integers. A constant series 0..349
    // cross-joined then filtered below each id's sample count — no
    // lateral dependence needed
    "q_audio_stats" ->
      """WITH p AS (
        |  SELECT cast(doc_id AS bigint) AS media_id,
        |    cast(8000 + (doc_id % 8) * 1000 AS int) AS sample_rate,
        |    cast(doc_id % 300 + 50 AS bigint) AS ns
        |  FROM documents),
        | s AS (
        |  SELECT media_id, sample_rate, ns,
        |    (media_id * 131 + g.i * 7919) % 65536 AS u
        |  FROM p, generate_series(0, 349) AS g(i) WHERE g.i < p.ns),
        | v AS (
        |  SELECT media_id, sample_rate, ns,
        |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |  FROM s)
        |SELECT media_id, sample_rate, ns AS n_samples,
        |  max(abs(x))::BIGINT AS peak_abs,
        |  sum(abs(x))::BIGINT AS sum_abs,
        |  sum(x * x)::BIGINT AS sum_sq,
        |  sum(CASE WHEN abs(x) >= 32000 THEN 1 ELSE 0 END)::BIGINT AS n_clipped,
        |  sum(CASE WHEN abs(x) < 256 THEN 1 ELSE 0 END)::BIGINT AS n_silent
        |FROM v GROUP BY 1, 2, 3""".stripMargin,

    // the same closed-form samples, the same (i*8)//n framing, the same
    // sign-of-delta bit assembly, the same per-fingerprint window count
    "q_audio_fp" ->
      """WITH p AS (
        |  SELECT cast(doc_id AS bigint) AS media_id,
        |    cast(doc_id % 300 + 50 AS bigint) AS ns
        |  FROM documents),
        | s AS (
        |  SELECT media_id, ns, g.i AS i,
        |    (media_id * 131 + g.i * 7919) % 65536 AS u
        |  FROM p, generate_series(0, 349) AS g(i) WHERE g.i < p.ns),
        | v AS (
        |  SELECT media_id, ns, (i * 8) // ns AS f,
        |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |  FROM s),
        | e AS (
        |  SELECT media_id, ns, f, sum(x * x)::BIGINT AS en
        |  FROM v GROUP BY 1, 2, 3),
        | d AS (
        |  SELECT media_id, ns, f, en,
        |    lead(en) OVER (PARTITION BY media_id ORDER BY f) AS nx
        |  FROM e),
        | fps AS (
        |  SELECT media_id, max(ns) AS n_samples,
        |    sum(CASE WHEN nx > en THEN 1 << f ELSE 0 END)::BIGINT AS fp
        |  FROM d WHERE f < 7 GROUP BY 1)
        |SELECT media_id, n_samples, fp,
        |  count(*) OVER (PARTITION BY fp)::BIGINT AS n_same_fp
        |FROM fps""".stripMargin,

    // same deterministic delta (delete-wins CASE order), same pre-join
    // hash reduction, same full-outer apply. upper()/md5 are
    // byte-identical across engines on the fixture's ASCII text
    "q_merge_upsert" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        | upserts AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN NULL ELSE upper(text) END AS text,
        |    CASE WHEN doc_id % 11 = 3 THEN 'D' ELSE 'U' END AS op
        |  FROM b WHERE doc_id % 11 = 3 OR doc_id % 7 = 0),
        | inserts AS (
        |  SELECT doc_id + 1000000 AS doc_id, 'new:' || text AS text, 'I' AS op
        |  FROM b WHERE doc_id % 13 = 5),
        | delta AS (
        |  SELECT doc_id, md5(text) AS d_md5, op FROM upserts
        |  UNION ALL
        |  SELECT doc_id, md5(text) AS d_md5, op FROM inserts),
        | snap AS (SELECT doc_id, md5(text) AS b_md5 FROM b)
        |SELECT coalesce(snap.doc_id, delta.doc_id) AS doc_id,
        |  coalesce(d_md5, b_md5) AS text_md5,
        |  coalesce(op, 'K') AS op
        |FROM snap FULL OUTER JOIN delta ON snap.doc_id = delta.doc_id
        |WHERE coalesce(op, '') <> 'D'""".stripMargin,

    // identical per-candidate sketch: distinct md5 hash sets, bottom-256
    // of the union order, membership flags, one ratio. md5 hex strings
    // sort identically in both engines (lowercase hex, binary collation)
    "q_fk_sketch" -> fkSketchOracleSql,

    // one full chain replay per nprobe point, each in its own subquery
    // scope, unioned — same exact ground truth every point
    "q_ann_tuning" -> annTuningOracleSql,
    // the ivf chain (bucket assignment + probes) joined against the pq
    // chain (codes + per-query LUTs): ADC restricted to probed buckets
    "q_ivfpq_topk" -> ivfPqOracleSql,
    "q_retrieval_ndcg" -> retrievalNdcgOracleSql,
    "q_mrr" -> mrrOracleSql,
    "q_mmr_rerank" -> mmrOracleSql,

    // codebooks from the same md5-stride donor sample (salt 'pq:'),
    // per-(vector, subspace) argmin with (dist, cid) tie-break, error
    // re-added in the Spark side's exact left-associated order
    "q_pq_codes" ->
      """WITH params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        | cand AS (
        |  SELECT cast(vec_id AS varchar) AS sid,
        |    list_transform(embedding, x -> cast(x AS double)) AS v
        |  FROM embeddings, params
        |  WHERE embedding IS NOT NULL
        |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
        | donors AS (
        |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
        |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
        | corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | subs AS (SELECT unnest(range(4)) AS sub),
        | dists AS (
        |  SELECT c.vec_id, s.sub, d.cid,
        |    sqrt(list_dot_product(
        |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
        |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
        |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
        | best AS (
        |  SELECT vec_id, sub, cid, dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        |    FROM dists)
        |  WHERE rn = 1)
        |SELECT vec_id,
        |  max(CASE WHEN sub = 0 THEN cid END)::INT AS c0,
        |  max(CASE WHEN sub = 1 THEN cid END)::INT AS c1,
        |  max(CASE WHEN sub = 2 THEN cid END)::INT AS c2,
        |  max(CASE WHEN sub = 3 THEN cid END)::INT AS c3,
        |  round(((max(CASE WHEN sub = 0 THEN dist END)
        |        + max(CASE WHEN sub = 1 THEN dist END))
        |        + max(CASE WHEN sub = 2 THEN dist END))
        |        + max(CASE WHEN sub = 3 THEN dist END), 4) AS err_r
        |FROM best GROUP BY vec_id""".stripMargin,

    // the q_pq_codes chain extended by the ADC join: per-query lookup
    // tables (q x sub x cid distances), code lookup, fixed-order sum,
    // (adc, neighbor) rank
    "q_pq_topk" ->
      """WITH params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        | cand AS (
        |  SELECT cast(vec_id AS varchar) AS sid,
        |    list_transform(embedding, x -> cast(x AS double)) AS v
        |  FROM embeddings, params
        |  WHERE embedding IS NOT NULL
        |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
        | donors AS (
        |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
        |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
        | corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | subs AS (SELECT unnest(range(4)) AS sub),
        | dists AS (
        |  SELECT c.vec_id, s.sub, d.cid,
        |    sqrt(list_dot_product(
        |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
        |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
        |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
        | best AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        |    FROM dists)
        |  WHERE rn = 1),
        | q AS (
        |  SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        | qlut AS (
        |  SELECT q.qid, s.sub, d.cid,
        |    sqrt(list_dot_product(
        |      list_transform(range(1, 17), i -> q.qv[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
        |      list_transform(range(1, 17), i -> q.qv[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS qdist
        |  FROM q CROSS JOIN subs s CROSS JOIN donors d),
        | adc AS (
        |  SELECT l.qid AS query_id, b.vec_id AS neighbor_id,
        |    ((max(CASE WHEN b.sub = 0 THEN l.qdist * l.qdist END)
        |     + max(CASE WHEN b.sub = 1 THEN l.qdist * l.qdist END))
        |     + max(CASE WHEN b.sub = 2 THEN l.qdist * l.qdist END))
        |     + max(CASE WHEN b.sub = 3 THEN l.qdist * l.qdist END) AS d
        |  FROM best b JOIN qlut l ON l.sub = b.sub AND l.cid = b.cid
        |  WHERE b.vec_id <> l.qid
        |  GROUP BY 1, 2),
        | ranked AS (
        |  SELECT query_id, neighbor_id, d,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
        |  FROM adc)
        |SELECT query_id, neighbor_id, round(d, 4) AS adc_r, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // same window-hash boundary rule (this build's generate_series takes
    // no lateral bounds — a constant 10k ceiling is filtered down to each
    // text's length; both engines' substr/length count code points), then
    // lead()-paired segments and the same two aggregates
    "q_cdc_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE text IS NOT NULL),
        | pos AS (
        |  SELECT doc_id, text, n, g.i AS pos
        |  FROM base, generate_series(16, 10000) AS g(i) WHERE g.i <= n),
        | bnd AS (
        |  SELECT doc_id, pos FROM pos
        |  WHERE ('0x' || substr(md5('cdc:' || substr(text, pos - 15, 16)), 1, 15))::UBIGINT % 64 = 0),
        | starts AS (
        |  SELECT doc_id, 1 AS s FROM base
        |  UNION ALL
        |  SELECT doc_id, pos + 1 AS s FROM bnd),
        | segs AS (
        |  SELECT doc_id, s,
        |    lead(s) OVER (PARTITION BY doc_id ORDER BY s) - 1 AS e0
        |  FROM starts),
        | chunks AS (
        |  SELECT sg.doc_id,
        |    substr(b.text, sg.s::INT, (coalesce(sg.e0, b.n) - sg.s + 1)::INT) AS chunk
        |  FROM segs sg JOIN base b USING (doc_id)
        |  WHERE coalesce(sg.e0, b.n) >= sg.s),
        | tot AS (
        |  SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
        |    count(*)::BIGINT AS total_chunks,
        |    sum(length(chunk))::BIGINT AS total_chars
        |  FROM chunks),
        | dis AS (
        |  SELECT count(*)::BIGINT AS distinct_chunks,
        |    sum(len)::BIGINT AS distinct_chars
        |  FROM (SELECT md5(chunk) AS h, min(length(chunk)) AS len
        |        FROM chunks GROUP BY 1))
        |SELECT n_docs, total_chunks, total_chars, distinct_chunks, distinct_chars,
        |  cast(distinct_chars AS double) / cast(total_chars AS double) AS dedup_ratio
        |FROM tot CROSS JOIN dis""".stripMargin,

    // both snapshot versions chunked by the shared store chain (v2 = the
    // q_merge_upsert edit set materialized as text), hash-only anti-join
    "q_cdc_delta" ->
      s"""WITH v2src AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
         |  FROM documents WHERE NOT (doc_id % 11 = 3)
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, 'new:' || text AS text
         |  FROM documents WHERE doc_id % 13 = 5),
         | ${cdcStoreSql("v1_", "documents")},
         | ${cdcStoreSql("v2_", "v2src")},
         | fresh AS (
         |  SELECT s2.h, s2.len FROM v2_store s2
         |  LEFT JOIN v1_store s1 ON s1.h = s2.h WHERE s1.h IS NULL),
         | tot AS (
         |  SELECT count(*)::BIGINT AS v2_chunks, sum(len)::BIGINT AS v2_chars
         |  FROM v2_store),
         | nw AS (
         |  SELECT coalesce(count(*), 0)::BIGINT AS new_chunks,
         |    coalesce(sum(len), 0)::BIGINT AS new_chars
         |  FROM fresh)
         |SELECT v2_chunks, v2_chars, new_chunks, new_chars,
         |  cast(new_chars AS double) / cast(v2_chars AS double) AS transfer_ratio
         |FROM tot CROSS JOIN nw""".stripMargin,

    // identical integer-cents sums, identical subtract-own-fold
    // arithmetic, one final IEEE division rounded to 6
    "q_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
        |    cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS y
        |  FROM orders),
        | f AS (
        |  SELECT cat, fold, count(*)::BIGINT AS n_f, sum(y)::BIGINT AS s_f
        |  FROM o GROUP BY 1, 2),
        | c AS (
        |  SELECT cat, sum(n_f)::BIGINT AS n_all, sum(s_f)::BIGINT AS s_all
        |  FROM f GROUP BY 1)
        |SELECT f.cat, f.fold, f.n_f,
        |  (c.n_all - f.n_f)::BIGINT AS n_out,
        |  round(cast(c.s_all - f.s_f AS double) /
        |        cast(c.n_all - f.n_f AS double), 6) AS enc_out_cents
        |FROM f JOIN c ON f.cat = c.cat
        |WHERE c.n_all > f.n_f""".stripMargin,

    // the q_scc closure machinery on the denoised (multiplicity >= 2)
    // precedence digraph, extended by the condensation walk: contract
    // labels, take distinct cross-component edges, then a recursive
    // longest-path walk from the sources with UNION dedup ((node, depth)
    // pairs are bounded by components x depth)
    "q_topo_layers" ->
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
        |GROUP BY l.scc""".stripMargin,

    // ------------- distribution-shift / eval analytics (round 9) -------------

    // D's numerator replayed in exact integer arithmetic (DuckDB's BIGINT
    // sums widen to HUGEINT, mirroring the Spark side's decimal(38,0))
    "q_ks_test" ->
      """WITH byval AS MATERIALIZED (
        |  SELECT cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS v,
        |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        | cum AS (
        |  SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cr) OVER (ORDER BY v) AS cum_r
        |  FROM byval),
        | tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cr)::BIGINT AS n_r FROM byval)
        |SELECT n_a, n_r,
        |  cast(max(abs(cum_a * n_r - cum_r * n_a)) AS double) AS d_num,
        |  round(cast(max(abs(cum_a * n_r - cum_r * n_a)) AS double)
        |    / (cast(n_a AS double) * cast(n_r AS double)), 6) AS d_stat
        |FROM cum CROSS JOIN tot
        |GROUP BY n_a, n_r""".stripMargin,

    // risk sets replayed with an exclusive running count over the daily
    // lifetime rollup; the KM factor is the same integer div
    "q_survival_km" ->
      """WITH u AS MATERIALIZED (
        |  SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
        |  FROM events GROUP BY 1),
        | mx AS (SELECT max(l) AS m FROM u),
        | lt AS (
        |  SELECT (l - f) // 86400000000 AS t_days,
        |    CASE WHEN l < m - 604800000000 THEN 1 ELSE 0 END AS ev
        |  FROM u, mx),
        | byt AS MATERIALIZED (
        |  SELECT t_days, count(*)::BIGINT AS ending, sum(ev)::BIGINT AS d
        |  FROM lt GROUP BY 1),
        | tot AS (SELECT sum(ending)::BIGINT AS n FROM byt),
        | cum AS (
        |  SELECT t_days, ending, d,
        |    coalesce(sum(ending) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM byt)
        |SELECT t_days, (n - before)::BIGINT AS n_risk, d AS n_events,
        |  (ending - d)::BIGINT AS n_censored,
        |  (((n - before - d) * 1000000) // (n - before))::BIGINT AS km_factor_fp
        |FROM cum CROSS JOIN tot""".stripMargin,

    // the piecewise-constant CDF-gap integral replayed with windows; cum
    // is referenced twice (self-join on the rank) -> MATERIALIZED
    "q_wasserstein" ->
      """WITH byval AS MATERIALIZED (
        |  SELECT cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS v,
        |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        | cum AS MATERIALIZED (
        |  SELECT v, row_number() OVER (ORDER BY v) - 1 AS r,
        |    sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cr) OVER (ORDER BY v) AS cum_r
        |  FROM byval),
        | tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cr)::BIGINT AS n_r FROM byval),
        | seg AS (
        |  SELECT c.cum_a, c.cum_r, n.v - c.v AS gap
        |  FROM cum c JOIN cum n ON n.r = c.r + 1)
        |SELECT n_a, n_r,
        |  cast(sum(abs(cum_a * n_r - cum_r * n_a) * gap) AS double) AS w1_num,
        |  round(cast(sum(abs(cum_a * n_r - cum_r * n_a) * gap) AS double)
        |    / (cast(n_a AS double) * cast(n_r AS double)), 6) AS w1_cents
        |FROM seg CROSS JOIN tot
        |GROUP BY n_a, n_r""".stripMargin,

    "q_gini" ->
      """WITH spend AS MATERIALIZED (
        |  SELECT o_custkey, sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS x
        |  FROM orders GROUP BY 1),
        | ranked AS (
        |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
        |    count(*) OVER () AS n
        |  FROM spend)
        |SELECT count(*)::BIGINT AS n_units, sum(x)::BIGINT AS total_cents,
        |  round(cast(sum((2 * i - n - 1) * x) AS double)
        |    / (cast(count(*) AS double) * cast(sum(x) AS double)), 6) AS gini_r
        |FROM ranked""".stripMargin,

    "q_benford" -> benfordOracleSql,

    "q_mutual_info" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT lang, source, count(*) AS n_xy FROM documents GROUP BY 1, 2),
        | nx AS (SELECT lang, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
        | ny AS (SELECT source, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
        | nn AS (SELECT sum(n_xy)::BIGINT AS n FROM cells)
        |SELECT lang, source, n_xy, n_x, n_y,
        |  cast(floor((cast(n_xy AS double) / cast(n AS double))
        |    * ln((cast(n_xy AS double) * cast(n AS double))
        |        / (cast(n_x AS double) * cast(n_y AS double)))
        |    * 1e6 + 0.5) AS bigint) AS mi_unats
        |FROM cells JOIN nx USING (lang) JOIN ny USING (source) CROSS JOIN nn""".stripMargin,

    "q_changepoint" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT date_trunc('day', l_shipdate) AS day,
        |    sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS rev_c
        |  FROM lineitem GROUP BY 1),
        | scored AS (
        |  SELECT day AS change_day,
        |    count(*) OVER ()::BIGINT AS n_days,
        |    abs(count(*) OVER () * (sum(rev_c) OVER (ORDER BY day))
        |      - row_number() OVER (ORDER BY day) * (sum(rev_c) OVER ())) AS dev_exact
        |  FROM daily)
        |SELECT change_day, n_days, dev_exact::DOUBLE AS dev_abs
        |FROM scored ORDER BY dev_exact DESC, change_day LIMIT 1""".stripMargin,

    "q_cramers_v" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS n_xy
        |  FROM orders GROUP BY 1, 2),
        | nx AS (SELECT x, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
        | ny AS (SELECT y, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
        | dims AS (SELECT sum(n_xy)::BIGINT AS n, count(DISTINCT x)::BIGINT AS r,
        |   count(DISTINCT y)::BIGINT AS c FROM cells),
        | terms AS (
        |  SELECT n, r, c,
        |    cast(floor(
        |      (cast(n_xy AS double) - cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
        |      * (cast(n_xy AS double) - cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
        |      / (cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
        |      * 1e6 + 0.5) AS bigint) AS term
        |  FROM cells JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN dims)
        |SELECT n, r, c, sum(term)::BIGINT AS chi2_micro,
        |  round(sqrt((cast(sum(term) AS double) / 1e6)
        |    / (cast(n AS double) * cast(least(r - 1, c - 1) AS double))), 6) AS cramers_v_r
        |FROM terms GROUP BY n, r, c""".stripMargin,

    // the md5 gate replayed with a COMPUTED threshold (t/n_s int/int IEEE
    // division, floor * 2^32 — same doubles in both engines); membership
    // pinned by the kept-set BIT_XOR, not just counts
    "q_stratified_sample" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
        | tgt AS (SELECT min(n_s)::BIGINT AS t FROM counts),
        | kept AS (
        |  SELECT d.lang, d.doc_id
        |  FROM documents d JOIN counts USING (lang) CROSS JOIN tgt
        |  WHERE ('0x' || substr(md5('strat' || coalesce(cast(d.doc_id AS varchar), chr(0) || 'null')), 1, 8))::UBIGINT::BIGINT
        |    < cast(floor((cast(t AS double) / cast(n_s AS double)) * 4294967296.0) AS bigint)),
        | agg AS (
        |  SELECT lang, count(*)::BIGINT AS n_kept, bit_xor(doc_id)::BIGINT AS kept_fp
        |  FROM kept GROUP BY 1)
        |SELECT c.lang, c.n_s::BIGINT AS n_total,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(a.kept_fp, 0)::BIGINT AS kept_fp
        |FROM counts c LEFT JOIN agg a USING (lang)""".stripMargin,

    // the Bloom bits are engine-local; the oracle recomputes both exact
    // populations and asserts the membership/FPR booleans Spark computed
    "q_bloom_fpr" ->
      """SELECT (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS n_members,
        |  (SELECT count(*) FROM customer)::BIGINT AS n_probes,
        |  TRUE AS no_false_negatives, TRUE AS fpr_within_bound""".stripMargin
  )

  /** The q_ivfpq_topk oracle: [[ivfChainSql]]'s bucket assignment and
    * probe selection (its trailing scored/ranked CTEs go unused — DuckDB
    * never evaluates an unreferenced CTE) joined against the q_pq_topk
    * chain's codebooks, codes, and per-query lookup tables, with the ADC
    * aggregation restricted to probed buckets. Same fixed-order squared
    * sum, same (adc, neighbor_id) rank. */
  private def ivfPqOracleSql: String =
    s"""WITH ${ivfChainSql(8)},
       | pqparams AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
       | pqcand AS (
       |  SELECT cast(vec_id AS varchar) AS sid,
       |    list_transform(embedding, x -> cast(x AS double)) AS v
       |  FROM embeddings, pqparams
       |  WHERE embedding IS NOT NULL
       |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
       | donors AS (
       |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
       |  FROM pqcand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
       | subs AS (SELECT unnest(range(4)) AS sub),
       | dists AS (
       |  SELECT c.vec_id, s.sub, d.cid,
       |    sqrt(list_dot_product(
       |      list_transform(range(1, 17), i -> c.vec[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
       |      list_transform(range(1, 17), i -> c.vec[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
       |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
       | best AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM dists)
       |  WHERE rn = 1),
       | qlut AS (
       |  SELECT q.qid, s.sub, d.cid,
       |    sqrt(list_dot_product(
       |      list_transform(range(1, 17), i -> q.qvec[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
       |      list_transform(range(1, 17), i -> q.qvec[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS qdist
       |  FROM q CROSS JOIN subs s CROSS JOIN donors d),
       | adcx AS (
       |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
       |    ((max(CASE WHEN b.sub = 0 THEN l.qdist * l.qdist END)
       |     + max(CASE WHEN b.sub = 1 THEN l.qdist * l.qdist END))
       |     + max(CASE WHEN b.sub = 2 THEN l.qdist * l.qdist END))
       |     + max(CASE WHEN b.sub = 3 THEN l.qdist * l.qdist END) AS d
       |  FROM assigned a
       |  JOIN probes p ON a.centroid_id = p.centroid_id
       |  JOIN best b ON b.vec_id = a.vec_id
       |  JOIN qlut l ON l.qid = p.qid AND l.sub = b.sub AND l.cid = b.cid
       |  WHERE a.vec_id <> p.qid
       |  GROUP BY 1, 2),
       | rankedx AS (
       |  SELECT query_id, neighbor_id, d,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |  FROM adcx)
       |SELECT query_id, neighbor_id, round(d, 4) AS adc_r, rank
       |FROM rankedx WHERE rank <= 5""".stripMargin

  /** The q_benford oracle: expected shares are the SAME log10(1+1/d)
    * double literals [[BenfordShare]] embeds in the Spark plan — Scala
    * Double.toString round-trips, so both engines read the identical
    * bit pattern and neither computes a log. */
  private def benfordOracleSql: String = {
    val shares = BenfordShare.map { case (d, sh) => s"WHEN $d THEN $sh" }.mkString(" ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT cast(substr(cast(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS varchar), 1, 1) AS bigint) AS digit
       |  FROM orders),
       | byd AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
       | tot AS (SELECT sum(n_obs)::BIGINT AS n FROM byd)
       |SELECT digit, n_obs,
       |  round(cast(n AS double) * (CASE digit $shares END), 6) AS expected_r,
       |  round((cast(n_obs AS double) - cast(n AS double) * (CASE digit $shares END))
       |    * (cast(n_obs AS double) - cast(n AS double) * (CASE digit $shares END))
       |    / (cast(n AS double) * (CASE digit $shares END)), 6) AS chi2_term_r
       |FROM byd CROSS JOIN tot""".stripMargin
  }

  /** One content-defined chunk store (hash, len) as a CTE chain under a
    * name prefix — shared by the q_cdc_delta oracle's two snapshot
    * versions. */
  private def cdcStoreSql(pfx: String, srcCte: String): String =
    s"""${pfx}base AS (
       |  SELECT doc_id, text, length(text) AS n FROM $srcCte WHERE text IS NOT NULL),
       | ${pfx}pos AS (
       |  SELECT doc_id, text, n, g.i AS pos
       |  FROM ${pfx}base, generate_series(16, 10000) AS g(i) WHERE g.i <= n),
       | ${pfx}bnd AS (
       |  SELECT doc_id, pos FROM ${pfx}pos
       |  WHERE ('0x' || substr(md5('cdc:' || substr(text, pos - 15, 16)), 1, 15))::UBIGINT % 64 = 0),
       | ${pfx}starts AS (
       |  SELECT doc_id, 1 AS s FROM ${pfx}base
       |  UNION ALL
       |  SELECT doc_id, pos + 1 AS s FROM ${pfx}bnd),
       | ${pfx}segs AS (
       |  SELECT doc_id, s, lead(s) OVER (PARTITION BY doc_id ORDER BY s) - 1 AS e0
       |  FROM ${pfx}starts),
       | ${pfx}chunks AS (
       |  SELECT sg.doc_id,
       |    substr(b.text, sg.s::INT, (coalesce(sg.e0, b.n) - sg.s + 1)::INT) AS chunk
       |  FROM ${pfx}segs sg JOIN ${pfx}base b USING (doc_id)
       |  WHERE coalesce(sg.e0, b.n) >= sg.s),
       | ${pfx}store AS (
       |  SELECT md5(chunk) AS h, min(length(chunk)) AS len
       |  FROM ${pfx}chunks GROUP BY 1)""".stripMargin

  /** MMR weights, shared by the plan and the generated oracle. lambda is
    * the literal 0.7; the diversity weight is the ONE Scala subtraction
    * `1.0 - 0.7` (= 0.30000000000000004 in IEEE), interpolated verbatim
    * into the SQL so both engines weight with bit-identical constants. */
  private val MmrLambda: Double = 0.7
  private val MmrOneMinus: Double = 1.0 - MmrLambda

  /** The q_mmr_rerank oracle: exact top-10 candidates + pairwise sims,
    * then the five greedy rounds unrolled as chained CTEs — anti-join the
    * picked set, grouped max of sims to picked, literal-weighted score,
    * rank-1 pick under (score DESC, id). */
  private def mmrOracleSql: String = {
    val lam = MmrLambda.toString
    val om = MmrOneMinus.toString
    def cos(a: String, b: String): String =
      s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0
         |       ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
         |  END""".stripMargin
    val rounds = (2 to 5).map { r =>
      val pk = (1 until r).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s""" rem$r AS (
         |  SELECT c.* FROM cand10 c
         |  LEFT JOIN ($pk) p
         |    ON p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
         |  WHERE p.neighbor_id IS NULL),
         | ms$r AS (
         |  SELECT rm.query_id, rm.neighbor_id, rm.rel, max(sp.sim) AS ms
         |  FROM rem$r rm
         |  JOIN ($pk) p ON p.query_id = rm.query_id
         |  JOIN simp sp ON sp.query_id = rm.query_id
         |    AND sp.n1 = rm.neighbor_id AND sp.n2 = p.neighbor_id
         |  GROUP BY 1, 2, 3),
         | sel$r AS (
         |  SELECT query_id, neighbor_id, $r AS mmr_rank, score FROM (
         |    SELECT query_id, neighbor_id, $lam * rel - $om * ms AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $lam * rel - $om * ms DESC, neighbor_id) AS rn
         |    FROM ms$r)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
       |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
       | corpus AS (
       |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
       |  FROM embeddings WHERE embedding IS NOT NULL),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    ${cos("c.vec", "q.qvec")} AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | cand10 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cosine AS rel FROM (
       |    SELECT query_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank <= 10),
       | cv AS (
       |  SELECT cd.query_id, cd.neighbor_id, co.vec
       |  FROM cand10 cd JOIN corpus co ON co.vec_id = cd.neighbor_id),
       | half AS (
       |  SELECT a.query_id, a.neighbor_id AS n1, b.neighbor_id AS n2,
       |    ${cos("a.vec", "b.vec")} AS sim
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
       | simp AS MATERIALIZED (
       |  SELECT query_id, n1, n2, sim FROM half
       |  UNION ALL
       |  SELECT query_id, n2 AS n1, n1 AS n2, sim FROM half),
       | sel1 AS (
       |  SELECT query_id, neighbor_id, 1 AS mmr_rank, score FROM (
       |    SELECT query_id, neighbor_id, $lam * rel AS score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $lam * rel DESC, neighbor_id) AS rn
       |    FROM cand10)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, neighbor_id, mmr_rank, round(score, 6) AS score_r
       |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       |      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
       |      UNION ALL SELECT * FROM sel5)""".stripMargin
  }

  /** nDCG@10 discount reciprocals 1/log2(i+1), computed ONCE in Scala and
    * embedded as full-precision literals in both the Spark plan and the
    * generated oracle SQL — Double.toString round-trips, so both engines
    * multiply by bit-identical constants. */
  private val NdcgRecip: Map[Int, Double] =
    (1 to 10).map(i => i -> 1.0 / (math.log(i + 1.0) / math.log(2.0))).toMap

  /** Ideal DCG@10: the exact top-10 in order, rel = 11-i — same fixed
    * left-associated chain as the per-query DCG. */
  private val NdcgIdeal: Double =
    (1 to 10).map(i => (11 - i).toDouble * NdcgRecip(i)).reduce(_ + _)

  /** The q_retrieval_ndcg oracle: the nprobe-4 IVF chain, the exact
    * top-10 grades, and the identical fixed-order DCG chain with the same
    * literal reciprocals. */
  private def retrievalNdcgOracleSql: String = {
    val dcgChain = (1 to 10).map(i =>
      s"(coalesce(max(CASE WHEN rank = $i THEN rel END), 0)::DOUBLE * ${NdcgRecip(i)})")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH ${ivfChainSql(4)},
       | approx AS (SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
       |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
       |    END AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | exact AS (
       |  SELECT query_id, neighbor_id, 11 - rank AS rel FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank <= 10),
       | graded AS (
       |  SELECT a.query_id, a.rank, coalesce(e.rel, 0)::BIGINT AS rel
       |  FROM approx a LEFT JOIN exact e
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
       |SELECT query_id,
       |  round($dcgChain, 6) AS dcg_r,
       |  round($dcgChain / $NdcgIdeal, 6) AS ndcg_r
       |FROM graded GROUP BY query_id""".stripMargin
  }

  /** The q_mrr oracle: the same nprobe-4 IVF chain, the exact non-self
    * top-1 target, and the identical single division per query. */
  private def mrrOracleSql: String =
    s"""WITH ${ivfChainSql(4)},
       | approx AS (SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
       |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
       |    END AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | target AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank = 1),
       | hit AS (
       |  SELECT a.query_id, a.rank::BIGINT AS target_rank
       |  FROM approx a JOIN target t
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)
       |SELECT q.qid AS query_id, h.target_rank,
       |  CASE WHEN h.target_rank IS NULL THEN cast(0 AS double)
       |  ELSE cast(1 AS double) / h.target_rank END AS rr
       |FROM q LEFT JOIN hit h ON h.query_id = q.qid""".stripMargin

  /** The q_ann_tuning oracle: the q_ivf_recall chain instantiated per
    * nprobe point (shared exact ground-truth definition inside each
    * scope), aggregated to the macro recall row the Spark side emits. */
  private def annTuningOracleSql: String =
    Seq(1, 2, 4, 8).map { np =>
      s"""SELECT * FROM (
         |WITH ${ivfChainSql(np)},
         | approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         | escored AS (
         |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
         |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
         |    END AS cosine
         |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
         | exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM escored)
         |  WHERE rank <= 5),
         | per_q AS (
         |  SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT $np AS nprobe, count(*)::BIGINT AS n_queries,
         |  sum(n_hits)::BIGINT AS total_hits,
         |  cast(sum(n_hits) AS double) / cast(count(*) * 5 AS double) AS macro_recall
         |FROM per_q)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")

  /** The q_fk_sketch oracle, generated per candidate (same four
    * child->parent pairs, same k = 256). */
  private val fkSketchOracleSql: String = {
    def cand(name: String, childTbl: String, ck: String,
        parentTbl: String, pk: String): String =
      s"""SELECT '$name' AS candidate, n_union_sample, n_child_sample, n_both, containment_est FROM (
         |WITH c AS (SELECT DISTINCT md5(cast($ck AS varchar)) AS h FROM $childTbl WHERE $ck IS NOT NULL),
         | p AS (SELECT DISTINCT md5(cast($pk AS varchar)) AS h FROM $parentTbl WHERE $pk IS NOT NULL),
         | u AS (SELECT h FROM (SELECT h FROM c UNION SELECT h FROM p) ORDER BY h LIMIT 256),
         | j AS (SELECT u.h, c.h IS NOT NULL AS in_c, p.h IS NOT NULL AS in_p
         |       FROM u LEFT JOIN c ON u.h = c.h LEFT JOIN p ON u.h = p.h)
         |SELECT count(*)::BIGINT AS n_union_sample,
         |  sum(CASE WHEN in_c THEN 1 ELSE 0 END)::BIGINT AS n_child_sample,
         |  sum(CASE WHEN in_c AND in_p THEN 1 ELSE 0 END)::BIGINT AS n_both,
         |  cast(sum(CASE WHEN in_c AND in_p THEN 1 ELSE 0 END) AS double) /
         |  cast(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS double) AS containment_est
         |FROM j)""".stripMargin
    Seq(
      ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("part.p_size->nation.n_nationkey", "part", "p_size", "nation", "n_nationkey"))
      .map((cand _).tupled)
      .mkString("", "\nUNION ALL\n", "")
  }
}
