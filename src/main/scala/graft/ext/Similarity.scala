package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.NativeExpressions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact. Queries are broadcast, so the corpus is
  *    scanned once with zero shuffle of corpus rows; the only shuffle is
  *    the final per-query top-k (tiny: k × queries rows after local
  *    pre-pruning via window). Right up to ~10k queries at any corpus size.
  *  - [[ivfTopK]]: IVF-style. The corpus is bucketed once by nearest
  *    centroid (a one-off job, reusable across queries); each query probes
  *    only `nprobe` buckets, cutting scanned rows by ~nlist/nprobe.
  */
object Similarity {

  /** Exact top-k cosine neighbors per query.
    * @param queries (qidCol, qvecCol) — small, broadcast.
    * @return (query_id, neighbor_id, cosine, rank) */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val scored = scoredPairs(corpus, idCol, vecCol, queries, qidCol, qvecCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** All (query, candidate) cosine scores. Inputs are re-aliased to
    * internal names BEFORE the cross join, so queries sampled from the
    * corpus itself (identical column names) never hit an
    * ambiguous-reference error; NULL vectors are excluded on both sides
    * (they cannot be scored). */
  private def scoredPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String): DataFrame = {
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec"))
    val q = queries.where(col(qvecCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("__qvec"))
    c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        NativeExpressions.cosine(col("__cvec"), col("__qvec")).as("cosine"))
      // cosine is NULL for corrupt rows (dimension mismatch / zero norm);
      // drop them HERE so the window path (NULLs sort last, may leak into
      // rank≤k on tiny corpora) and the typed-aggregator path (NULL score
      // in a non-nullable field) stay equivalent on corrupt data
      .where(col("cosine").isNotNull)
  }

  /** Exact top-k via the bounded-heap [[graft.plans.TopKAggregator]]:
    * same answer as [[bruteForceTopK]], different physical shape — a
    * hash aggregation with map-side combine instead of a window sort, so
    * each map task ships at most k rows per query to the exchange and the
    * per-group sort disappears (the heap content is already ordered).
    * Preferred at very large candidate volumes. */
  def bruteForceTopKAgg(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    import graft.plans.TopKAggregator
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the aggregator's buffer encodes ids as Long; reject other id types
    // loudly instead of failing inside the encoder (bruteForceTopK is the
    // any-id-type path)
    val idType = corpus.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"bruteForceTopKAgg needs an integral id column, got $idType — use bruteForceTopK")
    val scored = scoredPairs(corpus, idCol, vecCol, queries, qidCol, qvecCol)
    scored
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "hit")))
      .select(
        col("query_id"),
        col("hit.id").as("neighbor_id"),
        col("hit.score").as("cosine"),
        (col("rank0") + 1).as("rank"))
  }

  /** Recall@k report of an approximate top-k against the exact one: one
    * row per query with the overlap size and recall fraction. Both inputs
    * are (query_id, neighbor_id, …) top-k frames (k rows per query). The
    * join keys are (query_id, neighbor_id) — tiny frames, broadcast by AQE. */
  def recallReport(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left_outer")
    hits.groupBy(col("query_id"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / k).as("recall_at_k"))
  }

  /** Deterministic IVF centroids: a hash-based sample of ~nlist corpus
    * vectors, materialized as a LOCAL relation — the sample is nlist-sized
    * by construction and every consumer (assignment, query probes) needs it
    * collected/broadcast anyway, so centroid ids are assigned on the driver
    * rather than through a global (single-partition) row_number window.
    * The gate is the engine-portable md5-prefix idiom (one md5 per corpus
    * row — noise next to the per-row distance math), so an external engine
    * can reproduce the centroid set exactly: the q_embed_ivf_topk oracle
    * rebuilds the whole IVF chain in SQL from this gate. K-means
    * refinement is an optional upgrade; the bucketing plumbing is
    * identical. */
  def sampleCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val n = corpus.count()
    val stride = math.max(n / nlist, 1L)
    // 60-bit portable gate (15 md5 hex chars — DuckDB twin:
    // ('0x' || substr(md5('ivf:' || cast(id AS varchar)), 1, 15))::UBIGINT).
    // A 32-bit prefix degenerates once stride exceeds 2^32 (gate % stride
    // == 0 then selects only the ~n/2^32 rows whose prefix is zero —
    // a biased, fixed-size "sample" at the 100 TB row counts this targets);
    // 60 bits keeps the stride ceiling above 10^18 rows
    val gate = graft.functions.HashFunctions.md5PrefixLong("ivf:", col(idCol), 15)
    // a NULL vector can never serve as a centroid (typedlit would embed a
    // null literal and every distance against it would be NULL); the SQL
    // oracle applies the same filter
    val sample = corpus
      .where(col(vecCol).isNotNull && gate % stride === 0)
      .select(col(idCol).cast("string").as("__sid"), col(vecCol).as("cvec"))
    val rows = sample.collect().sortBy(_.getString(0)).take(nlist)
    require(rows.nonEmpty, "no centroids sampled")
    val schema = StructType(Seq(
      StructField("centroid_id", IntegerType, nullable = false),
      sample.schema("cvec")))
    val local = rows.zipWithIndex.map { case (r, i) => Row(i, r.get(1)) }
    corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(local.toIndexedSeq: _*), schema)
  }

  /** Assign every corpus vector to its nearest centroid in ONE narrow
    * projection: centroids are collected (nlist is small by construction)
    * and unrolled as literal expressions, so the argmin is an `array_min`
    * over per-centroid distance structs — no crossJoin, no per-row window,
    * no shuffle of the corpus. The result can be written bucketed-by
    * `centroid_id` and reused for every subsequent query batch. */
  def assignToCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("cvec")).collect()
    require(cents.nonEmpty, "no centroids sampled")
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val isFloat = centroids.schema("cvec").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val candidates = cents.map { r =>
      val cid = r.getInt(0)
      val cvec =
        if (isFloat) typedlit(r.getSeq[Float](1))
        else typedlit(r.getSeq[Double](1))
      struct(
        NativeExpressions.euclidean(col(vecCol), cvec).as("dist"),
        lit(cid).as("cid"))
    }
    // NULL vectors cannot be assigned (a NULL dist field would sort FIRST
    // in array_min and silently dump the row into centroid 0)
    corpus
      .where(col(vecCol).isNotNull)
      .withColumn("__best", array_min(array(candidates.toIndexedSeq: _*)))
      .withColumn("centroid_id", col("__best.cid"))
      .drop("__best")
  }

  /** Cosine-argmax centroid assignment (the SemDeDup bucketing shape):
    * the same narrow unrolled-literal projection as [[assignToCentroids]],
    * but "nearest" is HIGHEST cosine rather than lowest euclidean — so any
    * two vectors on the same ray land in the same bucket regardless of
    * magnitude, the property semantic dedup needs (near-duplicate
    * embeddings differ in direction, not norm). Implemented as an
    * `array_min` over `(-cosine, centroid_id)` structs: negation is exact
    * in IEEE, and the struct order reproduces the SQL oracle's
    * `ORDER BY cosine DESC, centroid_id` tie-break bit-for-bit. Rows whose
    * cosine to every centroid is NULL (corrupt dimension) are dropped —
    * a NULL field would sort FIRST in array_min and silently dump the row
    * into a real bucket. */
  def assignToCentroidsCosine(
      corpus: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("cvec")).collect()
    require(cents.nonEmpty, "no centroids sampled")
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val isFloat = centroids.schema("cvec").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val candidates = cents.map { r =>
      val cid = r.getInt(0)
      val cvec =
        if (isFloat) typedlit(r.getSeq[Float](1))
        else typedlit(r.getSeq[Double](1))
      struct(
        (-NativeExpressions.cosine(col(vecCol), cvec)).as("negcos"),
        lit(cid).as("cid"))
    }
    corpus
      .where(col(vecCol).isNotNull)
      .withColumn("__best", array_min(array(candidates.toIndexedSeq: _*)))
      .where(col("__best.negcos").isNotNull)
      .withColumn("centroid_id", col("__best.cid"))
      .drop("__best")
  }

  /** Lloyd (k-means) refinement of a centroid table: assign every corpus
    * vector to its nearest centroid (narrow projection), then recompute
    * each centroid as the element-wise mean of its members — one
    * `posexplode` + one (centroid, dim)-keyed aggregation per iteration,
    * shuffle volume = corpus dims, result nlist×dim (tiny, re-collected
    * into a fresh local relation). Centroids that lose all members keep
    * their previous position. Refined centroids tighten buckets, which
    * raises recall at the same nprobe.
    *
    * The mean is QUANTIZED: coordinates are rounded to 1e-6 per row and
    * summed as longs (the repo's cents idiom), so the result is exact,
    * summation-order-independent, and reproducible by any engine — a raw
    * double `avg` depends on partial-sum order, which would break both
    * run-to-run determinism of the bucketing and the DuckDB oracle that
    * replays this pass in SQL. The ≤5e-7 per-coordinate quantization
    * error is noise at clustering granularity. */
  def refineCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, iterations: Int = 1): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    var current = centroids
    for (_ <- 1 to iterations) {
      val assigned = assignToCentroids(corpus, idCol, vecCol, current)
      val means = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg((sum(floor(col("x").cast("double") * lit(1.0e6d) + lit(0.5d)).cast("long"))
          .cast("double") / (count(lit(1)) * lit(1.0e6d))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), col("pm.m").as("cvec"))
        .collect()
      val meanMap = means.map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      val prev = current.collect().map { r =>
        val cid = r.getInt(0)
        val kept = meanMap.get(cid).map(_.toIndexedSeq).getOrElse {
          // empty bucket: keep the old position (as doubles). Match the
          // COLLECTION root, not immutable.Seq — Spark rows hand back
          // mutable.ArraySeq wrappers in 2.13, which a bare `Seq[_]`
          // (= immutable.Seq) pattern silently fails on (MatchError
          // first seen when a 5x-scaled probe produced an empty bucket)
          r.get(1) match {
            case s: scala.collection.Seq[_] => s.iterator.map {
              case f: Float => f.toDouble
              case d: Double => d
            }.toIndexedSeq
          }
        }
        Row(cid, kept)
      }
      val schema = StructType(Seq(
        StructField("centroid_id", IntegerType, nullable = false),
        StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false)))
      current = corpus.sparkSession.createDataFrame(
        java.util.Arrays.asList(prev.toIndexedSeq: _*), schema)
    }
    current
  }

  /** IVF top-k: probe the `nprobe` nearest centroids per query, exact
    * cosine within the probed buckets only. `refineIters` Lloyd passes
    * tighten the buckets first (0 = raw hash-sampled centroids). */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 64, nprobe: Int = 8, refineIters: Int = 0): DataFrame = {
    // the centroid table is already a local relation: evaluated once,
    // reused by assignment and probes, no executor storage pinned
    val centroids0 = sampleCentroids(corpus, idCol, vecCol, nlist)
    val centroids =
      if (refineIters <= 0) centroids0
      else refineCentroids(corpus, idCol, vecCol, centroids0, refineIters)
    val assigned = assignToCentroids(corpus, idCol, vecCol, centroids)
    ivfSearch(assigned, centroids, idCol, vecCol,
      queries, qidCol, qvecCol, k, nprobe)
  }

  /** The SEARCH half of [[ivfTopK]] over a PREBUILT index — `centroids`
    * (centroid_id, cvec) and `assigned` (the corpus with its
    * `centroid_id` column, i.e. [[assignToCentroids]] output, read back
    * from wherever the index was staged). Building the index once and
    * fanning out searches is the production IVF posture: the
    * centroid/refine/assignment passes are query-independent, so a tuning
    * sweep (or any second query batch) must not pay them again. Identical
    * math to the inline path — ivfTopK itself now routes through here. */
  def ivfSearch(
      assigned: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val q = queries.where(col(qvecCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("__qvec"))
    val qw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("centroid_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("dist", NativeExpressions.euclidean(col("__qvec"), col("cvec")))
      .withColumn("__rn", row_number().over(qw))
      .where(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qvec"), col("centroid_id"))

    val scored = assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec"), col("centroid_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        NativeExpressions.cosine(col("__cvec"), col("__qvec")).as("cosine"))
      .where(col("cosine").isNotNull) // same corrupt-row contract as scoredPairs
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-dimension moment profile of an embedding column — the
    * feature-scaling prerequisite (z-score / min-max normalization before
    * clustering or ANN) and the drift check between embedding batches
    * (a dimension whose mean/spread moves between model versions breaks
    * index reuse).
    *
    * Determinism: every value is fixed-pointed to MICRO-units
    * (`floor(v·1e6 + 0.5)` as long — float→double widening is exact) and
    * the moments are LONG sums of those integers: order-independent,
    * engine-portable, no IEEE accumulation anywhere. Emitted mean divides
    * two exact integers and rounds 6dp; min/max are integer-exact.
    * Long-sum headroom: Σ fp² per dimension overflows past ~9e18 — at
    * unit-normalized values (fp ≤ 1e6, fp² ≤ 1e12) that is ~9M rows per
    * dimension per PARTIAL sum; beyond that, widen the quantum to 1e3 or
    * sum as decimal(38,0) (same plan shape, documented in SCALE.md).
    *
    * Scale: posexplode is a narrow per-row expansion (×dims, no shuffle);
    * the rollup groups on `dim` — at most `dims` groups, map-side combined
    * to one row per partition per dim before the (tiny) exchange. */
  /** Product-quantization encoding — the memory-compression half of the
    * ANN story ([[ivfTopK]] is the candidate-pruning half; together they
    * are the standard IVF-PQ layout, Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011). The vector is cut into
    * `nsub` contiguous subspaces; each subspace is encoded as the id of
    * its nearest codebook entry, so a `dim`-float vector compresses to
    * `nsub` small ints (64 floats -> 4 bytes here, 64:1) while ADC
    * distance lookups stay centroid-table-sized.
    *
    * Codebooks are DETERMINISTIC hash-stride samples (the
    * [[sampleCentroids]] idiom, salt "pq:"): `ncent` donor vectors chosen
    * by the portable md5 gate, each codebook = the donors' slice of that
    * subspace. Sampled codebooks trade a little quantization error for
    * exact cross-engine replayability — the oracle rebuilds codebooks,
    * argmins, and the error sum value-for-value in SQL (k-means-refined
    * codebooks would be the quality upgrade; every consumer is agnostic
    * to how the codebook was trained).
    *
    * Output: (id, c0..c{nsub-1}, err_r) where err_r rounds the FIXED-ORDER
    * sum of per-subspace distances (left-associated — the oracle adds in
    * the same order; unordered SQL sum() over doubles would not replay).
    *
    * Scale: donors are collected once (ncent rows, configuration-bounded)
    * and unrolled as literals; encoding is ONE narrow projection per row —
    * `array_min` over per-centroid distance structs per subspace, no
    * crossJoin, no window, no shuffle (PlanSpec pins the shape). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nsub: Int = 4, ncent: Int = 16): DataFrame = {
    require(dim % nsub == 0, s"dim $dim must split evenly into $nsub subspaces")
    val sw = dim / nsub
    val donors = pqDonors(corpus, idCol, vecCol, ncent)
    val bests = (0 until nsub).map { s =>
      val cands = donors.zipWithIndex.map { case (v, cid) =>
        struct(
          graft.plans.NativeExpressions.euclidean(
            slice(col(vecCol), s * sw + 1, sw),
            typedlit(v.slice(s * sw, (s + 1) * sw))).as("dist"),
          lit(cid).as("cid"))
      }
      array_min(array(cands.toIndexedSeq: _*)).as(s"__b$s")
    }
    val withBests = corpus.where(col(vecCol).isNotNull)
      .select((col(idCol) +: bests).toIndexedSeq: _*)
    val codeCols = (0 until nsub).map(s => col(s"__b$s.cid").as(s"c$s"))
    val errSum = (0 until nsub).map(s => col(s"__b$s.dist"))
      .reduce(_ + _) // left-associated: ((d0 + d1) + d2) + d3
    withBests.select(
      (col(idCol) +: codeCols :+ round(errSum, 4).as("err_r")).toIndexedSeq: _*)
  }

  /** The deterministic donor sample behind [[pqEncode]]/[[pqTopK]]:
    * md5-stride gate (salt "pq:"), string-sorted ids, first `ncent` —
    * the [[sampleCentroids]] idiom, collected (ncent rows, bounded by
    * configuration). */
  private def pqDonors(corpus: DataFrame, idCol: String, vecCol: String,
      ncent: Int): Array[Seq[Float]] = {
    val n = corpus.count()
    val stride = math.max(n / ncent, 1L)
    val gate = graft.functions.HashFunctions.md5PrefixLong("pq:", col(idCol), 15)
    val donors = corpus
      .where(col(vecCol).isNotNull && gate % stride === 0)
      .select(col(idCol).cast("string").as("__sid"), col(vecCol).as("__v"))
      .collect().sortBy(_.getString(0)).take(ncent)
      .map(_.getSeq[Float](1))
    require(donors.nonEmpty, "no codebook donors sampled")
    donors
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * search half of IVF-PQ: the query stays un-quantized, every corpus
    * vector is represented by its `nsub` codebook ids, and the distance
    * is the fixed-order sum of per-subspace query→codebook-entry
    * distances. At 100 TB this is the point of PQ: the scan reads
    * `nsub` SMALL INTS per corpus row (not `dim` floats) and each
    * distance is a table lookup — here the per-query lookup tables are
    * unrolled as `element_at` over literal distance arrays (nsub × ncent
    * expressions per query side, codegen-friendly), so the plan is the
    * same broadcast-queries × narrow-corpus-scan shape as
    * [[bruteForceTopK]] with the corpus side now code-width.
    *
    * Deterministic end to end (codes, lookup, fixed-order sum, (adc,
    * neighbor) rank tie-break) — the oracle replays every value.
    * Returns (query_id, neighbor_id, adc_r, rank), rank ≤ k by ASCENDING
    * approximate L2. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, dim: Int, nsub: Int = 4, ncent: Int = 16): DataFrame = {
    require(dim % nsub == 0, s"dim $dim must split evenly into $nsub subspaces")
    val sw = dim / nsub
    val donors = pqDonors(corpus, idCol, vecCol, ncent)
    val codes = pqEncode(corpus, idCol, vecCol, dim, nsub, ncent)
      .select(col(idCol).as("neighbor_id") +:
        (0 until nsub).map(s => col(s"c$s")): _*)
    // per subspace: the query's distance to EVERY codebook entry —
    // MATERIALIZED on the (tiny) query side BEFORE the join, so each
    // lookup table is computed once per QUERY, not once per (query,
    // corpus-row) pair. This is the point of ADC: per scanned code the
    // work is nsub array lookups + adds, never distance math
    val q = queries.where(col(qvecCol).isNotNull)
      .select(col(qidCol).as("query_id") +:
        (0 until nsub).map { s =>
          array(donors.map(d =>
            graft.plans.NativeExpressions.euclidean(
              slice(col(qvecCol), s * sw + 1, sw),
              typedlit(d.slice(s * sw, (s + 1) * sw)))).toIndexedSeq: _*)
            .as(s"__lut$s")
        }: _*)
      .localCheckpoint(true) // bounded (one row per query); compute LUTs once
    // classical ADC: the SQUARED subspace distances sum to the squared
    // distance between the query and the code's reconstruction (Jégou
    // eq. 13). Squared op-for-op on the sqrt'ed kernel output — the
    // oracle squares its sqrt the same way, keeping IEEE equality
    val adc = (0 until nsub).map { s =>
      val e = element_at(col(s"__lut$s"), col(s"c$s") + 1)
      e * e
    }.reduce(_ + _) // fixed order
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id"))
    codes.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adc)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc"), 4).as("adc_r"),
        // long like every other emitted rank — the oracle's row_number is
        // BIGINT and an int32 here is the board's one dtype mismatch
        col("rank").cast("long").as("rank"))
  }

  /** The donor codebook as a (ord, vec) FRAME — [[pqDonors]] made
    * stageable: a staged index must persist its codebooks next to its
    * codes (they are corpus artifacts; queries arrive later), and the
    * search side re-collects the bounded `ncent` rows instead of
    * re-scanning the corpus for the donor sample. */
  def pqDonorsFrame(corpus: DataFrame, idCol: String, vecCol: String,
      ncent: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    pqDonors(corpus, idCol, vecCol, ncent).toSeq.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("ord", "vec")
  }

  /** Collect a [[pqDonorsFrame]] back to the literal codebook array. */
  def collectDonors(donorsDf: DataFrame): Array[Seq[Float]] =
    donorsDf.select(col("ord").cast("int"), col("vec"))
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1))

  /** The query-independent HALF of IVF-PQ top-k — the combined FAISS
    * layout ([[ivfTopK]] prunes candidates to the probed buckets,
    * [[pqTopK]]'s ADC scores them over the PQ codes; the query half is
    * [[ivfPqSearch]]): the coded corpus — IVF bucket argmin + `nsub` PQ
    * code argmins in ONE narrow projection per row (no join between the
    * two halves), (neighbor_id, centroid_id, c0..c{nsub-1}). At 100 TB
    * this is the one-off index build: staged bucketed by `centroid_id`, a
    * query batch reads only the probed buckets at CODE width (nsub small
    * ints per row, not `dim` floats) — IVF's ~nprobe/nlist scan cut
    * compounding PQ's memory cut, which is exactly why the layout is the
    * large-scale default (Jégou et al. 2011, §IV). */
  def ivfPqCodedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, donors: Array[Seq[Float]],
      dim: Int, nsub: Int): DataFrame = {
    require(dim % nsub == 0, s"dim $dim must split evenly into $nsub subspaces")
    val sw = dim / nsub
    val codeCols = (0 until nsub).map { s =>
      val cands = donors.zipWithIndex.map { case (v, cid) =>
        struct(
          NativeExpressions.euclidean(
            slice(col(vecCol), s * sw + 1, sw),
            typedlit(v.slice(s * sw, (s + 1) * sw))).as("dist"),
          lit(cid).as("cid"))
      }
      array_min(array(cands.toIndexedSeq: _*)).getField("cid").as(s"c$s")
    }
    assignToCentroids(corpus, idCol, vecCol, centroids)
      .select((Seq(col(idCol).as("neighbor_id"), col("centroid_id")) ++ codeCols): _*)
  }

  /** The per-query-batch HALF of IVF-PQ top-k over a (possibly staged)
    * [[ivfPqCodedCorpus]]: probe selection + per-query LUTs on the
    * bounded query frame, one broadcast join into the probed code scan,
    * fixed-order squared-ADC sum, (adc, neighbor_id) rank.
    *
    * Deterministic end to end: sampled (+ optionally Lloyd-refined)
    * centroids, md5-stride donor codebooks ([[pqDonorsFrame]]), per-query
    * LUTs materialized once on the (bounded) probe frame, fixed-order
    * squared-ADC sum, (adc, neighbor_id) rank — the SQL oracle replays
    * every value. Returns (query_id, neighbor_id, adc_r, rank), rank ≤ k
    * by ASCENDING approximate L2. */
  def ivfPqSearch(index: DataFrame, centroids: DataFrame, donorsDf: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, dim: Int, nsub: Int): DataFrame = {
    require(dim % nsub == 0, s"dim $dim must split evenly into $nsub subspaces")
    val donors = collectDonors(donorsDf)
    val sw = dim / nsub
    val qw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("centroid_id"))
    val luts = (0 until nsub).map { s =>
      array(donors.map(d =>
        NativeExpressions.euclidean(
          slice(col("__qvec"), s * sw + 1, sw),
          typedlit(d.slice(s * sw, (s + 1) * sw)))).toIndexedSeq: _*)
        .as(s"__lut$s")
    }
    val probes = queries.where(col(qvecCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("__qvec"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", NativeExpressions.euclidean(col("__qvec"), col("cvec")))
      .withColumn("__rn", row_number().over(qw))
      .where(col("__rn") <= nprobe)
      .select((Seq(col("query_id"), col("centroid_id")) ++ luts): _*)
      .localCheckpoint(true) // bounded (queries x nprobe rows); LUTs computed once
    val adc = (0 until nsub).map { s =>
      val e = element_at(col(s"__lut$s"), col(s"c$s") + 1)
      e * e
    }.reduce(_ + _) // fixed order, same chain as the oracle
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id"))
    index.join(broadcast(probes), Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adc)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc"), 4).as("adc_r"), col("rank").cast("long").as("rank"))
  }

  /** INT8 scalar-quantized top-k: the 4×-memory-compression scan path
    * (float32 → int8) every large-scale vector store offers (FAISS
    * `SQ8`). One corpus-wide symmetric scale `s = 127 / max|x|` maps
    * values to `[-127, 127]`; search scores candidates by the INTEGER
    * dot product of the codes — exact int arithmetic, so ranking is
    * deterministic and an engine replaying the same quantizer reproduces
    * scores bit-for-bit (|dot| ≤ 127²·dim ≪ 2⁵³ also makes the double
    * cast in any SQL replay exact). Queries are quantized with the SAME
    * corpus-trained scale, as a production store does (the codebook is a
    * corpus artifact; queries arrive later).
    *
    * Quantization: `floor(x·s + 0.5)` — NOT round(): floor(+0.5) is the
    * one form Spark and DuckDB evaluate identically for negatives too
    * (round() half-up vs half-even diverges at .5 boundaries).
    *
    * Scale: the max|x| stat is one narrow agg broadcast back; codes are
    * a per-row projection (int8 semantics, int32 storage here — a real
    * store packs them to bytes); the scan is the [[bruteForceTopK]]
    * shape — queries broadcast, corpus never shuffles, per-query top-k
    * pruned by the rank window on the (bounded) scored frame. Swap in
    * [[bruteForceTopKAgg]]'s heap for very large k·queries volumes. */
  def int8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val maxAbs = corpus.where(col(vecCol).isNotNull)
      .agg(max(array_max(transform(col(vecCol), x => abs(x.cast("double")))))
        .as("__maxabs"))
      .localCheckpoint(true) // single row; pay the stat scan ONCE, not per consumer
    def codes(v: Column, scale: Column): Column =
      transform(v, x => floor(x.cast("double") * scale + lit(0.5d)).cast("int"))
    val c = corpus.where(col(vecCol).isNotNull)
      .crossJoin(broadcast(maxAbs))
      .select(col(idCol).as("neighbor_id"),
        codes(col(vecCol), lit(127.0d) / col("__maxabs")).as("__cc"))
    val q = queries.where(col(qvecCol).isNotNull)
      .crossJoin(broadcast(maxAbs))
      .select(col(qidCol).as("query_id"),
        codes(col(qvecCol), lit(127.0d) / col("__maxabs")).as("__qc"))
    val idot = aggregate(
      zip_with(col("__cc"), col("__qc"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__idot").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__idot", idot)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("__idot").as("idot"), col("rank").cast("long").as("rank"))
  }

  def dimensionStats(df: DataFrame, vecCol: String): DataFrame = {
    val fp = floor(col("v").cast("double") * lit(1e6d) + lit(0.5d)).cast("long")
    df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("dim"), fp.as("fp"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("fp")).as("sum_fp"),
        sum(col("fp") * col("fp")).as("ssq_fp"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .select(col("dim"), col("n"), col("sum_fp"), col("ssq_fp"),
        col("min_fp"), col("max_fp"),
        round(col("sum_fp").cast("double") / (col("n").cast("double") * lit(1e6d)), 6)
          .as("mean"))
  }

  /** Anisotropy profile of an embedding corpus: the distribution of
    * cosine(vector, corpus centroid) — the QC check run before trusting
    * cosine ANN over the space (a cone-collapsed space concentrates all
    * mass in the top bins; Ethayarajh 2019 made this the standard
    * embedding diagnostic). The centroid is the micro-quantized exact
    * mean ([[refineCentroids]]'s discipline: per-dim bigint sums, one
    * division — order-independent, so any engine rebuilds it
    * bit-identically); cosines are micro-quantized BEFORE binning so the
    * bin boundary is integer arithmetic, and the report is integer
    * counts + integer micro-sums only.
    *
    * Scale: one posexplode aggregation for the centroid (rows × dims,
    * map-combined), one broadcast of the single-row mean, one per-row
    * cosine scan, one bins-sized rollup — no corpus shuffle. */
  def embeddingProfile(emb: DataFrame, idCol: String, vecCol: String,
      bins: Int = 10): DataFrame = {
    import graft.plans.NativeExpressions
    val v = emb.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("vec"))
    val mean = v.select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg((sum(floor(col("x") * lit(1.0e6d) + lit(0.5d)).cast("long"))
        .cast("double") / (count(lit(1)) * lit(1.0e6d))).as("m"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("pm.m").as("mean_vec"))
    v.crossJoin(broadcast(mean))
      .select(floor(NativeExpressions.cosine(col("vec"), col("mean_vec"))
        * lit(1.0e6d) + lit(0.5d)).cast("long").as("cm"))
      .select(least(greatest(
          expr(s"(cm + 1000000) * $bins div 2000000"), lit(0L)),
          lit((bins - 1).toLong)).as("cos_bin"),
        col("cm"))
      .groupBy(col("cos_bin"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("cm")).as("sum_cos_micro"))
  }
}
