package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{HashFunctions => H}
import graft.plans.NativeExpressions

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: every variant is (narrow per-row signature) →
  * (one shuffle on the signature/bucket key) → (bounded verify). No
  * cross-join ever touches the full corpus; candidate generation is always
  * LSH-bucketed so the worst case is per-bucket quadratic, bounded by
  * bucket size, not corpus size. Bucket joins carry only (id, bucket) —
  * payloads (shingle sets, vectors) are re-joined by id after the
  * candidate pairs are deduplicated. Nothing is cached: signatures are
  * cheap native expressions (graft.plans), so recomputation beats pinning
  * executor storage for the query's lifetime.
  */
object Dedup {

  /** Content hash over `cols`: md5 over unit-separated, null-sentinel'd
    * values. The separator prevents boundary collisions ("ab","c" vs
    * "a","bc"); the sentinel keeps null distinct from empty and from a
    * missing middle column (bare concat_ws skips nulls entirely). */
  def contentHash(cols: Seq[Column]): Column =
    md5(concat_ws("\u001f", cols.map(c => coalesce(c.cast("string"), lit("\u0000null"))): _*))

  /** Exact-duplicate groups: one row per distinct content with the kept
    * (minimum) id and the duplicate count. One shuffle. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(contentHash(cols.map(col)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the minimum-id row per content group —
    * deterministic, unlike dropDuplicates. */
  def exactDedup(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(contentHash(cols.map(col))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Shared MinHash-LSH near-dup pipeline: band-bucket candidates over
    * (id, bucket) only, distinct pairs, exact shingle-Jaccard verify via
    * two id-joins. Returns (id_a, id_b, jaccard) with id_a < id_b. */
  private def lshNearDuplicates(
      df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    // candidate branch: signature+banding fused into ONE native expression
    // so the generator evaluates it once per row (a composed HOF banding
    // lambda would re-run the signature per band — see graft.plans).
    // Empty shingle sets (empty/whitespace-only text) produce NULL bands
    // inside that same evaluation and posexplode drops them — they all
    // share the degenerate all-MaxValue signature, so a corpus with many
    // empty docs would otherwise pair them quadratically; exact dedup is
    // the right tool for empties. (A separate size(shingles)>0 filter
    // would re-evaluate the shingle expression once per row.)
    val buckets = df.select(
      col(idCol).as("id"),
      posexplode(NativeExpressions.minhashBands(shingles, numHashes, bands))
        .as(Seq("band", "bhash")))
    val a = buckets.select(col("band"), col("bhash"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("bhash"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bhash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify branch: shingle sets only, joined per deduped pair
    val sh = df.select(col(idCol).as("id"), shingles.as("shingles"))
    val shA = sh.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", H.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Character-shingle MinHash+LSH near-duplicate pairs. */
  def minhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    lshNearDuplicates(df, idCol,
      NativeExpressions.charShingles(col(textCol), shingleSize), numHashes, bands, threshold)

  /** Word n-gram Jaccard near-duplicates — the same LSH pipeline over word
    * shingles. */
  def ngramJaccardNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame =
    lshNearDuplicates(df, idCol,
      NativeExpressions.wordShingles(col(textCol), ngram), numHashes, bands, threshold)

  /** SimHash near-duplicates: 64-bit fingerprints, pigeonhole 16-bit band
    * bucketing, Hamming verify. Finds pairs within `maxHamming` (≤ 3 is
    * guaranteed by the 4-band pigeonhole; larger values may miss pairs). */
  def simhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // fused tokenize+hash, one loop per row; token-less docs get a NULL
    // fingerprint (they all hash to the degenerate fp=0 otherwise — same
    // quadratic-pairing hazard as empty shingle sets) and exit the
    // pipeline at posexplode via the null-propagated band array. The
    // md5-lower-64 token family lets a SQL engine rebuild the fingerprints.
    val fps = df.select(col(idCol).as("id"),
      NativeExpressions.simhashTextPortable(col(textCol)).as("fp"))
    val bandArr = when(col("fp").isNull, lit(null)).otherwise(H.simhashBands(col("fp")))
    val buckets = fps.select(col("id"), posexplode(bandArr).as(Seq("band", "bval")))
    val a = buckets.select(col("band"), col("bval"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("bval"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bval"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val fpA = fps.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val fpB = fps.select(col("id").as("id_b"), col("fp").as("fp_b"))
    candidates.join(fpA, "id_a").join(fpB, "id_b")
      .select(col("id_a"), col("id_b"), H.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Resolve near-duplicate PAIRS into clusters and pick one keeper per
    * cluster (transitive closure: chains a-b, b-c collapse into one
    * cluster, keeper = minimum id). Returns (id, keep_id) for every id
    * that appears in a pair.
    *
    * Two-tier execution: verified near-dup pair sets are tiny relative to
    * the corpus (LSH + verify has already reduced them), so up to
    * `localPairLimit` pairs the closure runs as a driver union-find and
    * returns a broadcastable local relation — any distributed CC pays
    * seconds of scheduling even on a 50-edge graph. Past the limit
    * (pathological corpora at the 100 TB end) it falls back to
    * [[graft.graph.GraphOps.connectedComponentsStar]]: O(log n) rounds of
    * pure equi-joins directly on the ORIGINAL id column (integer min and
    * string min are equally deterministic), no dense-id translation, no
    * RDDs — the same component-minimum contract as the local tier. The
    * pair frame is persisted across the probe so the fallback never
    * recomputes the (expensive) LSH pipeline; the default limit of 2M
    * pairs costs roughly 150 MB of driver heap as collected Rows — size
    * against `spark.driver.memory` if raising it. */
  def resolveDuplicateClusters(pairs: DataFrame, localPairLimit: Int = 2_000_000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // ids keep their ORIGINAL type (string URLs, UUIDs, longs, ...): both
    // tiers work on the raw values
    val idType = pairs.schema("id_a").dataType
    val slim = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded count probe decides the tier; pair rows reach the driver
    // only AFTER the local tier is chosen (a head(limit+1) probe would
    // materialize up to 2M rows on the driver just to pick the distributed
    // tier)
    val probed = slim.limit(localPairLimit + 1).count()
    if (probed <= localPairLimit) {
      val head = slim.collect()
      // union-find, roots kept at the component minimum
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      val ord = rowOrdering(idType)
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { row =>
        val ra = find(row.get(0)); val rb = find(row.get(1))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val members = scala.collection.mutable.LinkedHashSet.empty[Any]
      head.foreach { row => members += row.get(0); members += row.get(1) }
      val out = members.toSeq.map(id => org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("keep_id", idType)))
      slim.unpersist()
      spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
    } else {
      // distributed tier: star-contraction CC straight on the original id
      // column — min over any orderable type is deterministic, so the
      // cluster keeper is the component minimum exactly like the local tier
      val result = graft.graph.GraphOps
        .connectedComponentsStar(slim, "id_a", "id_b")
        .select(col("node").as("id"), col("label").as("keep_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      result.count()
      slim.unpersist()
      result
    }
  }

  /** Driver-side ordering for a dedup id value of the given Spark type. */
  private def rowOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    (dt match {
      case LongType    => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case StringType  => Ordering.String.on[Any](_.asInstanceOf[String])
      case ShortType   => Ordering.Short.on[Any](_.asInstanceOf[Short])
      case other => throw new IllegalArgumentException(
        s"unsupported near-dup id type $other — use long/int/short/string ids")
    })
  }

  /** Drop every near-duplicate except its cluster keeper: rows absent from
    * `pairs` pass through; paired rows survive iff they are the cluster's
    * min id. One broadcast-size join when the pair set is small (the usual
    * case), sort-merge otherwise. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = resolveDuplicateClusters(pairs)
    df.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .where(col("keep_id").isNull || col("keep_id") === col(idCol))
      .drop("keep_id")
  }

  /** Exploded LSH band rows of a corpus: (idAlias, band, bhash). */
  private def bandRows(df: DataFrame, idCol: String, idAlias: String,
      sh: Column, numHashes: Int, bands: Int): DataFrame =
    df.select(col(idCol).as(idAlias),
      posexplode(NativeExpressions.minhashBands(sh, numHashes, bands))
        .as(Seq("band", "bhash")))

  /** [[bandRows]] with (band, bhash) folded into the single `bkey` column —
    * the ONE definition of the band-key format, shared by the bucketed
    * staging writer and every bkey joiner: format drift between writer and
    * reader would silently empty the bucket-local join. */
  private def bandKeys(df: DataFrame, idCol: String, idAlias: String,
      sh: Column, numHashes: Int, bands: Int): DataFrame =
    bandRows(df, idCol, idAlias, sh, numHashes, bands)
      .select(col(idAlias), concat_ws(":", col("band"), col("bhash")).as("bkey"))

  /** Exact-jaccard verification of (new_id, ref_id) candidate pairs:
    * shingle frames are joined per pair, never per corpus row. */
  private def verifyCrossPairs(candidates: DataFrame, shNew: DataFrame,
      shRef: DataFrame, threshold: Double): DataFrame =
    candidates.join(shNew, "new_id").join(shRef, "ref_id")
      .withColumn("jaccard", H.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("new_id", "ref_id", "jaccard")

  /** Incremental (cross-corpus) near-dedup: MinHash-LSH pairs between a
    * NEW batch and an existing REFERENCE corpus — the "dedupe today's
    * crawl against the 100 TB already ingested" operation. Candidates come
    * from a band-bucket join of the (small) batch against the reference
    * banding, so the reference is scanned once, never self-joined; with
    * pre-staged reference bands this is one shuffle on the bucket key.
    * Returns (new_id, ref_id, jaccard). */
  def crossCorpusNearDuplicates(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val sh = NativeExpressions.charShingles(col(textCol), shingleSize)
    val candidates = bandRows(newDf, idCol, "new_id", sh, numHashes, bands)
      .join(bandRows(refDf, idCol, "ref_id", sh, numHashes, bands), Seq("band", "bhash"))
      .select("new_id", "ref_id").distinct()
    verifyCrossPairs(candidates,
      newDf.select(col(idCol).as("new_id"), sh.as("sh_a")),
      refDf.select(col(idCol).as("ref_id"), sh.as("sh_b")), threshold)
  }

  /** [[crossCorpusNearDuplicates]] with a Bloom pre-filter on the batch
    * side: a Bloom sketch of the reference's band keys is built once
    * (distributed aggregate, sketch collected to the driver) and shipped
    * inside the filter expression, so batch band rows whose key is
    * DEFINITELY not in the reference never enter the candidate join — for
    * a mostly-novel batch that prunes nearly all of its shuffle volume.
    * False positives only re-admit rows into the join, where the exact
    * band match (and then the jaccard verify) eliminates them, so the
    * output is IDENTICAL to the unfiltered operator on any input.
    *
    * Sizing: the sketch covers `docs × bands` reference keys — at fpp 0.01
    * roughly 1.2 bytes/key, so ~1 GB per billion band keys. Right-sized
    * for references up to a few billion band keys; beyond that, stage the
    * reference as a bucketed table ([[bandStagingFrame]]) instead of
    * (or in addition to) the sketch. */
  def crossCorpusNearDuplicatesBloom(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, expectedRefKeys: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    val sh = NativeExpressions.charShingles(col(textCol), shingleSize)
    val refBuckets = bandKeys(refDf, idCol, "ref_id", sh, numHashes, bands)
    // sketch sizing: docs × bands is an upper bound on band keys (empty
    // docs band to NULL and emit nothing) and costs one cheap count — an
    // exact refBuckets.count() would re-run the whole banding computation
    // just to size the sketch. Oversizing only lowers the effective fpp.
    // Pass the known cardinality in production to skip the count entirely.
    val nKeys = if (expectedRefKeys > 0L) expectedRefKeys else refDf.count() * bands
    val bloom = refBuckets.stat.bloomFilter("bkey", math.max(nKeys, 1L), fpp)
    val candidates = bandKeys(newDf, idCol, "new_id", sh, numHashes, bands)
      .where(NativeExpressions.bloomMightContain(col("bkey"), bloom))
      .join(refBuckets, Seq("bkey"))
      .select("new_id", "ref_id").distinct()
    verifyCrossPairs(candidates,
      newDf.select(col(idCol).as("new_id"), sh.as("sh_a")),
      refDf.select(col(idCol).as("ref_id"), sh.as("sh_b")), threshold)
  }

  /** Stage a corpus' MinHash state to parquet: one row per doc with the
    * band hashes (candidate generation) and shingle set (verification).
    * The incremental-ingest pattern at 100 TB: signatures are computed
    * ONCE per reference doc, and every future batch dedupes against the
    * staged table — candidate generation reads only (id, bands), so
    * parquet column pruning never touches the (much wider) shingle
    * column until the per-pair verify. */
  def stageSignatures(
      df: DataFrame, idCol: String, textCol: String, path: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32): Unit = {
    val sh = NativeExpressions.charShingles(col(textCol), shingleSize)
    df.select(
      col(idCol).as("id"),
      NativeExpressions.minhashBands(sh, numHashes, bands).as("bands"),
      sh.as("shingles"))
      .write.mode("overwrite").parquet(path)
  }

  /** A reference corpus' LSH banding, to stage as a BUCKETED managed table
    * (bucketed and sorted by `bkey`): one row per (doc, band) with the
    * band and its hash folded into a single join key. A batch candidate
    * join against that table needs NO exchange on the (huge) reference
    * side — only the (small) batch is shuffled into the bucket layout.
    * This is the staging format for a reference corpus that every future
    * ingest batch joins against. The fold of (band, bhash) into ONE bkey
    * (see bandKeys) makes bucket co-location exactly match the join key —
    * a two-column join over a one-column bucket layout would still
    * exchange. */
  def bandStagingFrame(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32): DataFrame =
    bandKeys(df, idCol, "ref_id",
      NativeExpressions.charShingles(col(textCol), shingleSize), numHashes, bands)

  /** Cross-corpus near-dup pairs against a staged [[bandStagingFrame]]
    * table (bucketed by `bkey`):
    * candidates come from a bucket-local join (reference side reads its
    * buckets in place, batch side is exchanged into the same layout),
    * verification re-joins shingles from `refDf` per candidate pair.
    * Parameters must match the staging call. */
  def crossCorpusNearDuplicatesBucketed(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      tableName: String, shingleSize: Int = 5, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.8): DataFrame = {
    val spark = newDf.sparkSession
    val sh = NativeExpressions.charShingles(col(textCol), shingleSize)
    val newBuckets = bandKeys(newDf, idCol, "new_id", sh, numHashes, bands)
    val refBuckets = spark.table(tableName)
    val candidates = newBuckets.join(refBuckets, Seq("bkey"))
      .select("new_id", "ref_id").distinct()
    verifyCrossPairs(candidates,
      newDf.select(col(idCol).as("new_id"), sh.as("sh_a")),
      refDf.select(col(idCol).as("ref_id"), sh.as("sh_b")), threshold)
  }

  /** Cross-corpus near-dup pairs of a new batch against a staged reference
    * (see [[stageSignatures]] — parameters must match the staging call or
    * the hash families diverge). Returns (new_id, ref_id, jaccard). */
  def crossCorpusNearDuplicatesStaged(
      newDf: DataFrame, idCol: String, textCol: String, stagedPath: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val spark = newDf.sparkSession
    // schema-cached read: skips the per-access footer-inference job
    // (rationale at Tables.schemaCache)
    val staged = graft.sources.Tables.parquet(spark, stagedPath)
    val sh = NativeExpressions.charShingles(col(textCol), shingleSize)
    val newBuckets = bandRows(newDf, idCol, "new_id", sh, numHashes, bands)
    val refBuckets = staged.select( // prunes the shingle column at the scan
      col("id").as("ref_id"), posexplode(col("bands")).as(Seq("band", "bhash")))
    val candidates = newBuckets.join(refBuckets, Seq("band", "bhash"))
      .select("new_id", "ref_id").distinct()
    verifyCrossPairs(candidates,
      newDf.select(col(idCol).as("new_id"), sh.as("sh_a")),
      staged.select(col("id").as("ref_id"), col("shingles").as("sh_b")), threshold)
  }

  /** Keep only batch rows with no near-duplicate in the reference corpus
    * (anti-join on the cross-corpus pair set). */
  def dropCrossCorpusDuplicates(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val dupIds = crossCorpusNearDuplicates(newDf, refDf, idCol, textCol,
      shingleSize, numHashes, bands, threshold)
      .select(col("new_id").as(idCol)).distinct()
    newDf.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicates: random-hyperplane LSH buckets over
    * (id, band signature) only, distinct candidate pairs, exact cosine
    * verify via two id-joins. `planesPerBand`×`bands` sign bits/vector. */
  def embeddingNearDuplicates(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, bands: Int = 4, planesPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val allPlanes = V.randomPlanes(bands * planesPerBand, dim, seed)
    // all band signatures in one fused native evaluation per row
    val buckets = df.select(
      col(idCol).as("id"),
      posexplode(NativeExpressions.hyperplaneBands(
        col(vecCol), allPlanes.map(_.clone()), bands)).as(Seq("band", "sig")))
    val a = buckets.select(col("band"), col("sig"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("sig"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val vecA = vecs.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vecB = vecs.select(col("id").as("id_b"), col("vec").as("vec_b"))
    candidates.join(vecA, "id_a").join(vecB, "id_b")
      .select(col("id_a"), col("id_b"),
        NativeExpressions.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicates: deterministic md5-gated
    * centroids bucket the corpus by cosine-nearest DIRECTION
    * ([[Similarity.assignToCentroidsCosine]] — magnitude-invariant, so
    * rescaled copies of a vector provably share a bucket), then exact
    * pairwise cosine runs INSIDE each bucket only. This is the clustering
    * route to embedding dedup, complementary to the hyperplane-LSH route
    * ([[embeddingNearDuplicates]]): LSH bounds candidates per signature
    * collision; SemDeDup bounds them per cluster and additionally yields
    * the cluster structure (useful for diversity-aware pruning).
    *
    * Scale: centroid assignment is one narrow projection (no shuffle of
    * the corpus); the within-cluster pair join shuffles the corpus once on
    * `centroid_id`. Per-cluster work is quadratic in cluster size — that
    * is SemDeDup's cost model by design, and `nlist` is the knob: size it
    * so corpus/nlist rows fit a task's pair budget (the paper runs ~100k
    * clusters at web scale). A skewed cluster is an AQE skew-join case.
    * Pairs carry ids + one double; vectors never ship twice. */
  def semanticNearDuplicates(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double = 0.95): DataFrame = {
    val centroids = Similarity.sampleCentroids(df, idCol, vecCol, nlist)
    val assigned = Similarity.assignToCentroidsCosine(df, idCol, vecCol, centroids)
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("centroid_id"),
        NativeExpressions.cosine(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine").isNotNull && col("cosine") >= threshold)
  }

  /** CCNet-style duplicate-line profile (ref: the line-level dedup stage of
    * web-corpus cleaning). "Lines" here are derived fixed-`lineTokens`-token
    * windows because this corpus has no newlines; a real pipeline feeds
    * `split(text, '\n')` rows through the exact same shape. A line is
    * duplicated when it occurs in ≥ 2 distinct documents. Per doc: distinct
    * line count, corpus-duplicated line count, and their ratio (the
    * "mostly boilerplate" removal signal).
    *
    * Scale: lines are hashed to 16-byte `unhex(md5)` BEFORE the exchange so
    * no shuffle ever carries line text, and the whole line-wise stage rides
    * ONE exchange: an explicit repartition on line_hash satisfies both the
    * (doc, line) dedup (clustering-subset rule) and the doc-frequency
    * count-window (no self-join, no second corpus pass) — only the final
    * per-doc rollup shuffles again, with map-side partial aggregation.
    * Documents with no tokens produce no lines and drop out, matching a
    * split('\n') of empty text. */
  def duplicateLineProfile(df: DataFrame, idCol: String, textCol: String,
      lineTokens: Int = 10): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive, got $lineTokens")
    val lines = TextAnalysis
      .tokenWindows(df, idCol, textCol, lineTokens, lineTokens)
      .select(col(idCol), unhex(md5(col("chunk_text"))).as("line_hash"))
      .repartition(col("line_hash"))
      .dropDuplicates(idCol, "line_hash")
    val w = Window.partitionBy(col("line_hash"))
    lines
      .withColumn("line_df", count(lit(1)).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("line_df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup_lines"))
      .withColumn("dup_line_ratio",
        col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
  }

  /** Per-SOURCE boilerplate-line detection — the CCNet/jusText refinement
    * [[duplicateLineProfile]]'s corpus-global view cannot express: a line
    * is boilerplate for a source (domain, feed, crawl host) when it
    * appears in at least `minShare` of THAT source's documents (headers,
    * footers, cookie banners, nav text — shared across a domain's pages
    * but rare corpus-wide). Text lines are `\n`-split; presence is
    * doc-level (a footer repeated within one page counts once). Returns
    * the per-source rollup a curation pipeline reviews before stripping:
    * doc count, distinct lines, and how many crossed the threshold.
    *
    * Determinism: the flag is `line_docs/n_docs >= minShare` — one
    * int/int IEEE division. Scale: lines md5-hash to 16 bytes at the
    * scan, so LINE TEXT never shuffles — one (source, id, hash) dedup
    * exchange, one (source, hash) count, the per-source doc counts
    * broadcast, one map-combined rollup. The line→text reverse lookup
    * (for the actual strip pass) is a second targeted join, not paid
    * here. */
  def sourceBoilerplate(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minShare: Double = 0.5, minDocs: Int = 2): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0, s"minShare in (0,1], got $minShare")
    require(minDocs >= 2, s"minDocs must be >= 2 (a single-doc line is never boilerplate), got $minDocs")
    val lines = df.select(col(sourceCol).as("source"), col(idCol),
        explode(split(col(textCol), "\n")).as("line"))
      .where(length(trim(col("line"))) > 0)
      .select(col("source"), col(idCol), unhex(md5(col("line"))).as("line_hash"))
      .dropDuplicates("source", idCol, "line_hash")
    val docsPerSource = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    lines.groupBy(col("source"), col("line_hash"))
      .agg(count(lit(1)).as("line_docs"))
      .join(broadcast(docsPerSource), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_distinct_lines"),
        sum(when(col("line_docs") >= minDocs &&
          col("line_docs").cast("double") / col("n_docs").cast("double")
          >= minShare, 1L).otherwise(0L)).as("n_boilerplate_lines"))
  }

  /** The positional k-gram hash index both substring-dup operators
    * consume: (id, __p, __gh) — one row per character position, carrying
    * only the 16-byte md5 of the k-char window. Expose it so a pipeline
    * computing BOTH the coverage profile and the span regions (the normal
    * case — measure, then cut) derives the index ONCE and stages it,
    * instead of re-running the gram explode + md5 per consumer; the
    * SparkEntry queries stage exactly this frame. The length guard keeps
    * sequence() ascending (sequence(1, 0) would DESCEND) and drops docs
    * too short to contain any k-gram. */
  def gramIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.where(length(col(textCol)) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), length(col(textCol)) - k + 1),
          p => col(textCol).substr(p, lit(k)))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("__p"),
        unhex(md5(col("col"))).as("__gh"))
  }

  /** Per-doc EXACT duplicated-substring coverage at character
    * granularity: for every position p of every document, is the k-char
    * substring starting at p ALSO present in some OTHER document? This is
    * the sliding-window (every offset) flavor of exact substring dedup
    * from the training-data-dedup literature (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr uses
    * a suffix array; the k-gram formulation detects the same >= k-char
    * verbatim overlaps and is shuffle-shaped), complementing
    * [[duplicateLineProfile]], which only sees DISJOINT token windows and
    * so misses overlaps that straddle a window boundary or start mid-line.
    *
    * Output: (id, n_positions, n_dup_positions, dup_span_ratio) — the
    * ratio is the fraction of the doc covered by spans copied verbatim
    * from elsewhere in the corpus, the standard curation signal for
    * boilerplate/mirror removal.
    *
    * Input: a pre-built (possibly staged) [[gramIndex]] frame.
    *
    * Scale: one shuffle, keyed by the 128-bit md5 of the gram (fixed
    * 16-byte keys move, never the 40-char texts); "shared with another
    * doc" is min(id) != max(id) within the key — no count-distinct
    * buffer. Gram explosion is |text| rows per doc — bounded per-row
    * work, and the reason the gram carries only its hash. Within-doc
    * repeats do NOT count as duplication (min != max is false), matching
    * the cross-doc semantics of the paper. */
  def duplicatedSpanProfileFromGrams(grams: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__gh"))
    grams
      .withColumn("__dup", min(col(idCol)).over(w) =!= max(col(idCol)).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_positions"),
        sum(when(col("__dup"), lit(1L)).otherwise(lit(0L))).as("n_dup_positions"))
      .withColumn("dup_span_ratio",
        col("n_dup_positions").cast("double") / col("n_positions").cast("double"))
  }

  /** The REGIONS behind [[duplicatedSpanProfileFromGrams]]' counts:
    * every maximal verbatim-duplicated span per document, as (id,
    * span_start, span_end) character ranges (1-based, inclusive) — the
    * exact text an ExactSubstr-style cutter removes, not just how much of
    * it there is.
    * A position p is duplicated iff its k-gram appears in another doc;
    * overlapping/adjacent hit intervals [p, p+k-1] merge via
    * [[graft.operators.Intervals.mergeIntervals]]. Same single
    * gram-hash exchange as the profile, plus the interval windows' doc
    * exchange. Input: a pre-built (possibly staged) [[gramIndex]] frame;
    * `k` must match the index's window size (it sets the hit interval
    * width). */
  def duplicatedSpansFromGrams(grams: DataFrame, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // one window pass marks cross-doc grams in place — a groupBy + self-
    // join formulation would run the whole gram explode twice (measured
    // ~2x at sf0.1); same min!=max test as duplicatedSpanProfileFromGrams
    val w = Window.partitionBy(col("__gh"))
    val hits = grams
      .withColumn("__dup", min(col(idCol)).over(w) =!= max(col(idCol)).over(w))
      .where(col("__dup"))
      .select(col(idCol), col("__p"))
    graft.operators.Intervals
      .mergeIntervals(hits, idCol, col("__p"), col("__p") + (k - 1))
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
  }

  /** DIRECTIONAL containment (Broder's coverage): `|A∩B| / |A|` over
    * word-n-gram sets, emitted for every ordered pair above `threshold` —
    * catches "A is quoted inside B", which symmetric Jaccard misses when
    * `|B| ≫ |A|`. Candidates come from a posting-list EQUI-join (explode
    * grams, join on gram, count per ordered pair), never a cross join;
    * `shared/na` is one int/int IEEE division, so results hash-match any
    * engine.
    *
    * Scale: candidate volume is Σ_gram df² — bound it by dropping
    * stop-grams above a document-frequency ceiling before the join (the
    * standard containment-search trick; omitted here so the result stays
    * exact on bounded inputs — callers pre-filter the doc set or add the
    * df cap at web scale). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, threshold: Double = 0.6): DataFrame = {
    import graft.plans.NativeExpressions
    val d = df
      .select(col(idCol), NativeExpressions.wordShingles(col(textCol), ngram).as("sh"))
      .where(size(col("sh")) > 0)
    val grams = d.select(col(idCol), explode(col("sh")).as("g"))
    val sizes = d.select(col(idCol).as("id_a"), size(col("sh")).cast("long").as("na"))
    grams.as("x").join(grams.as("y"),
        col("x.g") === col("y.g") && col(s"x.$idCol") =!= col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes, "id_a")
      .select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast("double") / col("na").cast("double")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Policy-driven keeper selection over resolved duplicate clusters:
    * instead of the cluster-minimum id (the [[resolveDuplicateClusters]]
    * contract, chosen for oracle determinism), keep the member with the
    * HIGHEST priority — the real curation policy ("keep the longest /
    * highest-quality / newest copy") that id-based keeping cannot express.
    * Deterministic: keeper = lexicographic min of (-priority, id), i.e.
    * max priority with min-id tiebreak, so any engine agrees.
    *
    * `clusters` is [[resolveDuplicateClusters]] output (id, keep_id);
    * `priority` carries (id, priority). Output: (id, cluster_id, best_id)
    * for every clustered member.
    *
    * Scale: one equi-join to attach priorities, one map-combined
    * min-struct aggregation per cluster (cluster count « member count),
    * one broadcast-friendly join back — no windows, no skew-prone keys
    * beyond the cluster id itself. */
  def keepBestPerCluster(clusters: DataFrame, priority: DataFrame): DataFrame = {
    // LEFT join: a cluster member with no priority row must stay in the
    // output (an inner join would silently drop it from both membership
    // and best-id selection). Null-priority policy: missing priorities
    // sort LAST (null-safe coalesce to +inf on the negated key), so an
    // unprioritized member can never win keeper over a prioritized one,
    // and an all-missing cluster falls back to the min-id keeper — the
    // resolveDuplicateClusters contract.
    val withP = clusters.join(priority, Seq("id"), "left")
    val best = withP
      .withColumn("priority",
        coalesce(col("priority").cast("double"), lit(Double.NegativeInfinity)))
      .groupBy(col("keep_id").as("cluster_id"))
      .agg(min(struct((-col("priority")).as("np"), col("id").as("bid"))).as("b"))
      .select(col("cluster_id"), col("b.bid").as("best_id"))
    withP.select(col("id"), col("keep_id").as("cluster_id"))
      .join(best, "cluster_id")
      .select(col("id"), col("cluster_id"), col("best_id"))
  }

  /** FIELD-LEVEL survivorship — the step after [[keepBestPerCluster]]'s
    * row-level keeper: instead of keeping one member row whole, merge a
    * GOLDEN RECORD per cluster where each field comes from the member the
    * field's own rule selects (MDM survivorship in the Talend/Informatica
    * sense). Rules per field:
    *
    *   - "latest":   value from the highest-`priorityCol` member where
    *                 the field is NON-NULL (a null in a newer version
    *                 never shadows an older real value)
    *   - "earliest": same with the lowest priority (first-seen wins)
    *   - "max"/"min": extreme of the field's non-null values, ignoring
    *                 priority (e.g. widest coverage, highest balance)
    *
    * `priorityCol` must order members uniquely within a cluster (version
    * number, ingest sequence) — with unique priorities the struct-max is
    * a pure argmax and never tie-breaks on the value, so any engine
    * replays it (the SQL twin is `arg_max(f, pr) FILTER (f IS NOT
    * NULL)`).
    *
    * Scale: ONE cluster-keyed aggregation, fully map-side combinable —
    * every rule is an ordinary max/min over (priority, value) structs, so
    * a billion-row cluster column still partial-aggregates before the
    * exchange; no windows, no joins, no per-cluster collect. */
  def goldenRecords(records: DataFrame, clusterCol: String,
      priorityCol: String, rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "at least one survivorship rule required")
    val pr = col(priorityCol)
    val aggs = rules.map { case (f, rule) =>
      require(f != priorityCol && f != clusterCol,
        s"field $f cannot be the priority or cluster column")
      val v = col(f)
      (rule match {
        case "latest"   => max(when(v.isNotNull, struct(pr, v))).getField(f)
        case "earliest" => min(when(v.isNotNull, struct(pr, v))).getField(f)
        case "max"      => max(v)
        case "min"      => min(v)
        case other => throw new IllegalArgumentException(
          s"unknown survivorship rule '$other' for field $f")
      }).as(f)
    }
    records.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_records"), aggs: _*)
  }

  /** Sorted-neighborhood candidate pairs (Hernandez-Stolfo), DISTRIBUTED:
    * each record pairs with the next `window` records in global
    * `(keyCol, idCol)` sort order — without ever materializing a global
    * sort. A bare `Window.orderBy(key)` funnels the whole input through
    * ONE reducer (Spark warns about exactly this); here the exact global
    * rank comes from [[graft.operators.GlobalRank.withGlobalRank]]
    * (range partition → per-partition row_number → driver-bounded
    * cumulative offsets), and neighbor pairs are an equi-join on the
    * DENSE rank: the left side explodes j=1..window and matches rank+j.
    * Dense integer keys hash uniformly — no skew, no single partition,
    * exact global-window semantics at any bucket-size distribution (the
    * classic "replicate w-1 boundary rows" scheme silently under-pairs
    * when a partition holds fewer than w rows; the rank join has no such
    * failure mode).
    *
    * `(keyCol, idCol)` must be a unique composite (callers pass a distinct
    * dictionary) so the total order — and therefore the pair set — is
    * engine-independent and oracle-checkable.
    *
    * `payload` columns ride the rank join and emit as `<name>_a` /
    * `<name>_b` on each pair — the scorer that follows candidate
    * generation always needs the compared fields, and carrying them here
    * costs two projections where re-attaching them afterwards costs two
    * id-keyed joins against the record table (the multi-pass ER pipeline
    * pays that twice per pass). */
  def sortedNeighborhoodPairs(records: DataFrame, keyCol: String, idCol: String,
      window: Int, numPartitions: Int = 0,
      payload: Seq[String] = Nil): DataFrame = {
    // validate BEFORE the rank pass: sortedNeighborhoodRanked is eager
    // (GlobalRank materializes), and a bad window must fail fast, not
    // after a cluster-wide range exchange
    require(window >= 1, s"sortedNeighborhoodPairs needs window >= 1, got $window")
    sortedNeighborhoodPairsFromRanked(
      sortedNeighborhoodRanked(records, keyCol, idCol, numPartitions, payload),
      window, payload)
  }

  /** The sorted-neighborhood QUERY-INDEPENDENT artifact: each record's
    * exact 0-based global rank under `(keyCol, idCol)` order, as
    * (__id, __g, payload…). The rank depends only on the record frame
    * and the sort key — not on the neighborhood `window` — so a caller
    * running repeated linkage passes over the same records stages THIS
    * frame once (the q_er_pipeline query does) and pays only the
    * explode + rank equi-join per pass. Columns are the internal names
    * ([[sortedNeighborhoodPairsFromRanked]]'s input contract); the
    * payload-collision rules from [[sortedNeighborhoodPairs]] are
    * enforced here because this is where the internal names are born. */
  def sortedNeighborhoodRanked(records: DataFrame, keyCol: String,
      idCol: String, numPartitions: Int = 0,
      payload: Seq[String] = Nil): DataFrame = {
    // a payload named after an internal column would collide inside the
    // rank join (duplicate __g → ambiguous-reference AnalysisException
    // deep in the plan) and a payload named "id" would emit id_a/id_b
    // twice, silently shadowing the output pair ids — reject loudly at
    // the call site instead
    val reservedPayload = Set("__k", "__id", "__g", "__g2", "__j", "id", "id_a", "id_b")
    require(payload.distinct == payload,
      s"duplicate payload columns: ${payload.mkString(", ")}")
    payload.foreach { c =>
      require(!reservedPayload(c),
        s"payload column '$c' collides with sortedNeighborhoodPairs' internal/output names")
    }
    graft.operators.GlobalRank.withGlobalRank(
        records.select(col(keyCol).as("__k") +: col(idCol).as("__id") +:
          payload.map(col): _*),
        Seq(col("__k"), col("__id")), "__g", numPartitions)
      .select(col("__id") +: col("__g") +: payload.map(col): _*)
  }

  /** Window-dependent half of sorted-neighborhood: neighbor pairs from a
    * [[sortedNeighborhoodRanked]] frame (inline or staged) — the left
    * side explodes j=1..window and equi-joins rank+j. `payload` must
    * name the same columns the ranked frame carries. */
  def sortedNeighborhoodPairsFromRanked(indexed: DataFrame, window: Int,
      payload: Seq[String] = Nil): DataFrame = {
    // window <= 0 would make sequence(1, window) DESCEND ([1, 0], ...)
    // and j = 0 then emits self-pairs (id_a == id_b) instead of nothing
    require(window >= 1, s"sortedNeighborhoodPairs needs window >= 1, got $window")
    val left = indexed
      .select(col("__g") +: col("__id").as("id_a") +:
        payload.map(c => col(c).as(s"${c}_a")): _*)
      .withColumn("__j", explode(sequence(lit(1), lit(window))))
      .select(col("id_a") +: (col("__g") + col("__j")).as("__g2") +:
        payload.map(c => col(s"${c}_a")): _*)
    val right = indexed.select(col("__g").as("__g2") +: col("__id").as("id_b") +:
      payload.map(c => col(c).as(s"${c}_b")): _*)
    left.join(right, Seq("__g2"))
      .select(col("id_a") +: col("id_b") +:
        payload.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** The df-ordered exact prefix join's QUERY-INDEPENDENT corpus
    * artifact (the join itself is [[prefixPairsFromRanked]]): one row per
    * non-empty document,
    *
    *   (id, sz: long, keys: array<long>, hs: array<long>)
    *
    * where `keys` holds the doc's word-`ngram` shingles' global ranks in
    * ASCENDING rank order and `hs` the sorted xxhash64'd shingle set the
    * verify compares. The global total order is ascending document
    * frequency, token as tiebreak — rarest first, which minimizes
    * candidate volume because prefixes then hold the LEAST-shared tokens.
    * Everything threshold-DEPENDENT (prefix lengths, size gate,
    * positional bound, the verify cut) lives downstream, so a caller
    * joining the same corpus repeatedly — or at several thresholds —
    * stages THIS frame once and pays only the pair machinery per call
    * (the q_prefix_join query does exactly that): the dictionary pass,
    * GlobalRank and the per-doc ordering are corpus artifacts, not query
    * work.
    *
    * Shape: one posting explode, one dictionary groupBy (bounded by
    * vocabulary, not corpus), [[graft.operators.GlobalRank]]'s range
    * exchange over the dictionary — no single-reducer window anywhere —
    * and one id-keyed collect_list aggregation whose per-doc arrays are
    * bounded by shingle count. Word n-grams
    * ([[graft.plans.NativeExpressions.wordShingles]]) are DISTINCT per
    * doc, as the prefix/size set arithmetic requires. Empty shingle sets
    * are excluded (Jaccard with an empty set is 0 against any non-empty
    * set — below any threshold — and the empty/empty pair is a dedup
    * non-event handled by exactDedup). */
  def dfRankedShingleDocs(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numPartitions: Int = 0): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
        NativeExpressions.wordShingles(col(textCol), ngram).as("sh"))
      .where(size(col("sh")) > 0)
    val posts = docs.select(col("id"), explode(col("sh")).as("tok"))
    // global token order: (document frequency asc, token) — a total order
    // over the dictionary; GlobalRank keeps it single-reducer-free
    val dict = posts.groupBy("tok").agg(count(lit(1)).as("__df"))
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(dict, Seq(col("__df").asc, col("tok").asc), "__trank",
        numPartitions)
      .select(col("tok"), col("__trank"))
    // both arrays sorted → the staged artifact is content-deterministic
    // (collect_list order is partition-placement-dependent; the sorts
    // make re-stagings byte-comparable and `keys` NEEDS ascending rank
    // order for the prefix slice)
    posts.join(ranked, Seq("tok"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("__trank"))).as("keys"),
        sort_array(collect_list(xxhash64(col("tok")))).as("hs"))
      .select(col("id"), size(col("keys")).cast("long").as("sz"),
        col("keys"), col("hs"))
  }

  /** EXACT set-similarity self-join via prefix filtering (PPJoin family,
    * Chaudhuri/Ganjam/Kaushik SSJoin; Xiao et al. PPJoin) over a
    * [[dfRankedShingleDocs]] frame (inline, checkpointed, or staged to
    * parquet — any source with the (id, sz, keys, hs) contract): every
    * pair of documents whose shingle Jaccard is >= `threshold`, WITHOUT
    * LSH's probabilistic recall and WITHOUT an all-pairs join. Output:
    * (id_a, id_b, jaccard) with id_a < id_b.
    *
    * The filter is lossless: with all tokens in one global total order, a
    * set of size s keeps only its first `s - ceil(t*s) + 1` tokens as its
    * prefix. If J(A,B) >= t, A and B MUST share a prefix token
    * (pigeonhole on the overlap bound |A∩B| >= ceil(t/(1+t) * (|A|+|B|))
    * — see the SSJoin paper, Lemma 1), so the equi-join on prefix tokens
    * has perfect recall; exact Jaccard verification then removes false
    * candidates.
    *
    * Scale shape (the reason this exists next to the LSH variants):
    *  - prefix selection is a narrow per-row slice of each doc's ordered
    *    key array;
    *  - the candidate join carries only (key, id, size, position) — hashed
    *    shingle arrays are re-joined by id for the bounded verify step;
    *  - a size filter (t*|B| <= |A|) prunes candidates before payloads
    *    move: J(A,B) >= t forces |A|/|B| >= t for |A| <= |B|.
    *    Candidate volume is Σ_prefix-token df², dominated by rare tokens
    *    by construction of the order.
    * All four consumers (both candidate sides, both verify joins) read
    * `prep`, so pass a staged or checkpointed frame: an inline one re-runs
    * the dictionary-rank pipeline per consumer.
    *
    * Exactness makes it oracle-checkable against all-pairs SQL — the
    * correctness twin q_jaccard_pairs covers a bounded subset; this runs
    * the FULL corpus. "Exact" throughout means exact over the xxhash64'd
    * shingle sets the verify compares — see the honesty note on
    * [[prefixPairsImpl]]. */
  def prefixPairsFromRanked(prep: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixPairsFromRanked needs threshold in (0, 1], got $threshold")
    prefixPairsImpl(prep, threshold)
  }

  /** EXACT set-similarity self-join via HASH-ORDER prefix filtering —
    * the same lossless pigeonhole as [[prefixPairsFromRanked]] under
    * a different global total order: tokens order by
    * (xxhash64(token), token) instead of ascending document frequency.
    * The SSJoin prefix lemma needs only SOME total order shared by all
    * documents, so losslessness is unchanged (the output pair set is
    * IDENTICAL — pinned against the df-ordered form in CurationProps);
    * what changes is the cost profile:
    *
    *  - NO dictionary pass, NO GlobalRank, NO id-keyed aggregation: each
    *    doc's ordered key array is built IN PLACE (`array_sort` over
    *    (hash, token) structs, narrow and inside whole-stage codegen) and
    *    checkpointed once, so the rest is the [[prefixPairsImpl]]
    *    machinery;
    *  - candidate volume is NOT df-optimized: a rarest-first prefix
    *    holds each doc's least-shared tokens, a hash-ordered prefix
    *    holds a uniform sample, so Σ df_prefix² grows on skewed
    *    vocabularies.
    *
    * Pick by regime — MEASURED (SCALE.md, round-12 curves): on a
    * uniform vocabulary this variant wins at every probed size (8.0 s
    * vs 13.1 s at 20× sf0.1 — the dictionary passes scale with the
    * corpus and never amortize inline), and on a skewed vocabulary
    * (6% of docs sharing a Zipf-head phrase) the crossover sits at
    * ~20×/100k docs: hash-order pays 2.2× over its own uniform twin
    * there where df-order pays 1.15×, because rarest-first prefixes
    * exclude head tokens by construction. So: inline one-shot joins on
    * mid-size or uniform inputs → this variant (the web-funnel release
    * report — its input is born inside the query, so there is nothing
    * to stage); large AND head-heavy corpora → df-order, STAGED when
    * the corpus repeats ([[dfRankedShingleDocs]], which deletes the
    * fixed passes entirely). Candidates join on the 64-bit token
    * hash: equal tokens always share a hash (recall), and a cross-token
    * collision only ADDS a candidate for the verify to weigh — see the
    * verify honesty note on [[prefixPairsImpl]] for the 2^-64-scale
    * caveat both variants share. */
  def hashOrderJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, threshold: Double = 0.4): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"hashOrderJaccardPairs needs threshold in (0, 1], got $threshold")
    val docs = df.select(col(idCol).as("id"),
        NativeExpressions.wordShingles(col(textCol), ngram).as("sh"))
      .where(size(col("sh")) > 0)
    // per-doc (hash, token)-ordered key array — token tiebreak keeps the
    // order total under hash collisions, all narrow per-row work; `hs`
    // stays unsorted (the verify is set arithmetic) so the build is one
    // pass over `sh` per column
    // materialized once: all four prefixPairsImpl consumers read prep,
    // and its only caller's input is an expensive sub-plan (the funnel's
    // survivor frame: scan → gate → exact-dedup aggregation), so the cut
    // deletes three replays of that sub-plan
    val prep = docs.select(col("id"),
      size(col("sh")).cast("long").as("sz"),
      transform(array_sort(transform(col("sh"),
          t => struct(xxhash64(t).as("h"), t.as("tok")))),
        e => e("h")).as("keys"),
      transform(col("sh"), t => xxhash64(t)).as("hs"))
      .localCheckpoint(eager = true)
    prefixPairsImpl(prep, threshold)
  }

  /** The shared pair engine behind both exact prefix-join variants:
    * candidate generation, positional filter and verify over a prepared
    * frame `prep` with columns (id, sz: long, keys: array<long>,
    * hs: array<long>), where `keys` holds each doc's shingle keys
    * ascending in the variant's global total order (df-rank or hash).
    * Keys may collide across distinct tokens (the hash order's do; ranks
    * never) — recall only needs equal tokens ⇒ equal keys. A collision
    * ADDS a candidate at this stage; whether the verify then removes it
    * is the hashed-set trade documented in the Verify honesty note
    * below (the verify intersects hashed sets, so a colliding candidate
    * is rejected with the same 2^-64-scale caveat, not with raw-gram
    * certainty).
    *
    * Structure (PPJoin, asymmetric): orient every pair by the (sz, id)
    * total order — `a` is the SMALLER set — so the pigeonhole tightens
    * on a's side. With |A| <= |B| the equivalent-overlap bound
    * α = ceil(t/(1+t)·(|A|+|B|)) satisfies α >= ceil(2t/(1+t)·|A|), so
    * the smaller side only needs its INDEX prefix of
    * |A| - ceil(2t/(1+t)·|A|) + 1 keys (43% of |A| at t=0.4 vs the probe
    * prefix's 60%) — candidate volume per key drops from df² to
    * df_index·df_probe — while the b side keeps the probe prefix
    * (α >= ceil(t·|B|) holds for every pair passing the size filter).
    * Candidates are then pruned by
    *  (1) the size-ratio gate at the join (|A| <= |B| and J >= t ⇒
    *      |A| >= t|B|; the other direction is implied by the
    *      orientation);
    *  (2) PPJoin's positional filter: a match at in-doc positions
    *      (pa, pb) bounds the overlap by min(szA-pa, szB-pb)+1 — the
    *      shared key plus everything ordered after it on both sides —
    *      which must reach α. The max bound over a pair's shared prefix
    *      keys rides the same aggregation that dedups the pair, so the
    *      filter costs no extra shuffle and drops >half the candidates
    *      before any payload moves.
    *
    * EXACT integer renderings of the three pruning factors: each factor
    * f is lowered to nf/2^20 with nf = floor(f·2^20) — the multiply by a
    * power of two only shifts the double's exponent, so nf/2^20 <= f
    * HOLDS EXACTLY — and every cutoff is then pure integer arithmetic:
    * `ceil` over a ROUNDED double product can round up past an exact
    * integer and silently drop a borderline TRUE pair, where a <=-factor
    * only ever weakens pruning by one candidate row that the verify
    * removes anyway (output-identical, hazard-free).
    *
    * Verify honesty: the "exact Jaccard" verify compares the xxhash64'd
    * shingle sets (`hs`), not the raw gram texts — an 8-byte long per
    * shingle instead of the ~25-char gram, so the arrays flowing through
    * the two verify joins shrink ~3x and intersect on cheap long
    * equality. A cross-doc token collision would inflate the hashed-set
    * Jaccard (and an in-doc collision is impossible: `hs` is built from
    * a distinct shingle set, and xxhash64 collisions within one doc's
    * ~10^2 elements against a 2^64 space are the same
    * injective-in-practice stance as contentHash's md5). Callers whose
    * contract demands raw-gram exactness can verify on the shingle
    * arrays themselves at ~3x verify cost; every consumer here accepts
    * the 2^-64-scale trade, and the DuckDB oracles replay the SAME
    * hashed-set comparison, so the correctness gate checks this code's
    * actual contract. */
  private def prefixPairsImpl(prep: DataFrame, threshold: Double): DataFrame = {
    val denBits = 20
    val den = 1L << denBits
    def lowNum(f: Double): Long = (f * den.toDouble).toLong
    // ceil((nf/2^20)·x) = (nf·x + 2^20 − 1) >> 20, for non-negative x
    def ceilLow(nf: Long, x: org.apache.spark.sql.Column) =
      shiftright(lit(nf) * x + lit(den - 1), denBits)
    val nT = lowNum(threshold)
    val nIdx = lowNum(2.0d * threshold / (1.0d + threshold))
    val nAlpha = lowNum(threshold / (1.0d + threshold))
    // prefix side: the first (sz - ceil(f·sz) + 1) entries of the ordered
    // key array, exploded with their 1-based in-doc position for the
    // positional filter
    def side(prefixNum: Long): DataFrame = prep
      .select(col("id"), col("sz"),
        posexplode(slice(col("keys"), lit(1),
          (col("sz") - ceilLow(prefixNum, col("sz")) + lit(1L)).cast("int"))))
      .select(col("id"), col("sz"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val cands = side(nIdx).as("a")
      .join(side(nT).as("b"),
        col("a.h") === col("b.h")
          && (col("a.sz") < col("b.sz")
            || (col("a.sz") === col("b.sz") && col("a.id") < col("b.id")))
          && col("a.sz") * lit(den) >= lit(nT) * col("b.sz"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(max(least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1)
        .as("__ub"))
      .where(col("__ub") >= ceilLow(nAlpha, col("sz_a") + col("sz_b")))
      // restore the output orientation (id_a < id_b): the (sz, id) order
      // used for candidate generation may place the larger-id doc on the
      // smaller-size side; Jaccard is symmetric, so this is a projection
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val hashed = prep.select(col("id"), col("hs"))
    cands
      .join(hashed.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard", H.jaccard(col("hs_a"), col("hs_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Content-defined chunking (Manber 1994 / the LBFS–rsync–restic
    * family): cut each document where the hash of the trailing `window`
    * characters ≡ 0 (mod `mask`) — boundaries are a pure function of
    * LOCAL content, so an insertion early in a document shifts only the
    * chunk it lands in, and identical passages in different documents
    * produce identical chunks. That is the property fixed-size chunking
    * lacks and the reason dataset-versioning / delta-storage systems
    * chunk this way: chunk-level dedup then collapses shared passages
    * corpus-wide.
    *
    * Expected chunk length ≈ `mask` characters (boundary probability
    * 1/mask per position). The rolling hash is the engine-portable
    * md5-window form (salt "cdc:") rather than a gear/rabin recurrence:
    * one md5 per position instead of one multiply — measurably slower
    * per char, but an external SQL engine replays boundary selection
    * EXACTLY, which is the correctness contract everything here trades
    * toward; the production swap to a gear hash changes one expression.
    *
    * Scale: one narrow per-row projection — the boundary walk runs in
    * the native [[graft.plans.CdcChunks]] kernel (one loop per row,
    * whole-stage-codegen'd; the interpreted-HOF construction it replaced
    * is kept below as the pinned reference) — no explode input, no
    * shuffle; the output is (id, chunk_idx, chunk) rows for downstream
    * group-bys. Offsets and lengths count CODE POINTS in Spark and
    * DuckDB, so the contract survives non-ASCII text. */
  def contentDefinedChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 16, mask: Int = 64): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(mask >= 2, s"mask must be >= 2, got $mask")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(NativeExpressions.cdcChunks(col(textCol), window, mask))
          .as(Seq("chunk_idx", "chunk")))
  }
}
