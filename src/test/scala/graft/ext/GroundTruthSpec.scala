package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions => H}
import graft.plans.NativeExpressions

/** Value-level ground truth for the approximate (LSH/ANN) pipelines on the
  * REAL testdata — complements the DuckDB oracles: these run under
  * `sbt test` and pin each pipeline against an in-Spark brute-force twin,
  * independently of the SQL oracles (which since round 4 cover every
  * query here too — a bug in the shared Spark kernels would fool a
  * Spark-vs-Spark check but not DuckDB, and vice versa).
  *
  * The reference's own tests assert contents, not counts
  * (tests/test_parser.py:83-124); these do the same for the sketch family.
  */
class GroundTruthSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("portable-md5 simhash pairs EQUAL brute-force all-pairs hamming<=3") {
    // 4 bands of 16 bits: any pair within hamming 3 shares at least one
    // band verbatim, so LSH candidates ⊇ true pairs and the verify filter
    // makes the output exactly the true pair set — an equality, not a
    // bound — for the md5 hash family behind the DuckDB oracle of
    // q_simhash_near_dup
    val lsh = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fps = docs.select(col("doc_id"),
      NativeExpressions.simhashTextPortable(col("text")).as("fp"))
      .where(col("fp").isNotNull)
    val a = fps.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = fps.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), H.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "testdata should contain simhash near-dups")
    assert(lsh == brute)
  }

  test("portable simhash token hash is the big-endian md5 prefix DuckDB parses") {
    import spark.implicits._
    // md5("hello") = 5d41402abc4b2a76... → token hash 0x5d41402abc4b2a76;
    // a single-token doc's fingerprint IS that hash (every 1-bit wins its
    // vote 1-0, every 0-bit loses 0-1) — pins the exact value the oracle's
    // ('0x' || substr(md5(tok),1,16))::UBIGINT computes
    val fp = Seq((1L, "HELLO")).toDF("doc_id", "text")
      .select(NativeExpressions.simhashTextPortable(col("text")).as("fp"))
      .head().getLong(0)
    assert(fp == 0x5d41402abc4b2a76L)
    // token-less input → NULL fingerprint (never enters a bucket join)
    val row = Seq((1L, "  \t ")).toDF("doc_id", "text")
      .select(NativeExpressions.simhashTextPortable(col("text")).as("fp")).head()
    assert(row.isNullAt(0))
  }

  test("Misra-Gries: over-capacity estimates honor the N/(cap+1) band; at-capacity is exact") {
    import graft.plans.MisraGriesAggregator
    // over-capacity: document words (thousands of distinct) into 32 counters
    val words = docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .where(col("w") =!= "")
    val n = words.count()
    val cap = 32
    val est = words.agg(MisraGriesAggregator.misraGries(cap)(col("w")).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item"), col("x.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = words.groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val eps = n.toDouble / (cap + 1)
    assert(est.nonEmpty && est.size <= cap)
    est.foreach { case (w, e) =>
      val f = exact(w)
      assert(e <= f && f <= e + eps, s"$w: est $e vs exact $f outside band eps=$eps")
    }
    // completeness: every item with support > eps MUST survive
    exact.filter(_._2 > eps).keysIterator
      .foreach(w => assert(est.contains(w), s"heavy hitter $w evicted"))
    // at-capacity exactness: event types (5 distinct) into 64 counters
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val mg = ev.agg(MisraGriesAggregator.misraGries(64)(col("event_type")).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item"), col("x.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val cnt = ev.groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(mg == cnt)
  }

  test("Misra-Gries MERGE of half-corpus summaries stays inside the composed band") {
    import graft.plans.MisraGriesAggregator.{misraGries, misraGriesMerge}
    // summarize two disjoint halves separately, then re-aggregate the
    // persisted (item, est) rows — the maintenance path — and check the
    // Agarwal et al. composed guarantee on the FULL stream:
    // est <= f <= est + N/(cap+1)
    val cap = 32
    val words = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .where(col("w") =!= "")
    def summarize(half: org.apache.spark.sql.DataFrame) = half
      .agg(misraGries(cap)(col("w")).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item").as("item"), col("x.est").as("est"))
    val merged = summarize(words.where(col("doc_id") % 2 === 0))
      .unionByName(summarize(words.where(col("doc_id") % 2 === 1)))
      .agg(misraGriesMerge(cap)(col("item"), col("est")).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item"), col("x.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = words.groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val n = exact.valuesIterator.sum
    val eps = n.toDouble / (cap + 1)
    assert(merged.nonEmpty && merged.size <= cap)
    merged.foreach { case (w, e) =>
      val f = exact(w)
      assert(e <= f && f <= e + eps, s"$w: merged est $e vs exact $f, eps=$eps")
    }
    exact.filter(_._2 > eps).keysIterator
      .foreach(w => assert(merged.contains(w), s"heavy hitter $w lost in the merge"))
  }

  test("prefix-filter join EQUALS brute-force all-pairs word-3-gram jaccard (lossless filter)") {
    // the prefix filter is exact by the overlap pigeonhole — this is an
    // equality against the quadratic plan on the REAL corpus, at a
    // threshold low enough that candidates must survive size and prefix
    // pruning from several different prefix tokens
    val t = 0.4
    val got = Dedup.prefixPairsFromRanked(
        Dedup.dfRankedShingleDocs(docs, "doc_id", "text", ngram = 3).localCheckpoint(true), t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = docs.select(col("doc_id"),
        NativeExpressions.wordShingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), H.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .where(col("j") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "testdata should contain jaccard>=0.4 pairs")
    assert(got == brute)
  }

  test("minhash LSH pairs EQUAL exact all-pairs char-shingle jaccard on this corpus") {
    // the in-Spark twin of the DuckDB oracle: recall 1.0 is data-dependent.
    // With 128 hashes / 16 bands of 8, a pair AT the 0.5 threshold would
    // usually be missed (P[detect] = 1-(1-0.5^8)^16 ≈ 6%) — the guarantee
    // holds because this corpus has no threshold-boundary pairs: every
    // true pair has j ≥ 0.93, where P[miss] = (1-0.93^8)^16 ≈ 2e-6. This
    // spec pins that separation (and the resulting equality) on the
    // shipped corpus; a future corpus with near-threshold pairs would
    // need more bands or a two-pass verify to keep the oracle exact.
    val lsh = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id"),
      NativeExpressions.charShingles(col("text"), 5).as("sh"))
      .where(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), H.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .where(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("char shingles slice by code point, matching the DuckDB oracle on astral text") {
    import spark.implicits._
    // "a😀bcde" = 6 code points / 7 UTF-16 units: code-point windows give
    // 2 shingles of 5; UTF-16 windows would give 3 (splitting the
    // surrogate pair) and diverge from DuckDB len()/slicing
    val df = Seq((1L, "a😀bcde")).toDF("doc_id", "text")
    val sh = df.select(NativeExpressions.charShingles(col("text"), 5).as("sh"))
      .as[Seq[String]].head()
    assert(sh == Seq("a😀bcd", "😀bcde"))
    // a 5-code-point string (6 UTF-16 units) is a single whole-string shingle
    val short = Seq((1L, "ab😀cd")).toDF("doc_id", "text")
      .select(NativeExpressions.charShingles(col("text"), 5).as("sh"))
      .as[Seq[String]].head()
    assert(short == Seq("ab😀cd"))
  }

  test("HLL estimate stays within its rsd bound of the exact distinct count") {
    // q_approx_distinct is the one remaining rows-only query (HLL sketches
    // are implementation-defined across engines) — so ITS values get
    // in-Spark ground truth instead: at rsd=0.02 the estimate must sit
    // within a few standard deviations of the exact count (5σ = 10%)
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val both = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("est"),
        countDistinct(col("l_partkey")).as("exact"))
      .select("est", "exact").as[(Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (est, exact) =>
      assert(math.abs(est - exact).toDouble / exact <= 0.10,
        s"HLL estimate $est vs exact $exact exceeds 5 standard deviations")
    }
  }

  test("incrementally-merged HLL sketch estimate matches the exact distinct count closely") {
    // q_incremental_distinct now emits the oracle-decidable contract
    // (exact count + within_bound); this test pins the tighter in-Spark
    // ground truth: the output booleans are all TRUE, the exact side
    // matches countDistinct, and the merged sketch estimate equals the
    // single-pass sketch estimate at 2% of exact (union of a partition
    // IS the sketch contract)
    import spark.implicits._
    val got = graft.SparkEntry.queries("q_incremental_distinct")(spark, dir)
      .as[(String, Long, Boolean)].collect()
      .map { case (k, ex, ok) => k -> ((ex, ok)) }.toMap
    val exact = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"))
      .as[(String, Long)].collect().toMap
    assert(got.keySet == exact.keySet && got.nonEmpty)
    got.foreach { case (k, (ex, ok)) =>
      assert(ex == exact(k), s"$k: exact side $ex vs countDistinct ${exact(k)}")
      assert(ok, s"$k: merged-HLL estimate exceeded the 5% bound")
    }
    val events = graft.sources.Tables.events(spark, dir)
    def state(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = state(events.where(col("event_id") % 10 < 8))
      .unionByName(state(events.where(col("event_id") % 10 >= 8)))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .as[(String, Double)].collect().toMap
    val onePass = events
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .as[(String, Double)].collect().toMap
    assert(merged == onePass, "sketch union must equal the single-pass sketch")
    merged.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) / exact(k) <= 0.02,
        s"$k: merged-HLL estimate $est vs exact ${exact(k)}")
    }
  }

  test("approx-sketch contract booleans hold on the small fixture too") {
    // the correctness gate checks these at sf0.01; this pins the
    // SMALL-n edge (tolerance eps*n shrinks with n, where a bound bug
    // would first surface) on the test fixture dir
    val wa = graft.SparkEntry.queries("q_winsorize_approx")(spark, dir).collect()
    assert(wa.nonEmpty)
    wa.foreach { r =>
      assert(r.getAs[Boolean]("lo_within_bound"), s"lo rank bound: $r")
      assert(r.getAs[Boolean]("hi_within_bound"), s"hi rank bound: $r")
    }
    val ma = graft.SparkEntry.queries("q_mad_outliers_approx")(spark, dir).collect()
    assert(ma.nonEmpty)
    ma.foreach { r =>
      assert(r.getAs[Boolean]("med_within_bound"), s"median rank bound: $r")
      assert(r.getAs[Boolean]("mad_within_bound"), s"MAD rank bound: $r")
    }
    val ad = graft.SparkEntry.queries("q_approx_distinct")(spark, dir).collect()
    assert(ad.nonEmpty && ad.forall(_.getAs[Boolean]("within_bound")))
    val cr = graft.SparkEntry.queries("q_compression_ratio")(spark, dir).collect()
    assert(cr.nonEmpty && cr.forall(_.getAs[Boolean]("within_bound")))
  }

  test("Wasserstein-1 dominates no segment and is consistent with KS on the same slices") {
    // W1 (integral of |F_A - F_R|) and KS (max of it) over identical
    // slices: W1 in cents must be <= KS * value range (height bound) and
    // > 0 on genuinely different distributions
    val ks = graft.SparkEntry.queries("q_ks_test")(spark, dir).head()
    val w1 = graft.SparkEntry.queries("q_wasserstein")(spark, dir).head()
    val d = ks.getAs[Double]("d_stat")
    val w = w1.getAs[Double]("w1_cents")
    assert(w > 0.0 && d > 0.0)
    // the price domain spans < 10^7 cents; the integral of a function
    // bounded by d over it is bounded by d * range
    assert(w <= d * 1.0e7, s"W1 $w vs KS $d violates the height bound")
  }

  test("Kaplan-Meier: risk sets telescope, factors stay in (0, 1e6]") {
    val rows = graft.SparkEntry.queries("q_survival_km")(spark, dir)
      .orderBy(col("t_days")).collect()
    assert(rows.nonEmpty)
    // the first risk set is the full population; each later risk set is
    // the previous minus everyone whose lifetime ended at the prior time
    val users = graft.sources.Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    assert(rows.head.getAs[Long]("n_risk") == users)
    rows.sliding(2).foreach { case Array(a, b) =>
      val endedAtA = a.getAs[Long]("n_events") + a.getAs[Long]("n_censored")
      assert(b.getAs[Long]("n_risk") == a.getAs[Long]("n_risk") - endedAtA,
        s"risk set must telescope: $a -> $b")
    }
    rows.foreach { r =>
      val f = r.getAs[Long]("km_factor_fp")
      assert(f > 0L && f <= 1000000L, s"KM factor out of range: $r")
      // censored-only times leave survival untouched
      if (r.getAs[Long]("n_events") == 0L) assert(f == 1000000L)
    }
  }

  test("IVF drops NULL embeddings everywhere its SQL oracle does") {
    import spark.implicits._
    // corrupt rows: a NULL query vector and a NULL corpus vector. The
    // oracle-parity contract: NULL queries emit nothing, NULL corpus rows
    // are never assigned to a bucket, and centroid sampling skips them.
    val base = emb.select(col("vec_id"), col("embedding"))
    val nulls = Seq(
      (900000L, null.asInstanceOf[Array[Float]]),
      (900050L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val corpus = base.unionByName(nulls)
    val queries = corpus.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nlist = 16, nprobe = 8)
    // 900000 and 900050 are % 50 == 0 → would be queries, but their NULL
    // vectors must drop them; no neighbor row may reference a NULL row
    assert(out.where(col("query_id") >= 900000L).count() == 0)
    assert(out.where(col("neighbor_id") >= 900000L).count() == 0)
    // and the clean queries still return full top-5s
    assert(out.count() == queries.where(col("qvec").isNotNull).count() * 5)
  }

  test("approx_percentile caps honor the sketch's rank-error bound (q_*_approx scale twins)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val acc = 10000 // must match RelationalQueries.PctSketchAccuracy
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(l_extendedprice, array(0.05, 0.5, 0.95), $acc)").as("caps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exactVals = li.select(col("l_returnflag"), col("l_extendedprice")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(approx.keySet == exactVals.keySet)
    for ((flag, caps) <- approx; (p, v) <- Seq(0.05, 0.5, 0.95).zip(caps)) {
      val vals = exactVals(flag)
      val n = vals.length
      // the GK sketch guarantees the returned value's rank is within
      // n/accuracy of the target rank; +1 absorbs the floor/ceil of the
      // target-rank definition. A regression here means the _approx twins'
      // documented error contract is broken.
      val rankLo = vals.count(_ < v)     // tightest possible rank
      val rankHi = vals.count(_ <= v)    // loosest possible rank
      val target = p * n
      val eps = n.toDouble / acc + 1
      assert(rankLo <= target + eps && rankHi >= target - eps,
        s"$flag p=$p: value $v has rank [$rankLo,$rankHi], target $target ± $eps (n=$n)")
    }
  }

  test("IVF recall@5 sanity floor vs brute force at the q_embed_ivf_topk config") {
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
    def recallAt(refine: Int): Double = {
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nlist = 16, nprobe = 8, refineIters = refine)
      val report = Similarity.recallReport(exact, approx, k = 5)
      // every query must be present in the report even if IVF found nothing
      assert(report.count() == queries.count())
      report.agg(avg(col("recall_at_k"))).head().getDouble(0)
    }
    // deterministic (md5-gated centroids, quantized Lloyd means).
    // Uniform-random vectors are IVF's worst case — recall tracks the
    // scanned fraction, and 8/16 probes over the fairly balanced buckets
    // this centroid draw produces scan about half the corpus. The bounds
    // catch regressions in assignment, probing, or refinement; the exact
    // per-query VALUES are pinned by the q_ivf_recall SQL oracle, so this
    // is a sanity floor, not the check.
    val raw = recallAt(0)
    assert(raw >= 0.7, s"IVF recall@5 regressed: $raw")
    // one quantized-mean Lloyd pass (the q_embed_ivf_topk config) must
    // materially beat the raw sampled centroids — measured 0.70 → 0.84 at
    // sf0.01; refinement that stops helping means the pass went inert
    val refined = recallAt(1)
    assert(refined >= 0.8, s"refined IVF recall@5 regressed: $refined")
    assert(refined > raw,
      s"Lloyd refinement no longer improves recall (raw=$raw refined=$refined)")
  }

  test("semantic dedup EQUALS brute-force all-pairs cosine on the planted corpus") {
    // the q_semantic_dedup construction: base ∪ ×2-scaled copies. Cosine
    // assignment is magnitude-invariant (cosine(2v, c) is bit-equal to
    // cosine(v, c): ×2 scales dot and norm exactly), so every planted pair
    // shares a bucket and the clustered operator must return EXACTLY the
    // exact all-pairs answer — an equality, not a recall bound.
    val base = emb.select(col("vec_id"), col("embedding"))
    val scaled = base.select((col("vec_id") + lit(10000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val planted = base.unionByName(scaled)
    val sem = Dedup.semanticNearDuplicates(planted, "vec_id", "embedding",
      nlist = 16, threshold = 0.99)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = planted.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        NativeExpressions.cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= 0.99)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "planted corpus must contain >=0.99 pairs")
    assert(sem == brute)
    // and those pairs are exactly the planted (v, 2v) pairs
    val nonNullIds = base.where(col("embedding").isNotNull)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(brute == nonNullIds.map(id => (id, id + 10000L)))
  }

  test("cosine-argmax assignment buckets every scorable row exactly once") {
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    val assigned = Similarity.assignToCentroidsCosine(emb, "vec_id", "embedding", cents)
    val nonNull = emb.where(col("embedding").isNotNull).count()
    assert(assigned.count() == nonNull)
    assert(assigned.select("vec_id").distinct().count() == nonNull)
    val cids = assigned.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cids.subsetOf((0 until 16).toSet))
  }

  test("BPE: merge-count monotonicity, zero-merge identity, wrapped-replace equivalence") {
    import graft.functions.Bpe
    val sample = docs.where(col("doc_id") < 50 && length(col("text")) > 0)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(sample.nonEmpty)
    val merges = Bpe.train(sample, numMerges = 24)
    assert(merges.size == 24) // the fixture never runs out of pairs
    // every merge's parts were producible when it was learned (rank order)
    val known = scala.collection.mutable.Set((0 until 256).map(b => f"$b%02X"): _*)
    merges.foreach { case (a, b) =>
      assert(known(a) && known(b), s"merge ($a,$b) references an unknown symbol")
      known += a + b
    }
    // token counts: 0 merges == byte count; counts NON-INCREASING as the
    // merge table grows (each extra merge can only compact further) and
    // strictly decreasing in total over the fixture
    val texts = docs.select("text").limit(100).collect().map(_.getString(0))
    def total(k: Int): Long = {
      val mk = merges.take(k)
      texts.map(t => countViaWrappedReplace(t, mk)).sum
    }
    val byKGrowingTable = Seq(0, 6, 12, 24).map(total)
    assert(byKGrowingTable.head ==
      texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum)
    assert(byKGrowingTable.sliding(2).forall { case Seq(a, b) => b <= a })
    assert(byKGrowingTable.last < byKGrowingTable.head)
    // the native int-array kernel equals the comma-wrapped String.replace
    // reference — the EXACT semantics the SQL oracle replays
    val spark2 = spark; import spark2.implicits._
    val viaExpr = docs.where(col("doc_id") < 100)
      .select(col("doc_id"), Bpe.tokenCount(col("text"), merges).as("n"))
      .as[(Long, Long)].collect().toMap
    val viaReplace = docs.where(col("doc_id") < 100)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> countViaWrappedReplace(r.getString(1), merges)).toMap
    assert(viaExpr == viaReplace)
  }

  /** The oracle's semantics verbatim: comma-wrapped hex symbols, one
    * String.replace per merge (left-to-right non-overlapping — Java and
    * SQL replace agree), count = separators / 2. */
  private def countViaWrappedReplace(text: String, merges: Seq[(String, String)]): Long = {
    var s = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f",${b & 0xff}%02X,").mkString
    merges.foreach { case (a, b) => s = s.replace(s",$a,,$b,", s",$a$b,") }
    s.count(_ == ',').toLong / 2
  }

  test("out-of-fold target encoding never sees its own fold (direct recompute)") {
    val spark2 = spark; import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    val enc = graft.SparkEntry.queries("q_target_encode")(spark, dir)
      .select("cat", "fold", "enc_out_cents")
      .as[(String, Long, Double)].collect()
      .map { case (c, f, e) => (c, f) -> e }.toMap
    val rows = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderpriority"), (col("o_orderkey") % 5).as("fold"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("y"))
      .as[(String, Long, Long)].collect()
    enc.foreach { case ((cat, fold), e) =>
      val out = rows.filter(r => r._1 == cat && r._2 != fold).map(_._3)
      val direct = BigDecimal(out.sum.toDouble / out.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(e - direct) < 1e-9,
        s"($cat, fold $fold): encoder $e != leave-fold-out mean $direct")
    }
  }

  test("bottom-k FK sketch: exact when domains fit in k, bounded error when they don't") {
    val spark2 = spark; import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    // at sf0.001 every candidate's |C ∪ P| <= 256, so the sketch holds the
    // FULL key set and the estimate must EQUAL the exact inclusion
    val est = graft.SparkEntry.queries("q_fk_sketch")(spark, dir)
      .select("candidate", "containment_est").as[(String, Double)].collect().toMap
    val exact = graft.SparkEntry.queries("q_fk_discovery")(spark, dir)
      .select("candidate", "inclusion").as[(String, Double)].collect().toMap
    est.foreach { case (cand, e) =>
      assert(exact.contains(cand) || cand == "part.p_size->nation.n_nationkey")
      exact.get(cand).foreach(x =>
        assert(e == x, s"$cand: sketch $e != exact $x with full-set sketch"))
    }
    // planted larger-than-k domains: child 0..3999 with only evens kept by
    // the parent (true containment 0.5); a k=256 hash sample estimates it
    // within the ~4/sqrt(k) band
    val child = (0L until 4000L).toDF("ck")
    val parent = (0L until 4000L by 2).toDF("pk")
    val k = 256
    val c = child.select(md5(col("ck").cast("string")).as("h")).distinct()
    val p = parent.select(md5(col("pk").cast("string")).as("h")).distinct()
    val u = c.unionByName(p).distinct().orderBy(col("h")).limit(k)
    val row = u.join(c.select(col("h"), lit(1).as("in_c")), Seq("h"), "left")
      .join(p.select(col("h"), lit(1).as("in_p")), Seq("h"), "left")
      .agg(sum(coalesce(col("in_c"), lit(0))).as("nc"),
        sum(when(col("in_c") === 1 && col("in_p") === 1, 1L).otherwise(0L)).as("nb"))
      .head()
    val estimate = row.getLong(1).toDouble / row.getLong(0).toDouble
    assert(math.abs(estimate - 0.5) < 4.0 / math.sqrt(k),
      s"containment estimate $estimate outside the sampling band around 0.5")
  }
  test("classifier report: hand-computed tie-aware AUC and threshold metrics") {
    import spark.implicits._
    // pos scores {1,2}, neg {2,3}: of the 4 pos-neg pairs only the (2,2)
    // tie contributes (half) -> AUC = 0.5/4 = 0.125
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false))
      .toDF("score", "label")
    val r = Evaluation.binaryClassifierReport(df, col("label"), col("score"),
      lit(2L)).head()
    assert(r.getAs[Double]("auc") == 0.125)
    // threshold >= 2: tp=1 (the 2+), fp=2 (2-, 3-), fn=1 (1+), tn=0
    assert(r.getAs[Long]("tp") == 1 && r.getAs[Long]("fp") == 2 &&
      r.getAs[Long]("fn") == 1 && r.getAs[Long]("tn") == 0)
    assert(r.getAs[Double]("precision") == 1.0 / 3.0)
    assert(r.getAs[Double]("recall") == 0.5)
    assert(r.getAs[Double]("f1") == 2.0 / 5.0)
    // a perfect separator scores AUC exactly 1.0, an inverted one 0.0
    val sep = Seq((10L, true), (9L, true), (2L, false), (1L, false))
      .toDF("score", "label")
    assert(Evaluation.binaryClassifierReport(sep, col("label"), col("score"),
      lit(5L)).head().getAs[Double]("auc") == 1.0)
    assert(Evaluation.binaryClassifierReport(sep, !col("label"), col("score"),
      lit(5L)).head().getAs[Double]("auc") == 0.0)
  }

  test("threshold sweep: monotone curve, conserved counts, trapezoid AUC matches the report") {
    import spark.implicits._
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false))
      .toDF("score", "label")
    val sw = Evaluation.thresholdSweep(df, col("label"), col("score"))
      .orderBy(col("threshold")).collect()
    assert(sw.length == 3) // distinct scores 1, 2, 3
    sw.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) == 2L, s"tp+fn must be n_pos: $r")
      assert(r.getLong(2) + r.getLong(4) == 2L, s"fp+tn must be n_neg: $r")
    }
    // recall is non-increasing in the threshold; fpr likewise
    val recalls = sw.map(_.getDouble(6))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
    // threshold = 2 reproduces the report's confusion exactly
    val at2 = sw.find(_.getLong(0) == 2L).get
    assert(at2.getLong(1) == 1 && at2.getLong(2) == 2 &&
      at2.getLong(3) == 1 && at2.getLong(4) == 0)
    // trapezoid over (fpr, recall) — including the (0,0) endpoint —
    // reproduces the tie-aware AUC = 0.125 of the classifier report
    val pts = (sw.sortBy(-_.getLong(0)).map(r => (r.getDouble(7), r.getDouble(6)))
      .toList :+ ((1.0, 1.0))).distinct
    val withOrigin = (0.0, 0.0) :: pts
    val auc = withOrigin.zip(withOrigin.tail)
      .map { case ((x1, y1), (x2, y2)) => (x2 - x1) * (y1 + y2) / 2 }.sum
    assert(math.abs(auc - 0.125) < 1e-12, s"trapezoid AUC $auc")
  }

  test("abTestByGroup: the effect localizes to the segment that carries it") {
    import spark.implicits._
    val gate = Sampling.hashGate(col("u"), 0.5, "s:")
    val units = (1L to 800L).map(i => (i, if (i % 2 == 0) "hot" else "cold"))
      .toDF("u", "seg").withColumn("is_a", gate)
    // uplift planted ONLY in segment "hot"; "cold" converts identically
    val ev = units.withColumn("cg",
      when(col("seg") === "hot" && col("is_a"), Sampling.hashGate(col("u"), 0.85, "c:"))
        .when(col("seg") === "hot", Sampling.hashGate(col("u"), 0.35, "c:"))
        .otherwise(Sampling.hashGate(col("u"), 0.5, "c:")))
    val out = Evaluation.abTestByGroup(ev, col("u"), col("seg"), col("cg"), "s:")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("hot").getAs[Boolean]("significant"),
      s"planted segment effect missed: ${out("hot")}")
    assert(!out("cold").getAs[Boolean]("significant"),
      s"null segment flagged: ${out("cold")}")
    // segment populations partition the units
    assert(out.values.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum == 800L)
  }

  test("diffInDiff: recovers a planted treatment effect under arm baseline shift") {
    import spark.implicits._
    // arm A carries a +70 baseline in BOTH periods (which breaks a naive
    // post-only comparison) plus a +50 treatment effect in POST only;
    // everyone shares a +10 time trend. DiD must isolate exactly +50
    val gate = Sampling.hashGate(col("u"), 0.5, "s:")
    val units = (1L to 300L).map(Tuple1(_)).toDF("u")
      .withColumn("is_a", gate)
      .withColumn("pre", lit(100L) + when(col("is_a"), 70L).otherwise(0L))
      .withColumn("post", col("pre") + 10L + when(col("is_a"), 50L).otherwise(0L))
    val r = Evaluation.diffInDiff(units, col("u"), col("pre"), col("post"), "s:")
      .head()
    assert(r.getAs[Double]("did") == 50.0, r.toString)
    assert(r.getAs[Double]("delta_a") == 60.0 && r.getAs[Double]("delta_b") == 10.0)
    // the naive post-only mean difference is polluted by the baseline
    assert(r.getAs[Double]("mean_a_post") - r.getAs[Double]("mean_b_post") == 120.0)
  }

  test("cuped: theta recovers the planted slope, reduction = rho^2, zero-variance guard") {
    import spark.implicits._
    // y = 3x + deterministic pseudo-noise: theta must land near 3 and the
    // reduction near 1 (x explains most of y's variance)
    val units = (1L to 200L).map { i =>
      val x = (i % 50) * 10
      (i, x, 3 * x + (i * 37 % 11))
    }.toDF("u", "x", "y")
    val r = Evaluation.cupedAdjustment(units, col("y"), col("x")).head()
    assert(r.getLong(0) == 200L)
    assert(math.abs(r.getDouble(1) - 3.0) < 0.01, s"theta: $r")
    assert(r.getDouble(3) < r.getDouble(2) * 0.01,
      s"adjusted variance should collapse: $r")
    assert(r.getDouble(4) > 0.99 && r.getDouble(4) <= 1.0)
    // exact identity: var_adj = var_raw * (1 - reduction) in this algebra
    assert(math.abs(r.getDouble(3) - r.getDouble(2) * (1 - r.getDouble(4))) < 1e-6)
    // constant covariate: theta 0, no reduction, var_adj == var_raw
    val const = (1L to 50L).map(i => (i, 7L, i % 13)).toDF("u", "x", "y")
    val rc = Evaluation.cupedAdjustment(const, col("y"), col("x")).head()
    assert(rc.getDouble(1) == 0.0 && rc.getDouble(4) == 0.0 &&
      rc.getDouble(2) == rc.getDouble(3))
  }

  test("abTest: planted uplift fires, null effect doesn't, degenerate variance is z2=0") {
    import spark.implicits._
    // units 1..400; conversion engineered PER ARM via the same gate the
    // operator uses, so the planted uplift is arm-aligned by construction
    val gate = Sampling.hashGate(col("u"), 0.5, "s:")
    val units = (1L to 400L).map(Tuple1(_)).toDF("u")
      .withColumn("is_a", gate)
    // arm A converts 80%, arm B 40% (hash-gated within arm, deterministic)
    val events = units.withColumn("conv_gate",
      when(col("is_a"), Sampling.hashGate(col("u"), 0.8, "c:"))
        .otherwise(Sampling.hashGate(col("u"), 0.4, "c:")))
    val r = Evaluation.abTest(events, col("u"), col("conv_gate"), "s:").head()
    assert(r.getAs[Boolean]("significant"),
      s"a 40-point uplift on 400 units must be significant: $r")
    assert(r.getAs[Double]("z2") > 3.85)
    // null effect: same conversion law in both arms -> not significant
    val nullEff = units.withColumn("cg", Sampling.hashGate(col("u"), 0.5, "c:"))
    val r0 = Evaluation.abTest(nullEff, col("u"), col("cg"), "s:").head()
    assert(!r0.getAs[Boolean]("significant"), s"null effect flagged: $r0")
    // degenerate: everyone converts -> zero pooled variance -> z2 = 0
    val all = Evaluation.abTest(units, col("u"), lit(true), "s:").head()
    assert(all.getAs[Double]("z2") == 0.0 && !all.getAs[Boolean]("significant"))
    // arms actually split (both populated, roughly half)
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 400L)
    assert(math.abs(r.getAs[Long]("n_a") - 200L) < 60)
  }

  test("bootstrap CI: ordered band, brackets a symmetric mean, exactly reproducible") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, i % 101)).toDF("id", "v")
    val r = Evaluation.bootstrapMeanCI(df, "id", col("v"), b = 100,
      fraction = 0.5, seed = "t").head()
    val (full, p05, p50, p95, n) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getLong(4))
    assert(n == 100L)
    assert(p05 <= p50 && p50 <= p95, s"order stats out of order: $r")
    // the subsampled means bracket the point estimate for this symmetric
    // metric, and the band is non-degenerate but tight (~sd/sqrt(m))
    assert(p05 < full && full < p95, s"band fails to bracket: $r")
    assert(p95 - p05 > 0.0 && p95 - p05 < 20.0, s"implausible width: $r")
    // hash-gated resampling: the identical call reproduces every value
    val again = Evaluation.bootstrapMeanCI(df, "id", col("v"), b = 100,
      fraction = 0.5, seed = "t").head()
    assert(r == again)
    // a different seed moves the band (it is a real resample, not a const)
    val other = Evaluation.bootstrapMeanCI(df, "id", col("v"), b = 100,
      fraction = 0.5, seed = "u").head()
    assert(other.getDouble(2) != p50 || other.getDouble(1) != p05)
    // null metric rows are excluded from the point estimate AND replicas
    val withNulls = df.unionByName(
      Seq((900L, null.asInstanceOf[java.lang.Long])).toDF("id", "v"))
    assert(Evaluation.bootstrapMeanCI(withNulls, "id", col("v"),
      b = 100, fraction = 0.5, seed = "t").head().getDouble(0) == full)
  }

  test("decile lift: balanced buckets, capture monotone to 1.0, counts conserve") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val d = Evaluation.decileLift(docs, col("lang") === "en",
        col("n_chars"), col("doc_id"))
      .orderBy("bucket").collect()
    assert(d.length == 10 && d.map(_.getLong(0)).toSeq == (0L to 9L))
    // equal-frequency buckets within one row of each other
    val ns = d.map(_.getLong(1))
    assert(ns.max - ns.min <= 1, ns.toSeq.toString)
    // cumulative capture is monotone and exhaustive
    val cap = d.map(_.getAs[Double]("cum_capture"))
    assert(cap.sliding(2).forall(p => p(0) <= p(1)) && cap.last == 1.0)
    // conservation: per-bucket positives sum to the cumulative tail
    assert(d.map(_.getLong(2)).sum == d.last.getLong(3))
  }
}
