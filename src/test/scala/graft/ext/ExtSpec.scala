package graft.ext

import graft.SparkSpec
import graft.functions.{HashFunctions => H, TextFunctions => TF}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and keeps on running fast"),
    (2L, "the quick brown fox jumps over the lazy dog and keeps on running quickly"), // near-dup of 1
    (3L, "completely different content about spark distributed query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog and keeps on running fast"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the min-id row per content group") {
    val kept = Dedup.exactDedup(docs, "doc_id", Seq("text"))
    assert(kept.count() == 4)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", Seq("text"))
    val dupGroup = groups.where(col("n_dups") === 2).select("keep_id").as[Long].collect()
    assert(dupGroup.sameElements(Array(1L)))
  }

  test("ngramNovelty: exact copy scores 0, first occurrence and fresh text score 1") {
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 4 is a verbatim copy of doc 1: every trigram first occurs in 1
    assert(out(4L).getAs[Double]("novelty") === 0.0)
    assert(out(1L).getAs[Double]("novelty") === 1.0)
    // doc 3 shares no trigram with anything
    assert(out(3L).getAs[Double]("novelty") === 1.0)
    // doc 2 differs from 1 only in the last word: exactly its final
    // trigrams ("on running quickly" etc.) are novel, the shared prefix
    // trigrams are attributed to doc 1
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_novel") > 0 &&
      r2.getAs[Long]("n_novel") < r2.getAs[Long]("n_grams"))
    // doc 5 has < 3 tokens: its single whole-string gram is its own
    assert(out(5L).getAs[Long]("n_grams") === 1L)
    assert(out(5L).getAs[Double]("novelty") === 1.0)
  }

  test("Expectations: planted violations are counted and flagged exactly") {
    import Expectations._
    val rows = Seq(
      (1L, java.lang.Long.valueOf(10L), "F", 5.0),
      (2L, java.lang.Long.valueOf(20L), "O", -1.0),   // range violation
      (3L, null.asInstanceOf[java.lang.Long], "X", 7.0), // null key + bad status
      (3L, java.lang.Long.valueOf(99L), "F", 8.0)     // dup id + FK orphan
    ).toDF("id", "custkey", "status", "price")
    val ref = Seq(10L, 20L).toDF("c_custkey")
    val rep = evaluate(rows, Seq(
        NotNull("custkey"),
        InRange("price", 0.0, 100.0),
        IsIn("status", Seq("F", "O")),
        Unique(Seq("id")),
        ForeignKey("custkey", ref, "c_custkey")))
      .collect().map(r => r.getAs[String]("constraint") -> r).toMap
    def nd(c: String) = (rep(c).getAs[Long]("observed_num"), rep(c).getAs[Long]("observed_den"))
    assert(nd("not_null(custkey)") === (3L, 4L))
    assert(nd("in_range(price)") === (3L, 4L))
    assert(nd("is_in(status)") === (3L, 4L))
    assert(nd("unique(id)") === (3L, 4L))
    assert(nd("foreign_key(custkey)") === (2L, 3L)) // 99 is an orphan; null skipped
    assert(rep.values.forall(!_.getAs[Boolean]("passed")))
    // and a fully clean table passes everything
    val clean = evaluate(rows.where(col("id") === 1L), Seq(
      NotNull("custkey"), Unique(Seq("id")),
      ForeignKey("custkey", ref, "c_custkey")))
    assert(clean.where(!col("passed")).count() === 0)
  }

  test("embeddingProfile: bins partition the corpus; a collapsed space concentrates in the top bin") {
    val varied = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.6f, 0.8f)),
      (5L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val prof = Similarity.embeddingProfile(varied, "vec_id", "embedding").collect()
    // nulls excluded, every non-null vector lands in exactly one bin
    assert(prof.map(_.getAs[Long]("n_vectors")).sum === 4L)
    assert(prof.forall(r => { val b = r.getAs[Long]("cos_bin"); b >= 0 && b <= 9 }))
    // an anisotropy-collapsed space: every vector identical -> cosine to
    // the centroid is exactly 1 -> all mass in bin 9, micro-sum = n*1e6
    val collapsed = (1L to 6L).map(i => (i, Array(0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val cp = Similarity.embeddingProfile(collapsed, "vec_id", "embedding").collect()
    assert(cp.length === 1)
    assert(cp(0).getAs[Long]("cos_bin") === 9L)
    assert(cp(0).getAs[Long]("n_vectors") === 6L)
    assert(cp(0).getAs[Long]("sum_cos_micro") === 6000000L)
  }

  test("multi-column content hash has no boundary or null collisions") {
    val df = Seq(
      (1L, "ab", "c"), (2L, "a", "bc"),      // boundary shift
      (3L, "a", null), (4L, "a", "")          // null vs empty
    ).toDF("id", "first", "last")
    val groups = Dedup.exactDuplicateGroups(df, "id", Seq("first", "last"))
    assert(groups.count() == 4) // all four rows are distinct content
  }

  test("minhash near-dup finds the planted near-duplicate and the exact dup") {
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      shingleSize = 5, numHashes = 64, bands = 32, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc stays out
  }

  /** 64-bit SimHash over a token array as a built-ins-only fold: each
    * token votes ±1 on every bit of its xxhash64; fingerprint bit j is 1
    * iff the vote sum is positive — the HOF form the native SimHash
    * kernels replaced. */
  private def simhash64(tokensCol: Column): Column = {
    val votes = aggregate(
      tokensCol,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(
          acc,
          transform(sequence(lit(0), lit(63)),
            j => when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))),
          (a, v) => a + v)
      })
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (fp, j) => fp + when(element_at(votes, j + 1) > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
  }

  test("simhash hamming distance is 0 for identical, small for near-dup, large for unrelated") {
    val fps = docs.select(col("doc_id"),
      simhash64(TF.tokens(lower(col("text")))).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)))
  }

  test("embedding near-dup finds planted identical vectors via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, -0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, -0.2f)),   // identical to 1
      (3L, Array(-1.0f, 0.3f, -0.5f, 0.9f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      dim = 4, threshold = 0.999, bands = 4, planesPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("near-dup pair chains collapse to clusters with min-id keepers") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveDuplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L)) // keepers + untouched doc
  }

  test("cosine column function matches hand computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(graft.plans.NativeExpressions.cosine(col("a"), col("b")))
      .as[Double].head()
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - expected) < 1e-12)
  }

  test("bruteForceTopK returns the true nearest neighbor first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val top = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.sameElements(Array(2L, 3L)))
  }

  test("int8TopK: integer scores, codes bounded, planted neighbor survives quantization") {
    val corpus = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d => (math.sin(i * 0.37 + d) * 3.0).toFloat))
    }.toDF("vec_id", "embedding")
    // plant a same-direction, larger-norm copy of vec 42 as id 100: the
    // int8 score is an unnormalized dot product (MIPS semantics), so the
    // guaranteed winner is the aligned vector with the LARGEST norm
    val planted = Seq((100L,
      Array.tabulate(8)(d => (math.sin(42 * 0.37 + d) * 4.5).toFloat)))
      .toDF("vec_id", "embedding")
    val all = corpus.unionByName(planted)
    val queries = all.where(col("vec_id") === 42)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.int8TopK(all, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3).orderBy("rank").collect()
    assert(top.head.getLong(1) == 100L, s"planted near-copy must rank first: ${top.toSeq}")
    // scores are exact longs bounded by 127^2 * dim
    top.foreach(r => assert(math.abs(r.getLong(2)) <= 127L * 127L * 8L))
    // determinism: a second run reproduces scores exactly
    val again = Similarity.int8TopK(all, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3).orderBy("rank").collect()
    assert(top.map(_.getLong(2)).sameElements(again.map(_.getLong(2))))
  }

  test("ivfTopK finds the planted exact match within probed buckets") {
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.37 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 42).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.ivfTopK(corpus, "vec_id", "embedding", queries, "qid", "qvec",
      k = 3, nlist = 8, nprobe = 4)
    // self excluded; nearest surviving neighbors have cosine < 1 but are found
    assert(got.count() == 3)
    assert(got.where(col("rank") === 1).select("cosine").as[Double].head() > 0.8)
  }

  test("language-ID picks the language with most marker hits") {
    val df = Seq(
      (1L, "the cat and the dog went to the park with this thing"),
      (2L, "le chat est dans la maison avec les enfants pour une heure"),
      (3L, "der hund ist nicht in das haus und die katze"),
      (4L, "zzz qqq xxx")).toDF("id", "text")
    val got = TextAnalysis.detectLanguage(df, "id", "text").as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "fr")
    assert(got(3L) == "de"); assert(got(4L) == "und")
  }

  test("text profile metrics are sane on a known string") {
    val df = Seq((1L, "Hello World. 123")).toDF("doc_id", "text")
    val row = TextAnalysis.profile(df, "doc_id", "text").head()
    assert(row.getAs[Long]("n_chars") == 16L)
    assert(row.getAs[Long]("n_tokens") == 3L)
    assert(row.getAs[Double]("digit_ratio") == 3.0 / 16.0)
    assert(row.getAs[Double]("upper_ratio") == 2.0 / 16.0)
  }

  test("fingerprint is invariant to case, punctuation and extra whitespace") {
    val df = Seq((1L, "Hello,   World!"), (2L, "hello world")).toDF("id", "text")
    val fps = df.select(TF.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  /** The cleaning pass composed stage by stage — sanitize → quality
    * filter → exact dedup → near-dup cluster removal — the reference the
    * one-scan [[CorpusPipeline.funnel]] is checked against. The exact-dedup
    * frame is cached: the near-dup stage scans it four times. */
  private def clean(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      minQuality: Double, numHashes: Int, bands: Int,
      nearDupThreshold: Double): org.apache.spark.sql.DataFrame = {
    val sanitized = graft.operators.Normalize.sanitizeStrings(docs)
    val quality = CorpusPipeline.filterByQuality(sanitized, textCol, minQuality)
    val exact = Dedup.exactDedup(quality, idCol, Seq(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.minhashNearDuplicates(
      exact, idCol, textCol, 5, numHashes, bands, nearDupThreshold)
    Dedup.dropNearDuplicates(exact, idCol, pairs)
  }

  test("corpus cleaning pipeline removes exact and near duplicates, keeps distinct docs") {
    val cleaned = clean(docs, "doc_id", "text",
      minQuality = 0.0, numHashes = 64, bands = 32, nearDupThreshold = 0.6)
    val ids = cleaned.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(4L)) // exact dup of 1 removed
    assert(!ids.contains(2L)) // near-dup of 1 clustered away
    assert(ids.contains(1L) && ids.contains(3L) && ids.contains(5L))
    val funnel = CorpusPipeline.funnel(docs, "doc_id", "text", minQuality = 0.0)
      .as[(String, Long)].collect().toMap
    assert(funnel("0_input") == 5L)
    assert(funnel("2_exact_dedup") == 4L)
  }

  /** The built-ins-only quality-score formula (3 regex passes + 2
    * tokenizations per evaluation): the spec `TF.qualityScore`'s native
    * expression is tested against. */
  private def qualityScoreColumns(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0d), lit(1.0d))
    val wordScore = when(TF.meanTokenLen(c).between(3.0, 12.0), 1.0d).otherwise(0.5d)
    val punctPenalty = lit(1.0d) - least(TF.punctRatio(c) * 4.0d, lit(1.0d))
    val digitPenalty = lit(1.0d) - least(TF.digitRatio(c) * 4.0d, lit(1.0d))
    val stopScore = least(TF.stopwordRatio(c) * 3.0d, lit(1.0d))
    (lenScore + wordScore + punctPenalty + digitPenalty + stopScore) / lit(5.0d)
  }

  /** The built-ins-only language-ID formula: per language, the count of
    * its marker words among the lowercase tokens; argmax in language
    * order, `und` when no marker is seen. The spec `TF.langId`'s native
    * expression is tested against. */
  private def langIdColumns(c: Column): Column = {
    val scores = TF.languageOrder.map(l =>
      size(filter(TF.tokens(lower(c)), t => t.isin(TF.languageMarkers(l): _*))))
    val best = greatest(scores: _*)
    TF.languageOrder.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(best > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  test("native quality score is bit-identical to the built-ins-only formula") {
    val df = Seq(
      "", "   ", "a", "The quick brown fox, with 42 reasons!",
      "ALL CAPS AND 123456 DIGITS ....", "the of and to in a is that for it",
      "x" * 600, ("word " * 200).trim, "\ttabs\nand\rnewlineshere",
      "punct-only: .,;:!?'\"()[]-", "1234567890 " * 30
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(
      TF.qualityScore(col("text")).as("native"),
      qualityScoreColumns(col("text")).as("columns")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} columns=${r.getDouble(1)}")
    }
  }

  test("native language-ID matches the built-ins-only formula") {
    val df = Seq(
      "", "the cat is on the mat", "le chat est dans la maison",
      "der hund und die katze", "el perro con el gato", "il cane che corre",
      "zzz qqq", "the le der el il the le der el il", // cross-language tie mix
      "THE AND OF", "the\tand\nof"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(TF.langId(col("text")).as("native"),
      langIdColumns(col("text")).as("columns")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1),
      s"native=${r.getString(0)} columns=${r.getString(1)}"))
  }

  test("empty/token-less docs never pair in the LSH near-dup pipelines") {
    val df = Seq(
      (1L, ""), (2L, ""), (3L, "   "), // degenerate: empty / whitespace-only
      (4L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (5L, "the quick brown fox jumps over the lazy dog and runs away fast")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashNearDuplicates(df, "doc_id", "text",
      shingleSize = 5, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh == Set((4L, 5L))) // empties excluded, real dup found
    val sh = Dedup.simhashNearDuplicates(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh == Set((4L, 5L)))
  }

  test("split assignment is exhaustive, deterministic, and roughly proportional") {
    val df = spark.range(0, 10000).toDF("id")
    val splits = Sampling.splitAssign(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == 10000L) // every row assigned exactly once
    assert(math.abs(splits("train") - 8000L) < 300)
    assert(math.abs(splits("val") - 1000L) < 150)
    // stable under repartitioning
    val again = Sampling.splitAssign(df.repartition(7), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits == again)
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(df, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("cross-corpus dedup drops batch docs near-duplicating the reference") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated reference content about spark plans")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"), // dup of 1
      (11L, "fresh new document that matches nothing in the reference corpus")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDuplicates(batch, ref, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)))
    val kept = Dedup.dropCrossCorpusDuplicates(batch, ref, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
  }

  test("bloom-prefiltered cross-corpus dedup equals the direct band join on real data") {
    // the sketch only removes definite negatives, so output equality with
    // the unfiltered operator must hold exactly — checked on the real
    // corpus where both planted dups and mostly-novel batch docs exist
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.where(col("doc_id") < 40)
    val batch = docs.where(col("doc_id") >= 40)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "ref_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val direct = key(Dedup.crossCorpusNearDuplicates(batch, ref, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5))
    val bloomed = key(Dedup.crossCorpusNearDuplicatesBloom(batch, ref, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5))
    assert(bloomed == direct)
    assert(direct.nonEmpty, "testdata should contain cross-corpus near-dups")
  }

  test("staged-signature cross-corpus dedup matches the direct computation") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated reference content about spark plans")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "fresh new document that matches nothing in the reference corpus")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-staged-sigs").toString
    Dedup.stageSignatures(ref, "doc_id", "text", dir, numHashes = 64, bands = 32)
    val staged = Dedup.crossCorpusNearDuplicatesStaged(batch, "doc_id", "text", dir,
      numHashes = 64, bands = 32, threshold = 0.6)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    val direct = Dedup.crossCorpusNearDuplicates(batch, ref, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(staged == direct && staged == Set((10L, 1L)))
  }

  test("near-dup clustering works with string ids (URLs/UUIDs), both tiers") {
    val pairs = Seq(
      ("url-b", "url-c"), ("url-a", "url-b"), // chain a-b-c
      ("url-x", "url-y")).toDF("id_a", "id_b")
    val local = Dedup.resolveDuplicateClusters(pairs)
      .as[(String, String)].collect().toMap
    assert(local == Map(
      "url-a" -> "url-a", "url-b" -> "url-a", "url-c" -> "url-a",
      "url-x" -> "url-x", "url-y" -> "url-x"))
    // distributed star-contraction tier (forced by a zero local limit)
    // agrees — including string-min component labels
    val viaStar = Dedup.resolveDuplicateClusters(pairs, localPairLimit = 0)
      .as[(String, String)].collect().toMap
    assert(viaStar == local)
    // full pipeline with string ids end to end
    val docs = Seq(
      ("u1", "the quick brown fox jumps over the lazy dog and runs far away"),
      ("u2", "the quick brown fox jumps over the lazy dog and runs far away"),
      ("u3", "entirely different document content here")).toDF("url", "text")
    val cleaned = clean(docs, "url", "text",
      minQuality = 0.0, numHashes = 64, bands = 32, nearDupThreshold = 0.6)
      .select("url").as[String].collect().toSet
    assert(cleaned == Set("u1", "u3"))
  }

  test("bucketed staged bands: exchange-free reference side, same pairs as direct") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated reference content about spark plans")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "fresh new document that matches nothing in the reference corpus")
    ).toDF("doc_id", "text")
    graft.sources.Tables.writeBucketed(
      Dedup.bandStagingFrame(ref, "doc_id", "text", numHashes = 64, bands = 32),
      "ref_bands_test", "bkey", buckets = 4)
    try {
      val got = Dedup.crossCorpusNearDuplicatesBucketed(batch, ref, "doc_id", "text",
        "ref_bands_test", numHashes = 64, bands = 32, threshold = 0.6)
        .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 1L)))
      // plan shape: the candidate join must not exchange the bucketed side —
      // exactly one Exchange (the batch side entering the bucket layout)
      val sh = graft.plans.NativeExpressions.charShingles(col("text"), 5)
      val nb = batch.select(col("doc_id").as("new_id"),
        posexplode(graft.plans.NativeExpressions.minhashBands(sh, 64, 32))
          .as(Seq("band", "bhash")))
        .select(col("new_id"), concat_ws(":", col("band"), col("bhash")).as("bkey"))
      val joined = nb.join(spark.table("ref_bands_test"), Seq("bkey"))
      val exchanges = joined.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
      assert(exchanges == 1, s"expected 1 exchange (batch side only), got $exchanges")
    } finally spark.sql("DROP TABLE IF EXISTS ref_bands_test")
  }

  test("hash sample is deterministic and stable under repartitioning") {
    val df = spark.range(0, 10000).toDF("id")
    val a = Sampling.hashSample(df, "id", 0.25, seed = "t").select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(df.repartition(7), "id", 0.25, seed = "t")
      .select("id").as[Long].collect().toSet
    assert(a == b)                      // layout-independent
    assert(math.abs(a.size - 2500) < 200) // ~25% within sampling noise
    assert(Sampling.hashSample(df, "id", 0.0).count() == 0L)
  }

  test("mixture sample applies per-stratum fractions") {
    val df = spark.range(0, 8000)
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
    val kept = Sampling.mixtureSample(df, "id", "src", Map("s0" -> 1.0, "s1" -> 0.25))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("s0") >= 3990L)               // ~all of s0 (1.0 keeps all but 2^-32)
    assert(math.abs(kept("s1") - 1000L) < 200) // ~25% of s1
  }

  test("shuffle order assigns a stable permutation 0..n-1") {
    val df = spark.range(0, 500).toDF("id")
    val out = Sampling.shuffleOrder(df, "id", seed = "s").select("position", "id")
      .as[(Long, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == (0L until 500L))
    // deterministic across runs and layouts
    val out2 = Sampling.shuffleOrder(df.repartition(13), "id", seed = "s")
      .select("position", "id").as[(Long, Long)].collect()
    assert(out.toMap == out2.toMap)
    // actually permuted (astronomically unlikely to be identity)
    assert(out.toMap.exists { case (pos, id) => pos != id })
  }

  test("shuffle order leaves nothing persisted behind") {
    // the original sort+zipWithIndex design leaked one persisted copy of
    // the corpus per call (bridging zipWithIndex's eager size job); the
    // bucket-offset design never touches the block manager
    val df = spark.range(0, 2000).toDF("id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Sampling.shuffleOrder(df, "id", seed = "leak").count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty)
  }

  test("token windows cover every token with the configured overlap") {
    val text = (1 to 95).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val rows = TextAnalysis.tokenWindows(df, "doc_id", "text", windowSize = 50, stride = 40)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    val d1 = rows.filter(_._1 == 1L)
    assert(d1.map(r => (r._2, r._3)).toSeq == Seq((0L, 50L), (1L, 50L), (2L, 15L)))
    assert(d1(0)._4.startsWith("w1 ") && d1(1)._4.startsWith("w41 ") && d1(2)._4.startsWith("w81 "))
    assert(rows.count(_._1 == 2L) == 0) // empty doc -> no windows
    assert(rows.filter(_._1 == 3L).map(_._3).toSeq == Seq(2L))
  }

  test("top terms rank by tf desc, df asc, term asc") {
    val df = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana banana cherry common"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(df, "doc_id", "text", k = 2)
      .select("doc_id", "term", "rank").as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(top(1L) == Seq("apple", "banana"))  // tf=2 wins; then banana (df 2) over common (df 3)
    assert(top(2L) == Seq("banana", "cherry"))
    assert(top(3L) == Seq("cherry", "common")) // tf tie -> lower df first
  }

  test("sequence packing: cumulative layout, straddling docs, empty docs excluded") {
    // shard a: 3 + 4 + 2 tokens, seqLen 5 → doc 1 at (0,0); doc 2 starts
    // at offset 3 and STRADDLES into pack 1; doc 3 at (1,2). shard b
    // restarts the stream. whitespace-only and null docs vanish.
    val df = Seq(
      (1L, "t1 t2 t3", "a"),
      (2L, "t1 t2 t3 t4", "a"),
      (3L, "t1 t2", "a"),
      (4L, "   ", "a"),
      (5L, "t1", "b"),
      (6L, null.asInstanceOf[String], "b")).toDF("doc_id", "text", "source")
    val packed = TextAnalysis.packSequences(df, "doc_id", "text", "source", seqLen = 5)
      .select("doc_id", "n_tokens", "pack_id", "offset")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(packed(1L) == ((3L, 0L, 0L)))
    assert(packed(2L) == ((4L, 0L, 3L))) // begins in pack 0, spills into 1
    assert(packed(3L) == ((2L, 1L, 2L))) // 7 tokens precede it
    assert(packed(5L) == ((1L, 0L, 0L))) // shard b's own stream
    assert(!packed.contains(4L) && !packed.contains(6L))
  }

  test("source quota caps each stratum exactly and is partitioning-stable") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Sampling.quotaSample(docs, "doc_id", "source", maxPerStratum = 3, seed = "q")
    val perSource = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perSource.values.forall(_ <= 3))
    // a stratum with >= 3 docs is filled to exactly the quota
    val large = docs.groupBy("source").count().where(col("count") >= 3)
      .select("source").as[String].collect()
    large.foreach(s0 => assert(perSource(s0) == 3L, s"stratum $s0 under-filled"))
    // stable under repartitioning — same kept keys
    val ids1 = kept.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.quotaSample(docs.repartition(7), "doc_id", "source", 3, "q")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("inverted index: df/tf_total per term, posting head bounded and ascending") {
    val df = Seq(
      (30L, "apple apple banana"),
      (10L, "banana apple"),
      (20L, "banana cherry"),
      (40L, "")).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(df, "doc_id", "text", maxPostings = 2)
      .select("term", "df", "tf_total", "postings")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // apple: docs {30(tf2), 10(tf1)} -> df 2, tf 3, head = 2 smallest ids
    assert(idx("apple") == ((2L, 3L, "10,30")))
    // banana appears in 3 docs but the posting head is capped at 2
    assert(idx("banana") == ((3L, 3L, "10,20")))
    assert(idx("cherry") == ((1L, 1L, "20")))
    // token-less doc contributes no terms
    assert(!idx.contains(""))
  }

  test("bounded-heap top-k aggregator: reduce/merge keep the k best with tie-breaks") {
    import graft.plans.{TopKAggregator, ScoredId}
    val agg = new TopKAggregator(3)
    val items = Seq(
      ScoredId(5, 0.1), ScoredId(1, 0.9), ScoredId(2, 0.9), ScoredId(3, 0.5),
      ScoredId(4, 0.7), ScoredId(6, 0.9))
    val (left, right) = items.splitAt(3)
    val merged = agg.merge(
      left.foldLeft(agg.zero)(agg.reduce),
      right.foldLeft(agg.zero)(agg.reduce))
    // best three: score desc, id asc on ties (0.9: ids 1,2,6)
    assert(merged == Seq(ScoredId(1, 0.9), ScoredId(2, 0.9), ScoredId(6, 0.9)))
    // distributed equivalence against the window form on real data
    val emb = spark.range(0, 50).select(col("id").as("vec_id"),
      array((0 until 4).map(d => pmod(xxhash64(col("id"), lit(d)), lit(97)).cast("float") / 97f): _*)
        .as("embedding"))
    val qs = emb.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val viaWindow = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, "qid", "qvec", 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val viaAgg = Similarity.bruteForceTopKAgg(emb, "vec_id", "embedding", qs, "qid", "qvec", 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("IVF with full probes equals brute force; k-means refinement preserves that") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 120L).map { i =>
      val center = (i % 3).toInt
      (i, Array.tabulate(8)(d => (if (d % 3 == center) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val brute = ranked(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "qid", "qvec", k = 5))
    val fullProbe = ranked(Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, nlist = 6, nprobe = 6))
    assert(fullProbe == brute) // probing every bucket = exact
    val refined = ranked(Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, nlist = 6, nprobe = 6, refineIters = 2))
    assert(refined == brute) // refinement moves buckets, not the answer set
    // partial probes on well-separated clusters still find the neighbors
    val partial = ranked(Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, nlist = 6, nprobe = 3, refineIters = 2))
    val recall = partial.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("repetition profile flags looping text") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),          // one bigram repeated 4/4
      (2L, "all words here are fully distinct"), // every bigram unique
      (3L, "x")                                   // too short: excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionProfile(df, "doc_id", "text")
      .select("doc_id", "top_bigram_share").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.2) // 5 bigrams, max count 1
    assert(!got.contains(3L))
  }

  test("top bigrams count adjacent pairs with deterministic ordering") {
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("id", "text")
    val got = TextAnalysis.topBigrams(df, "text", k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("PII redaction replaces emails and long digit runs, counts them consistently") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.com and card 1234567890 end"),
      (2L, "clean text 12345 short")).toDF("id", "text")
    val byId = df.select(col("id"), TF.redactPii(col("text")).as("r"),
      TF.piiCount(col("text")).as("n")).collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byId(1L)._1 == "mail <EMAIL> and card <NUM> end")
    assert(byId(1L)._2 == 2L)
    assert(byId(2L)._1 == "clean text 12345 short") // 5 digits: below threshold
    assert(byId(2L)._2 == 0L)
  }

  test("multimodal pipeline: media table schema + batch feature extraction") {
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema("content").dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 5)
    val f = feats.head()
    assert(f.features.length == Multimodal.FeatureDim)
    // deterministic: same payload -> same features
    val f1 = feats.filter(_.media_id == 1L).head().features.toSeq
    val f4 = feats.filter(_.media_id == 4L).head().features.toSeq
    assert(f1 == f4) // docs 1 and 4 have identical text/bytes
  }

  test("media decode: synthesized BMP/WAV/PNG/JPEG payloads parse back to their formula fields") {
    val ids = spark.range(0, 40).toDF("doc_id")
    val media = Multimodal.synthesizeMedia(ids, "doc_id")
    val out = Multimodal.decodeMedia(media).collect().map(d => d.media_id -> d).toMap
    assert(out.size == 40)
    (0L until 40L).foreach { id =>
      val d = out(id)
      (id % 4) match {
        case 0 =>
          assert(d.kind == "bmp", s"id=$id")
          assert(d.width.contains((id % 7 + 1).toInt), s"id=$id got ${d.width}")
          assert(d.height.contains((id % 5 + 1).toInt), s"id=$id got ${d.height}")
          assert(d.sample_rate.isEmpty && d.n_samples.isEmpty && d.duration_ms.isEmpty)
        case 1 =>
          val sr = (8000 + (id % 8) * 1000).toInt
          val ns = id % 400 + 1
          assert(d.kind == "wav", s"id=$id")
          assert(d.sample_rate.contains(sr), s"id=$id got ${d.sample_rate}")
          assert(d.n_samples.contains(ns), s"id=$id got ${d.n_samples}")
          assert(d.duration_ms.contains(ns * 1000.0 / sr), s"id=$id")
          assert(d.width.isEmpty && d.height.isEmpty)
        case 2 =>
          assert(d.kind == "png", s"id=$id")
          assert(d.width.contains((id % 640 + 1).toInt), s"id=$id got ${d.width}")
          assert(d.height.contains((id % 480 + 1).toInt), s"id=$id got ${d.height}")
          assert(d.sample_rate.isEmpty && d.n_samples.isEmpty)
        case _ =>
          assert(d.kind == "jpeg", s"id=$id")
          assert(d.width.contains((id % 1920 + 1).toInt), s"id=$id got ${d.width}")
          assert(d.height.contains((id % 1080 + 1).toInt), s"id=$id got ${d.height}")
          assert(d.sample_rate.isEmpty && d.n_samples.isEmpty)
      }
      assert(d.payload_md5.length == 32)
    }
    // distinct payloads -> distinct hashes (the fill byte + dims vary by id)
    assert(out.values.map(_.payload_md5).toSet.size == 40)
  }

  test("video frame sampling: stride rule, exact luma, malformed quarantine") {
    val ids = spark.range(0, 30).toDF("doc_id")
    val vids = Multimodal.synthesizeVideo(ids, "doc_id")
    val out = Multimodal.sampleVideoFrames(vids, targetFrames = 6).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    assert(out.size == 30)
    (0L until 30L).foreach { id =>
      val fs = out(id)
      val w = (id % 4 + 2).toInt; val h = (id % 3 + 2).toInt
      val nf = (id % 23 + 1).toInt
      val stride = math.max(1, (nf + 5) / 6)
      val wantIdx = (0 until nf by stride).toSeq
      assert(fs.map(_.frame_idx).toSeq == wantIdx, s"id=$id")
      assert(fs.forall(f => f.width == w && f.height == h && f.n_frames == nf))
      assert(fs.length <= 6 && fs.head.frame_idx == 0)
      fs.foreach { f =>
        val fill = ((id * 7 + f.frame_idx * 31) % 256).toInt
        val first = ((id * 7 + f.frame_idx * 31 + f.frame_idx) % 256).toInt
        assert(f.luma_sum == first.toLong + fill.toLong * (w * h - 1), s"id=$id f=${f.frame_idx}")
        assert(f.mean_luma == f.luma_sum.toDouble / (w * h))
        assert(f.frame_md5.length == 32)
      }
    }
    // a clip long enough to need stride > 1 actually subsamples
    assert(out(22L).length < out(22L).head.n_frames)
    // malformed payloads (bad magic / truncated) quarantine to zero rows
    import spark.implicits._
    val junk = Seq(
      (100L, "nope".getBytes),
      (101L, Array[Byte]('G', 'V', 'I', '1', 0, 2, 0, 2, 0, 9))) // claims 9 frames, has none
      .toDF("media_id", "content")
    assert(Multimodal.sampleVideoFrames(junk, 6).count() == 0)
  }

  test("scene cuts: fires exactly on the planted luma jump, gain of threshold respected") {
    import spark.implicits._
    // hand-built GVI1: 2x2, 5 frames with fills 10,10,200,200,10 —
    // cuts exactly at frames 2 and 4 (|delta| = 190*4 >= 100*4);
    // frame 1 (delta 0) and frame 3 (delta 0) must NOT fire
    def gvi(fills: Seq[Int]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(10 + 4 * fills.length)
      b.put("GVI1".getBytes)
      b.putShort(2); b.putShort(2); b.putShort(fills.length.toShort)
      fills.foreach(f => (0 until 4).foreach(_ => b.put(f.toByte)))
      b.array()
    }
    val vids = Seq((1L, gvi(Seq(10, 10, 200, 200, 10)))).toDF("media_id", "content")
    val cuts = Multimodal.sceneCuts(vids, thrPerPixel = 100).collect()
      .sortBy(_.frame_idx)
    assert(cuts.map(_.frame_idx).toSeq == Seq(2L, 4L), cuts.mkString(", "))
    assert(cuts.forall(_.abs_sum_delta == 190L * 4))
    // a jump below threshold stays quiet; single-frame clips emit nothing
    assert(Multimodal.sceneCuts(
      Seq((2L, gvi(Seq(10, 10, 108)))).toDF("media_id", "content"), 100)
      .count() == 0)
    assert(Multimodal.sceneCuts(
      Seq((3L, gvi(Seq(42)))).toDF("media_id", "content"), 100).count() == 0)
    // malformed payloads quarantine
    assert(Multimodal.sceneCuts(
      Seq((4L, "nope".getBytes)).toDF("media_id", "content"), 100).count() == 0)
  }

  test("JPEG marker walk skips unknown segments and survives truncation") {
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // SOI + COM segment + DQT-ish segment BEFORE SOF0: the walk must skip
    // by each segment's declared length, not assume the synthesized layout
    val com = Array(0xff.toByte, 0xfe.toByte) ++ be16(7) ++ "hello".getBytes
    val dqt = Array(0xff.toByte, 0xdb.toByte) ++ be16(4) ++ Array[Byte](0, 1)
    val sof = Array(0xff.toByte, 0xc0.toByte) ++ be16(11) ++ Array(8.toByte) ++
      be16(600) ++ be16(800) ++ Array[Byte](1, 0x11, 0)
    val jpg = Array(0xff.toByte, 0xd8.toByte) ++ com ++ dqt ++ sof ++
      Array(0xff.toByte, 0xd9.toByte)
    val hd = Multimodal.parseHeader(jpg)
    assert(hd.exists(h => h.kind == "jpeg" &&
      h.width.contains(800) && h.height.contains(600)))
    // EOI before any SOF (no frame header) and a mid-segment truncation
    // both quarantine instead of throwing
    assert(Multimodal.parseHeader(
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)).isEmpty)
    assert(Multimodal.parseHeader(jpg.take(9)).isEmpty)
  }

  test("dHash image near-dup: planted same-pattern variants pair, distinct patterns do not") {
    // ids 0..119 at pid = id % 50: ids {7, 57, 107} share pattern 7 with
    // one perturbed pixel per variant -> within Hamming <= 4 of each
    // other and <= 2 of the original; different pids share no pairs at
    // the measured fixture (step-varying gradient)
    val imgs = Multimodal.synthesizeGradientImages(
      spark.range(0, 120).toDF("doc_id"), "doc_id")
    val pairs = Multimodal.nearDuplicatesFromFingerprints(
        Multimodal.imageFingerprints(imgs), maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    // every pair shares a pattern id, and the planted (7, 57) pair is found
    assert(pairs.forall { case (a, b, _) => a % 50 == b % 50 })
    assert(pairs.exists { case (a, b, h) => a == 7L && b == 57L && h <= 2 })
    // the fingerprint itself: variant differs from original in <= 2 bits
    val fp = imgs.as[(Long, Array[Byte])].collect().toMap
      .map { case (id, bytes) => id -> Multimodal.dHash64(bytes).get }
    assert(java.lang.Long.bitCount(fp(7L) ^ fp(57L)) <= 2)
    assert(java.lang.Long.bitCount(fp(7L) ^ fp(8L)) > 3)
  }

  test("WAV chunk walk survives a non-canonical layout; junk payloads quarantine") {
    import java.nio.{ByteBuffer, ByteOrder}
    // RIFF/WAVE with a LIST chunk BETWEEN fmt and data (real-world shape
    // the canonical-offset shortcut would misparse)
    def le32(v: Int): Array[Byte] =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def le16(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(44100) ++ le32(88200) ++ le16(2) ++ le16(16)
    val list = "LIST".getBytes ++ le32(4) ++ "INFO".getBytes
    val data = "data".getBytes ++ le32(200) ++ Array.fill[Byte](200)(7)
    val body = fmt ++ list ++ data
    val wav = "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
    val hd = Multimodal.parseHeader(wav)
    assert(hd.exists(h => h.kind == "wav" && h.sampleRate.contains(44100) &&
      h.nSamples.contains(100L)))
    // junk bytes: kind "unknown", no fields, no exception
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
    val u = Multimodal.decodeMedia(junk).head()
    assert(u.kind == "unknown" && u.width.isEmpty && u.sample_rate.isEmpty)
  }

  /** The engine-portable HOF reference of [[TextAnalysis.repetitionProfile]]:
    * the most frequent bigram's count equals the longest run of equal
    * elements in the row's SORTED bigram array. */
  private def repetitionProfileHof(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = TF.tokens(lower(col(textCol)))
    val base = df.select(col(idCol), toks.as("__toks")).where(size(col("__toks")) >= 2)
    val bigrams = zip_with(
      slice(col("__toks"), lit(1), size(col("__toks")) - 1),
      slice(col("__toks"), lit(2), size(col("__toks")) - 1),
      (a, b) => concat_ws(" ", a, b))
    val maxRun = aggregate(
      array_sort(bigrams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    // max_c lands in its own projection first: referencing maxRun twice in
    // one select would inline (and evaluate) the sort+fold tree twice per
    // row — HOF subtrees are not subexpression-eliminated
    base.select(col(idCol),
      (size(col("__toks")) - 1).cast("long").as("n_bigrams"),
      maxRun.as("max_c"))
      .withColumn("top_bigram_share",
        col("max_c").cast("double") / col("n_bigrams").cast("double"))
  }

  test("repetition profile: native kernel equals the HOF reference form") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all words here are fully distinct"),
      (3L, "x"),                                  // <2 tokens: both exclude
      (4L, "A a A a a"),                          // case folding
      (5L, "tab\tand  multi   space split"),
      (6L, null.asInstanceOf[String])             // NULL text: both exclude
    ).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "n_bigrams", "max_c", "top_bigram_share")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows(TextAnalysis.repetitionProfile(df, "doc_id", "text")) ==
      rows(repetitionProfileHof(df, "doc_id", "text")))
  }

  test("duplicate-line profile flags lines shared across documents") {
    val d = Seq(
      (1L, "a b c d e f g h"),         // lines: "a b c d", "e f g h"
      (2L, "a b c d x y z w"),         // shares "a b c d" with doc 1
      (3L, "p q r s"),                 // one unique line
      (4L, "m m m m m m m m")          // same line twice WITHIN one doc:
    ).toDF("doc_id", "text")           //   distinct → 1 line, not corpus-dup
    val out = Dedup.duplicateLineProfile(d, "doc_id", "text", lineTokens = 4)
      .select("doc_id", "n_lines", "n_dup_lines", "dup_line_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((1L, 0L, 0.0)))
    // a short tail line ("i j" below) is still a line
    val tail = Dedup.duplicateLineProfile(
      Seq((9L, "a b c d i j")).toDF("doc_id", "text"), "doc_id", "text", 4)
      .select("n_lines").as[Long].head()
    assert(tail == 2L)
  }

  test("benchmark overlap measures n-gram leakage against the eval set") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim leak
      (2L, "alpha beta gamma nope nope2 nope3"),   // 1 of 4 grams leaked
      (3L, "unrelated words only here today now"), // clean
      (4L, "xy")                                   // sub-n doc: one short gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.benchmarkOverlap(corpus, bench, "doc_id", "text",
      n = 3, flagAt = 0.5)
      .select("doc_id", "n_grams", "n_hit", "overlap", "contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((4L, 4L, 1.0, true)))
    assert(out(2L) == ((4L, 1L, 0.25, false)))
    assert(out(3L) == ((4L, 0L, 0.0, false)))
    assert(out(4L) == ((1L, 0L, 0.0, false)))
  }

  test("tfidf terms carry the smoothed score; ranks stay integer-ordered") {
    val out = TextAnalysis.tfidfTerms(docs, "doc_id", "text", k = 3)
    val top = TextAnalysis.topTerms(docs, "doc_id", "text", k = 3)
    // same rows/ordering as topTerms (the score must never affect rank)
    assert(out.select("doc_id", "term", "tf", "df", "rank").collect().toSet ==
      top.collect().toSet)
    val n = docs.count().toDouble
    out.select("tf", "df", "tfidf").as[(Long, Long, Double)].collect().foreach {
      case (tf, df, score) =>
        val expect = BigDecimal(tf * (math.log((1.0 + n) / (1.0 + df)) + 1.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(score == expect, s"tf=$tf df=$df")
    }
  }

  test("unigram cross-entropy replays the milli-nat-quantized LM formula") {
    val corpus = Seq(
      (1L, "a a b"),
      (2L, "b c"),
      (3L, null.asInstanceOf[String]), // no tokens -> no row
      (4L, "  ")                       // whitespace-only -> no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramCrossEntropy(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // LM over N=5 tokens: a->2, b->2, c->1
    def mnats(tf: Long, ctf: Long): Long =
      math.floor(tf.toDouble * math.log(5.0 / ctf.toDouble) * 1000.0 + 0.5).toLong
    def xent(parts: Seq[(Long, Long)]): Double = {
      val n = parts.map(_._1).sum
      BigDecimal(parts.map { case (tf, c) => mnats(tf, c) }.sum.toDouble / (n.toDouble * 1000.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, xent(Seq(2L -> 2L, 1L -> 2L)))))  // "a a b"
    assert(out(2L) == ((2L, xent(Seq(1L -> 2L, 1L -> 1L)))))  // "b c"
    // rare-token text must score strictly higher than stereotypical text
    assert(out(2L)._2 > out(1L)._2)
  }

  test("bigram cross-entropy: transition-aware — scrambled word order scores higher") {
    // Same unigram bag in docs 10/11 — a unigram LM cannot tell them
    // apart; only the bigram transitions differ. The corpus majority
    // establishes "the quick fox" as the fluent order.
    val fluent = "the quick fox jumps over the lazy dog"
    val corpus = Seq(
      (1L, fluent), (2L, fluent), (3L, fluent), (4L, fluent),
      (10L, "the quick fox the quick fox"),
      (11L, "fox the quick fox quick the"),
      (20L, "x"), // single token -> no bigram positions -> absent
      (21L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCrossEntropy(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out.contains(20L) && !out.contains(21L))
    assert(out(10L)._1 == 5L && out(11L)._1 == 5L, "5 bigram positions each")
    assert(out(11L)._2 > out(10L)._2,
      s"scrambled order must surprise the bigram LM: $out")
    // the stereotypical doc scores below the off-corpus ones
    assert(out(1L)._2 < out(10L)._2)
    assert(out.values.forall(_._2 > 0.0))
  }

  test("importance weights replay the smoothed log-likelihood-ratio formula") {
    val corpus = Seq(
      (1L, "a a b", true),   // target domain
      (2L, "b c", false),
      (3L, "a x", false),
      (4L, null.asInstanceOf[String], false) // no tokens -> no row
    ).toDF("doc_id", "text", "is_t")
    val out = TextAnalysis.importanceWeights(corpus, "doc_id", "text", col("is_t"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // Nt=3 (doc 1), Nr=4 (docs 2,3), V=4 {a,b,c,x}
    // term (tc, rc): a (2,1), b (1,1), c (0,1), x (0,1)
    def mnats(tf: Long, tc: Long, rc: Long): Long =
      math.floor(tf.toDouble *
        (math.log((tc + 1.0) / 7.0) - math.log((rc + 1.0) / 8.0)) * 1000.0 + 0.5).toLong
    def lw(parts: Seq[(Long, Long, Long)]): Double =
      parts.map((mnats _).tupled).sum.toDouble / 1000.0
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((3L, lw(Seq((2L, 2L, 1L), (1L, 1L, 1L))))))  // a a b
    assert(out(2L) == ((2L, lw(Seq((1L, 1L, 1L), (1L, 0L, 1L))))))  // b c
    assert(out(3L) == ((2L, lw(Seq((1L, 2L, 1L), (1L, 0L, 1L))))))  // a x
    // target-like text must outscore raw-only text
    assert(out(1L)._2 > out(2L)._2)
  }

  test("bm25 replays the milli-quantized Okapi formula with deterministic top-k") {
    val corpus = Seq(
      (1L, "spark spark merge x y"), // dl=5: spark tf=2, merge tf=1
      (2L, "spark z z z"),           // dl=4: spark tf=1
      (3L, "vector"),                // dl=1: vector tf=1
      (4L, "nothing relevant here")  // no query terms -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(corpus, "doc_id", "text",
        Seq("spark", "merge", "vector"))
      .as[(Long, Long, Double)].collect()
    // N=4 docs, 13 tokens, avgdl=3.25; df: spark=2, merge=1, vector=1
    def mu(tf: Long, dl: Long, df: Long): Long = {
      val idf = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
      val norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.25))
      math.floor(idf * norm * 1000.0 + 0.5).toLong
    }
    def score(parts: Seq[(Long, Long, Long)]): Double =
      parts.map((mu _).tupled).sum.toDouble / 1000.0
    val expected = Map(
      1L -> ((2L, score(Seq((2L, 5L, 2L), (1L, 5L, 1L))))), // spark + merge
      2L -> ((1L, score(Seq((1L, 4L, 2L))))),
      3L -> ((1L, score(Seq((1L, 1L, 1L))))))
    assert(out.map(r => r._1 -> ((r._2, r._3))).toMap == expected)
    // rows arrive ranked (score desc, id asc) — rarer terms outrank common
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L))
  }

  test("source divergence is exactly 0 for identical strata, ln2 for disjoint") {
    val same = Seq(("s1", "a b"), ("s2", "a b")).toDF("source", "text")
    val sameOut = TextAnalysis.sourceDivergence(same, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(sameOut == Map("s1" -> 0.0, "s2" -> 0.0))
    // disjoint vocabularies: each stratum is half the blend, so every term
    // contributes tf·ln2 — milli-nat floor makes the exact sum checkable
    val disjoint = Seq(("s1", "a a b"), ("s2", "c c d")).toDF("source", "text")
    val out = TextAnalysis.sourceDivergence(disjoint, "source", "text")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // per stratum: floor(2·ln2·1000+.5)+floor(ln2·1000+.5) = 1386+693 ->
    // 2079/3000 = 0.693
    assert(out == Map("s1" -> ((3L, 2L, 0.693)), "s2" -> ((3L, 2L, 0.693))))
  }

  test("zipf profile counts terms per frequency") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.zipfProfile(corpus, "text")
      .as[(Long, Long)].collect().toSeq
    // a->2, b->2, c->1: one singleton term, two doubletons — ordered by freq
    assert(out == Seq((1L, 1L), (2L, 2L)))
  }

  test("embedding dimension stats: micro-unit fixed-point moments are exact") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f)),
      (2L, Array(0.25f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimensionStats(df, "embedding")
      .orderBy("dim")
      .as[(Int, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      // floor(-0.5e6 + 0.5) = -500000: the +0.5 nudge is symmetric-exact here
      (0, 2L, 1250000L, 1062500000000L, 250000L, 1000000L, 0.625),
      (1, 2L, 0L, 500000000000L, -500000L, 500000L, 0.0)))
  }

  test("containmentPairs finds the quoted-inside direction Jaccard misses") {
    // B contains A verbatim plus as much again: every word-3-gram of A
    // appears in B, so containment(A->B) = 1.0, while Jaccard(A,B) ~ 0.5
    // sits below any near-dup threshold
    val a = "alpha beta gamma delta epsilon zeta"
    val b = a + " eta theta iota kappa lambda mu nu xi"
    val c = "one two three four five six seven"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", ngram = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toList
    assert(pairs == List((1L, 2L, 1.0)))
  }

  test("weightedSample is deterministic, WOR, and weight-proportional") {
    // 50 heavy rows (w=1000) + 50 light rows (w=1): a 25-row sample must
    // be dominated by heavy rows under any reasonable draw
    val df = ((1L to 50L).map(i => (i, 1000L)) ++ (51L to 100L).map(i => (i, 1L)))
      .toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", col("w"), k = 25, seed = "t")
      .select("id").as[Long].collect().sorted.toSeq
    val s2 = Sampling.weightedSample(df, "id", col("w"), k = 25, seed = "t")
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 == s2, "same seed must reproduce the same sample")
    assert(s1.distinct.size == 25, "sampling is without replacement")
    assert(s1.count(_ <= 50L) >= 20, s"heavy rows underrepresented: $s1")
    // a different seed draws a different sample
    val s3 = Sampling.weightedSample(df, "id", col("w"), k = 25, seed = "u")
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 != s3)
  }

  test("Spark unpivot keeps NULL values (the column-profile contract)") {
    // q_column_profile's n_nulls depends on melt KEEPING nulls; DuckDB's
    // UNPIVOT keyword drops them, which is why the oracle uses UNION ALL.
    // If a Spark upgrade ever changes this, the profile must switch to an
    // explicit stack()/UNION form too.
    val df = Seq((Some("x"), Some("y")), (None, Some("z")))
      .toDF("a", "b")
    val lf = df.unpivot(Array.empty[org.apache.spark.sql.Column],
      Array(col("a"), col("b")), "col_name", "value")
    assert(lf.count() == 4)
    assert(lf.where(col("value").isNull).count() == 1)
  }

  test("keepBestPerCluster selects max priority with min-id tiebreak") {
    // cluster {1,2,3} (min id 1): doc 3 is longest -> best; cluster {7,9}:
    // equal priority -> min id 7 wins the tiebreak
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "keep_id")
    val prio = Seq((1L, 10L), (2L, 50L), (3L, 99L), (7L, 5L), (9L, 5L))
      .toDF("id", "priority")
    val out = Dedup.keepBestPerCluster(clusters, prio)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 7L), (9L, 7L, 7L)))
  }

  test("distributed sorted-neighborhood equals the single-reducer global window") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(9)
    // unique composite keys; input spread over several arbitrary partitions
    val rows = (1 to 400).map(i => (f"k${rnd.nextInt(100)}%03d", f"id$i%04d"))
    val df = rows.toDF("k", "id").repartition(7)
    def naive(w: Int): Set[(String, String)] = {
      val gw = Window.orderBy(col("k"), col("id"))
      (1 to w).map(j => df.withColumn("b", lead(col("id"), j).over(gw))
          .where(col("b").isNotNull).select(col("id"), col("b"))
          .as[(String, String)].collect().toSet)
        .reduce(_ ++ _)
    }
    val expected = naive(3)
    val got = Dedup.sortedNeighborhoodPairs(df, "k", "id", window = 3, numPartitions = 13)
      .as[(String, String)].collect()
    assert(got.length == got.toSet.size, "duplicate pairs emitted")
    assert(got.toSet == expected)
    // degenerate bucketing: more range partitions than rows means empty
    // and sub-window partitions everywhere — the classic boundary-
    // replication scheme under-pairs here; the rank join must not
    val tiny = rows.take(17).toDF("k", "id")
    val gotTiny = Dedup.sortedNeighborhoodPairs(tiny, "k", "id", window = 3, numPartitions = 50)
      .as[(String, String)].collect().toSet
    val gwT = Window.orderBy(col("k"), col("id"))
    val expTiny = (1 to 3).map(j => tiny.withColumn("b", lead(col("id"), j).over(gwT))
        .where(col("b").isNotNull).select(col("id"), col("b"))
        .as[(String, String)].collect().toSet)
      .reduce(_ ++ _)
    assert(gotTiny == expTiny)
  }

  test("sorted-neighborhood payload columns equal the re-joined attachment") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 200).map(i => (f"k${rnd.nextInt(60)}%03d", f"id$i%04d", s"payload-$i"))
    val df = rows.toDF("k", "id", "v")
    val plain = Dedup.sortedNeighborhoodPairs(df, "k", "id", window = 2)
    val withPayload = Dedup.sortedNeighborhoodPairs(df, "k", "id", window = 2,
      payload = Seq("v"))
    assert(withPayload.columns.toSeq == Seq("id_a", "id_b", "v_a", "v_b"))
    // pair set unchanged by the payload pass-through
    assert(withPayload.select(col("id_a"), col("id_b")).as[(String, String)]
      .collect().toSet ==
      plain.as[(String, String)].collect().toSet)
    // each carried value equals what an id-keyed re-join would attach
    val attach = df.select(col("id"), col("v"))
    val rejoined = plain
      .join(attach.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(attach.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
      .as[(String, String, String, String)].collect().toSet
    assert(withPayload.as[(String, String, String, String)].collect().toSet == rejoined)
  }

  test("duplicatedSpanProfile counts cross-doc k-gram positions, not within-doc repeats") {
    val k = 10
    val shared = "ABCDEFGHIJKLMNOPQRS" // 19 chars → 10 k-grams, all shared by docs 1,2
    val df = Seq(
      (1L, shared + "xxxxx"),
      (2L, "yyyyy" + shared),
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzz"),      // within-doc repeats only (z^24)
      (4L, "short")                           // < k: no positions at all
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanProfileFromGrams(
        Dedup.gramIndex(df, "doc_id", "text", k), "doc_id")
      .select("doc_id", "n_positions", "n_dup_positions")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc1: 15 positions, the 10 spanning `shared` are duplicated
    assert(got(1L) == (15L, 10L))
    assert(got(2L) == (15L, 10L))
    // doc3's z-grams repeat 15 times WITHIN the doc — zero cross-doc dups
    assert(got(3L) == (15L, 0L))
    assert(!got.contains(4L))
  }

  test("duplicatedSpans merges hit positions into the exact maximal regions") {
    val k = 10
    val shared = "ABCDEFGHIJKLMNOPQRS" // 19 chars shared by docs 1,2
    val df = Seq(
      (1L, shared + "xxxxx"),           // hits at 1..10 -> one span [1, 19]
      (2L, "yyyyy" + shared),           // hits at 6..15 -> one span [6, 24]
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzz")  // within-doc repeats only: no spans
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpansFromGrams(
        Dedup.gramIndex(df, "doc_id", "text", k), "doc_id", k)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 19L, 19L), (2L, 6L, 24L, 19L)))
    // two DISJOINT shared regions in one doc stay two islands
    val df2 = Seq(
      (1L, shared + "xxxxxxxxxxxx" + shared),
      (2L, shared)
    ).toDF("doc_id", "text")
    val spans2 = Dedup.duplicatedSpansFromGrams(
        Dedup.gramIndex(df2, "doc_id", "text", k), "doc_id", k)
      .where(col("doc_id") === 1L)
      .select("span_start", "span_end").as[(Long, Long)].collect().toSet
    assert(spans2 == Set((1L, 19L), (32L, 50L)), s"got $spans2")
  }

  test("prefixFilterJaccardPairs finds planted near-dups exactly (no LSH miss mode)") {
    val pairs = Dedup.prefixPairsFromRanked(
        Dedup.dfRankedShingleDocs(docs, "doc_id", "text", ngram = 3).localCheckpoint(true), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missing")
    assert(pairs.contains((1L, 2L)), "near-dup pair missing")
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("balancedShards: totals within one max item; adversarial sizes beat the modulo deal") {
    // heavy-tailed: a few giants and many small docs — the exact case
    // where id % n piles giants onto the same shard
    val rows = (1L to 100L).map(i => (i, if (i <= 4) 1000L else 10L))
    val df = rows.toDF("id", "bytes").repartition(5)
    val sharded = Sampling.balancedShards(df, "id", col("bytes"), n = 4)
    val totals = sharded.groupBy("shard").agg(sum(col("bytes")).as("t"))
      .select("shard", "t").as[(Int, Long)].collect().toMap
    assert(totals.keySet == Set(0, 1, 2, 3))
    assert(totals.values.max - totals.values.min <= 1000L,
      s"imbalance exceeds one max item: $totals")
    // snake determinism: rank 0..7 (giants then largest smalls) deal
    // 0,1,2,3 then 3,2,1,0 — each shard gets exactly one giant
    val giants = sharded.where(col("bytes") === 1000L)
      .select("shard").as[Int].collect().sorted
    assert(giants.sameElements(Array(0, 1, 2, 3)))
  }

  test("diffColumns: exact per-column counts, null transitions, one-pass unpivot") {
    val prev = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("d"), 40L))
      .toDF("id", "s", "n")
    val cur = Seq((1L, Some("a"), 10L), (2L, Some("B"), 20L),
      (3L, Some("c"), 30L), (5L, Some("e"), 50L)) // id 4 removed, 5 added
      .toDF("id", "s", "n")
    val out = Profiling.diffColumns(prev, cur, "id", Seq("s", "n"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // compared = ids 1,2,3; s changed on 2 (b->B) and 3 (null->c); n never
    assert(out("s") == ((2L, 3L, 2.0 / 3.0)), out.toString)
    assert(out("n") == ((0L, 3L, 0.0)))
  }

  test("tableFingerprint: order/partitioning invariant, value- and dup-sensitive") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "v")
    val fp = Profiling.tableFingerprint(a, "t", Seq("id", "v")).head()
    // any row order / partitioning yields the identical fingerprint
    val shuffled = Profiling.tableFingerprint(
      a.orderBy(col("v").desc_nulls_first).repartition(7), "t", Seq("id", "v")).head()
    assert(fp == shuffled)
    // one changed value moves it
    val changed = Seq((1L, "x"), (2L, "Y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "v")
    assert(Profiling.tableFingerprint(changed, "t", Seq("id", "v")).head()
      .getLong(2) != fp.getLong(2))
    // a row duplicated twice XORs itself away — the count catches it
    val dup = a.unionByName(Seq((2L, "y"), (2L, "y")).toDF("id", "v"))
    val dfp = Profiling.tableFingerprint(dup, "t", Seq("id", "v")).head()
    assert(dfp.getLong(2) == fp.getLong(2) && dfp.getLong(1) != fp.getLong(1),
      "even-multiplicity dups must be caught by n_rows")
    // null is distinct from the literal string "null"
    val litNull = Seq((1L, "x"), (2L, "y"), (3L, "null")).toDF("id", "v")
    assert(Profiling.tableFingerprint(litNull, "t", Seq("id", "v")).head()
      .getLong(2) != fp.getLong(2))
  }

  test("sourceBoilerplate: shared lines flag per source, unique and sub-threshold lines don't") {
    // src A: footer on all 4 docs (flag), promo on 2/4 (flag at 0.5),
    // body unique per doc (no flag), one line repeated WITHIN one doc
    // (doc-level presence: counts once -> no flag). src B: 2 docs, no
    // shared lines at all.
    val docs = Seq(
      (1L, "A", "body one\nfooter line\npromo!"),
      (2L, "A", "body two\nfooter line\npromo!"),
      (3L, "A", "body three\nfooter line"),
      (4L, "A", "body four\nfooter line\necho\necho"),
      (5L, "B", "alpha\nbeta"),
      (6L, "B", "gamma\ndelta")
    ).toDF("id", "src", "page")
    val out = Dedup.sourceBoilerplate(docs, "id", "page", "src", minShare = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // A: lines = 4 bodies + footer + promo + echo = 7 distinct;
    // footer 4/4 and promo 2/4 flag; echo is 1/4 (within-doc repeat)
    assert(out("A") == ((4L, 7L, 2L)), s"src A: ${out("A")}")
    assert(out("B") == ((2L, 4L, 0L)), s"src B: ${out("B")}")
  }

  test("purgedTimeFolds: partition of rows, embargo purges both edges, bounds tile the axis") {
    // 100 rows at micros 0,10,20,...,990; k=4 → span 991, windows ~247us;
    // embargo 30us purges rows within 30us of either window edge
    val df = (0L until 100L).map(i => Tuple1(i * 10L)).toDF("us")
    val out = Sampling.purgedTimeFolds(df, col("us"), k = 4, embargoUs = 30L)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 4)
    // bounds tile [0, 991) exactly: fold k+1 starts where fold k ends
    assert(out.head.getLong(1) == 0L && out.last.getLong(2) == 991L)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) == b.getLong(1), "fold windows must tile")
    }
    out.foreach { r =>
      val (testN, trainN, purgedN) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(testN + trainN + purgedN == 100L,
        s"fold ${r.getLong(0)} not a partition: $r")
      assert(purgedN > 0L, "30us embargo over 10us spacing must purge rows")
    }
    // zero embargo purges nothing anywhere
    val noEmbargo = Sampling.purgedTimeFolds(df, col("us"), k = 4, embargoUs = 0L)
      .agg(sum(col("purged_n"))).collect().head.getLong(0)
    assert(noEmbargo == 0L)
  }

  test("erasureAudit: cascaded counts exact, duplicate erase keys counted once") {
    val users = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("uid", "name")
    val orders = Seq((10L, 1L), (11L, 1L), (12L, 3L)).toDF("oid", "o_uid")
    val subj = Seq(1L, 1L).toDF("k") // duplicate on purpose
    val ordKeys = orders.join(subj.select(col("k").as("o_uid")), Seq("o_uid"), "left_semi")
      .select(col("oid").as("k"))
    val out = Privacy.erasureAudit(Seq(
      ("users", users, "uid", subj),
      ("orders", orders, "o_uid", subj),
      ("order_items", Seq((10L, 1), (12L, 2), (99L, 3)).toDF("oid", "qty"),
        "oid", ordKeys)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("users") == (1L, 2L))
    assert(out("orders") == (2L, 1L))
    // items of orders 10,11 are erased; 12 belongs to user 3, 99 unknown
    assert(out("order_items") == (1L, 2L))
  }

  test("functionalDependencies: exact hold/violation counts and null semantics") {
    val df = Seq(
      (1L, "a", Some("x")), (2L, "a", Some("x")), (3L, "b", Some("y")),
      (4L, "b", Some("z")), (5L, "c", None)
    ).toDF("id", "k", "v")
    val fds = Profiling.functionalDependencies(df, Seq("id", "k", "v"))
      .select("determinant", "dependent", "n_det_values", "n_violations", "holds")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(fds.size == 6)
    // id is a key: determines everything
    assert(fds(("id", "k")) == ((5L, 0L, true)))
    assert(fds(("id", "v")) == ((5L, 0L, true)))
    // k -> v: 'b' maps to {y, z} → 1 violating determinant of 3; 'c' maps
    // only to null → NOT a violation (count-distinct null semantics)
    assert(fds(("k", "v")) == ((3L, 1L, false)))
    // k -> id: 'a' and 'b' each cover two ids → 2 violations
    assert(fds(("k", "id")) == ((3L, 2L, false)))
    // v -> k: the null determinant is its own (consistent) group
    assert(fds(("v", "k")) == ((4L, 0L, true)))
  }

  test("composite FD holds where both unary components fail") {
    import graft.ext.Profiling
    val df = Seq((1L, 1L, "x"), (1L, 2L, "y"), (2L, 1L, "z"), (2L, 1L, "z"),
      (2L, 2L, "x")).toDF("a", "b", "c")
    // unary: a -> c fails (a=1 covers {x,y}; a=2 covers {z,x});
    // composite: (a,b) -> c holds on every pair group
    val unary = Profiling.functionalDependencies(df, Seq("a", "c"))
      .where(col("determinant") === "a").select("holds").as[Boolean].collect()
    assert(unary.toSeq == Seq(false))
    val comp = Profiling.compositeFunctionalDependencies(df,
      Seq((("a", "b"), Seq("c"))))
      .as[(String, String, Long, Long, Boolean)].collect()
    assert(comp.toSeq == Seq(("a,b", "c", 4L, 0L, true)), s"got ${comp.toSeq}")
  }

  test("kAnonymizeLadder: finest sufficient level wins, coarser crowds include finer rows") {
    import graft.ext.Privacy
    // city -> country ladder; k = 3
    // cityA has 3 rows (safe at level 0); cityB and cityC have 1-2 rows
    // but share countryX with cityA: crowd(countryX) = 6 ⇒ level 1.
    // cityD is alone in countryY ⇒ suppressed.
    val df = Seq(
      (1L, "cityA", "countryX"), (2L, "cityA", "countryX"), (3L, "cityA", "countryX"),
      (4L, "cityB", "countryX"), (5L, "cityB", "countryX"), (6L, "cityC", "countryX"),
      (7L, "cityD", "countryY")
    ).toDF("id", "city", "country")
    val out = Privacy.kAnonymizeLadder(df, k = 3,
      levels = Seq(Seq("qi_geo" -> col("city")), Seq("qi_geo" -> col("country"))))
      .select("id", "anon_level", "qi_geo").as[(Long, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    Seq(1L, 2L, 3L).foreach(i => assert(out(i) == (0, "cityA")))
    Seq(4L, 5L, 6L).foreach(i => assert(out(i) == (1, "countryX")))
    assert(out(7L) == (2, "*"))
  }

  test("lDiversityAudit flags homogeneous crowds k-anonymity misses") {
    import graft.ext.Privacy
    // cityA is 3-anonymous but HOMOGENEOUS (everyone shares disease d1);
    // cityB is 3-anonymous AND 3-diverse; cityC's sensitive values are
    // all null -> diversity 0, maximally at risk
    val df = Seq(
      (1L, "cityA", Some("d1")), (2L, "cityA", Some("d1")), (3L, "cityA", Some("d1")),
      (4L, "cityB", Some("d1")), (5L, "cityB", Some("d2")), (6L, "cityB", Some("d3")),
      (7L, "cityC", None), (8L, "cityC", None), (9L, "cityC", None)
    ).toDF("id", "city", "disease")
    val audit = Privacy.lDiversityAudit(df, Seq("qi_geo" -> col("city")),
      col("disease"), l = 3)
      .select("qi_geo", "group_size", "distinct_sensitive", "at_risk")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(audit("cityA") == ((3L, 1L, true)), "homogeneous crowd must flag")
    assert(audit("cityB") == ((3L, 3L, false)))
    assert(audit("cityC") == ((3L, 0L, true)), "all-null sensitive is diversity 0")
  }

  test("tClosenessAudit: EMD flags concentrated groups l-diversity passes") {
    import graft.ext.Privacy
    // bands {0, 1}; groups A and C mirror each other (2+2), group B is
    // all band-0 — the global distribution is (8/12, 4/12), so
    // EMD(A) = EMD(C) = |1/2 − 2/3| = 1/6, EMD(B) = |1 − 2/3| = 1/3.
    // NOTE B has NO band-1 row: the zero-filled grid cell is what makes
    // its cumulative reach 1.0 at band 0 — the case a naive join drops.
    val df = Seq(
      ("A", 0L), ("A", 0L), ("A", 1L), ("A", 1L),
      ("B", 0L), ("B", 0L), ("B", 0L), ("B", 0L),
      ("C", 0L), ("C", 0L), ("C", 1L), ("C", 1L))
      .toDF("g", "band")
    val audit = Privacy.tClosenessAudit(df, Seq("qi" -> col("g")), col("band"), t = 0.25)
      .select("qi", "group_size", "emd", "at_risk")
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(audit("A") == ((4L, r6(1.0 / 6), false)))
    assert(audit("C") == ((4L, r6(1.0 / 6), false)))
    assert(audit("B") == ((4L, r6(1.0 / 3), true)),
      "the concentrated group must flag at t = 0.25")
  }

  test("pmiBigrams replays the quantized PMI formula; totals are pre-filter") {
    val docs = Seq("alpha beta gamma", "alpha beta delta", "alpha beta")
      .toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, "text", minCount = 2, k = 10)
      .as[(String, String, Long, Long)].collect()
    assert(out.length == 1, s"only (alpha, beta) reaches minCount, got ${out.toSeq}")
    val (wa, wb, nab, unats) = out.head
    assert((wa, wb, nab) == (("alpha", "beta", 3L)))
    // N_uni = 8 tokens, N_bi = 5 positions (pre-filter — the 1-count
    // bigrams still count toward p(ab)'s denominator)
    val expected = math.floor(
      math.log((3.0 * 8 * 8) / (5.0 * 3 * 3)) * 1e6 + 0.5).toLong
    assert(unats == expected, s"got $unats want $expected")
  }

  test("blocklist AC scan equals brute-force positional counts, overlaps included") {
    import graft.plans.NativeExpressions
    val terms = Seq("scan", "can", "an", "table", "tab", "order")
    val docs = Seq(
      (1L, "a scan can tab tablet"),     // "scan" fires an+can+scan; "tablet" fires tab+table
      (2L, "SCAN ORDER Table"),          // case-insensitive
      (3L, "anananan"),                  // overlapping "an" × 4
      (4L, "nothing of note here"),      // zero hits? "no" not a term; but "an"? no
      (5L, ""))
    val got = docs.toDF("id", "text")
      .select(col("id"), NativeExpressions.blocklistCounts(col("text"), terms).as("b"))
      .select(col("id"), col("b.total_hits"), col("b.distinct_terms"))
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // brute force: count every start position of every term, lowercase
    val want = docs.map { case (id, text) =>
      val t = text.toLowerCase
      val perTerm = terms.map(term =>
        (0 to t.length - term.length).count(i => t.regionMatches(i, term, 0, term.length)))
      id -> ((perTerm.map(_.toLong).sum, perTerm.count(_ > 0)))
    }.toMap
    assert(got == want, s"got $got want $want")
    // the planted overlap facts hold (guards the oracle's semantics too)
    assert(got(3L) == ((4L, 1)), "overlapping 'an' must fire at every position")
    assert(got(1L)._2 >= 5, "'scan'+'tablet' must fire the nested terms")
  }

  test("deflate ratio orders repetitive < natural < incompressible") {
    import graft.plans.NativeExpressions
    val repetitive = "spark " * 400
    val natural = (1 to 40).map(i =>
      s"document $i carries a distinct sentence about topic ${i * 37 % 19} " +
        s"with varying words like ${"abcdefghij".drop(i % 10)}").mkString(". ")
    // digits of an LCG — no repeated structure deflate can exploit
    val noise = Iterator.iterate(48271L)(x => x * 48271L % 2147483647L)
      .take(800).map(x => (x % 94 + 33).toChar).mkString
    val df = Seq(("rep", repetitive), ("nat", natural), ("rnd", noise))
      .toDF("k", "text")
      .select(col("k"),
        (NativeExpressions.deflateSize(col("text")).cast("double") /
          octet_length(col("text"))).as("ratio"))
    val r = df.as[(String, Double)].collect().toMap
    assert(r("rep") < 0.05, s"repetitive text must crush, got ${r("rep")}")
    assert(r("rep") < r("nat") && r("nat") < r("rnd"),
      s"ordering violated: $r")
    assert(r("rnd") > 0.8, s"pseudo-random text must resist, got ${r("rnd")}")
    // null-safety and determinism across evaluation sites
    val again = df.as[(String, Double)].collect().toMap
    assert(r == again, "deflate must be deterministic")
  }

  /** The original HOF construction of [[Dedup.contentDefinedChunks]]'s
    * chunk set — per-position window hashes inside a `transform` over
    * `sequence`, interpreted lambdas, SQL substr/conv — the executable
    * reference the native [[graft.plans.CdcChunks]] kernel must agree
    * with on every boundary for any input, or the oracle contract is
    * broken. */
  private def contentDefinedChunksHof(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, mask: Int): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val n = coalesce(length(text).cast("long"), lit(0L))
    // candidate boundary AFTER position i (1-based, i >= window):
    // hash(text[i-window+1 .. i]) ≡ 0 (mod mask). The pos guards also
    // neutralize Spark's DESCENDING sequence(a, b) when b < a (texts
    // shorter than the window must yield no boundary, not a reversed
    // position walk)
    val bounds = filter(
      transform(
        sequence(lit(window.toLong), greatest(n, lit(window.toLong))),
        i => struct(
          (H.md5PrefixLong("cdc:",
            text.substr((i - lit(window - 1)).cast("int"), lit(window)), 15)
            % mask).as("m"),
          i.as("pos"))),
      s => s("m") === 0 && s("pos") >= lit(window.toLong) && s("pos") <= n)
    val boundPos = transform(bounds, s => s("pos"))
    val starts = concat(array(lit(1L)), transform(boundPos, p => p + 1L))
    val ends = concat(boundPos, array(coalesce(length(text).cast("long"), lit(0L))))
    val chunks = filter(
      zip_with(starts, ends, (s, e) =>
        when(e >= s, text.substr(s.cast("int"), (e - s + 1L).cast("int")))),
      c => c.isNotNull)
    docs.where(text.isNotNull)
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
  }

  test("CDC native kernel replays the HOF reference boundary-for-boundary") {
    // the native CdcChunks expression must agree with the original
    // HOF construction on EVERY (doc, chunk_idx, chunk) row — the HOF
    // form is what the DuckDB oracle replays, so any divergence breaks
    // the correctness contract. Adversarial shapes: empty, shorter than
    // the window, exactly window-sized, multi-byte (2/3/4-byte UTF-8 —
    // code-point offsets differ from byte offsets), long pseudo-random
    // texts with many boundaries, and repeated content.
    def txt(seed: Long, n: Int): String =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
        .map(x => ('a' + math.floorMod(x >>> 33, 26)).toChar).take(n).mkString
    val multi = "héllo wörld — 你好世界 😀🎉 " * 25
    val docs = Seq(
      (1L, ""), (2L, "short"), (3L, "exactly sixteen!"),
      (4L, txt(7L, 500)), (5L, txt(99L, 1200)), (6L, multi),
      (7L, txt(3L, 64) * 8), (8L, "é" * 200), (9L, txt(11L, 17))
    ).toDF("doc_id", "text")
    for ((w, m) <- Seq((16, 64), (16, 8), (4, 4), (2, 2))) {
      val native = Dedup.contentDefinedChunks(docs, "doc_id", "text", w, m)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val hof = contentDefinedChunksHof(docs, "doc_id", "text", w, m)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      assert(native == hof, s"native CDC diverged from the HOF reference at window=$w mask=$m")
      // lossless reassembly stands on the native path too
      val byDoc = native.groupBy(_._1).map { case (id, cs) =>
        id -> cs.sortBy(_._2).map(_._3).mkString }
      docs.collect().foreach { r =>
        assert(byDoc.getOrElse(r.getLong(0), "") == r.getString(1),
          s"doc ${r.getLong(0)} does not reassemble at window=$w mask=$m")
      }
    }
  }

  test("content-defined chunking: shared passages chunk identically, edits stay local") {
    // deterministic pseudo-text long enough to carry several boundaries
    // (expected boundary every ~64 chars)
    def txt(seed: Long, n: Int): String =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
        .map(x => ('a' + math.floorMod(x >>> 33, 26)).toChar).take(n).mkString
    val shared = txt(42L, 400)
    val docs = Seq(
      (1L, txt(7L, 120) + shared),
      (2L, txt(99L, 95) + shared), // different prefix, same long tail
      (3L, "short")
    ).toDF("doc_id", "text")
    val chunks = Dedup.contentDefinedChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // reassembly: chunks concatenate back to the exact text per doc
    val byDoc = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._3).mkString }
    assert(byDoc(1L) == txt(7L, 120) + shared)
    assert(byDoc(3L) == "short")
    // the shared tail must produce shared chunks despite different
    // prefixes — boundaries are local content, not absolute offsets
    val c1 = chunks.filter(_._1 == 1L).map(_._3).toSet
    val c2 = chunks.filter(_._1 == 2L).map(_._3).toSet
    assert((c1 & c2).nonEmpty, "no chunk shared between docs with a common 400-char tail")
    // a front edit shifts only the leading chunk(s): all but <= 2 of the
    // original doc's chunks survive verbatim
    val edited = Seq((9L, "X" + byDoc(1L))).toDF("doc_id", "text")
    val cEdit = Dedup.contentDefinedChunks(edited, "doc_id", "text")
      .collect().map(_.getString(2)).toSet
    val orig = chunks.filter(_._1 == 1L).map(_._3)
    assert(orig.count(cEdit.contains) >= orig.length - 2,
      s"front insertion rewrote ${orig.count(!cEdit.contains(_))} of ${orig.length} chunks")
  }

  test("PQ encode: codes in range, donors quantize losslessly, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
      dim = 64, nsub = 4, ncent = 16)
    val rows = codes.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(r.getInt(i) >= 0 && r.getInt(i) < 16,
        s"code out of range: $r"))
      assert(r.getDouble(5) >= 0.0)
    }
    // a donor vector's own slices sit in every codebook: err must be 0
    val zeroErr = rows.filter(_.getDouble(5) == 0.0)
    assert(zeroErr.nonEmpty, "at least the donors themselves must encode losslessly")
    // determinism across evaluations
    val again = Similarity.pqEncode(emb, "vec_id", "embedding",
      dim = 64, nsub = 4, ncent = 16).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("PQ ADC top-k: complete per-query rankings with a recall floor vs exact L2") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val adc = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, dim = 64).cache()
    val nq = queries.count()
    assert(adc.count() == nq * 5, "every query needs a full top-5")
    adc.groupBy("query_id").agg(collect_list("rank").as("rs")).collect()
      .foreach(r => assert(r.getSeq[Long](1).sorted == Seq(1L, 2L, 3L, 4L, 5L)))
    // On iid-random vectors PQ cannot rank (distance concentration makes
    // every cross-distance ~equal while quantization noise stays large)
    // — measured recall ~5% ≈ chance, which is a property of the DATA,
    // not a bug. The PQ property worth pinning is reconstruction-space
    // ranking: plant a +0.01-shifted copy of each query (tiny vs
    // inter-point distances, so the copy encodes to the same or adjacent
    // codes) and require ADC to surface the planted copy in the top-5
    // for most queries.
    val shifted = emb.select((col("vec_id") + lit(10000L)).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val corpus2 = emb.unionByName(shifted)
    val adc2 = Similarity.pqTopK(corpus2, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, dim = 64)
    val found = adc2
      .where(col("neighbor_id") === col("query_id") + 10000L)
      .select("query_id").distinct().count()
    assert(found.toDouble / nq >= 0.6,
      s"only $found/$nq queries surfaced their planted near-copy in ADC top-5")
  }

  test("ANN tuning curve: macro recall is monotone in the probe budget") {
    val curve = graft.SparkEntry.queries("q_ann_tuning")(spark, "/root/testdata/sf0.001")
      .select("nprobe", "macro_recall")
      .as[(Int, Double)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8))
    curve.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b >= a, s"recall fell as probes grew: ${curve.mkString(", ")}")
    }
    assert(curve.last._2 > 0.5, s"nprobe=8 of nlist=16 should recall most: ${curve.last}")
  }

  test("audio stats: real PCM decode matches the signal's closed form") {
    val ids = (0L to 24L).toSeq
    val media = Multimodal.synthesizePcmWav(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.audioStats(media).collect().map(a => a.media_id -> a).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val ns = id % 300 + 50
      val sr = (8000 + (id % 8) * 1000).toInt
      var peak = 0L; var sumAbs = 0L; var sumSq = 0L; var clip = 0L; var sil = 0L
      (0L until ns).foreach { i =>
        val u = (id * 131L + i * 7919L) % 65536L
        val x = if (u >= 32768L) u - 65536L else u
        val a = math.abs(x)
        if (a > peak) peak = a
        sumAbs += a; sumSq += a * a
        if (a >= Multimodal.ClipThreshold) clip += 1
        if (a < Multimodal.SilenceThreshold) sil += 1
      }
      assert(got(id) == AudioStats(id, sr, ns, peak, sumAbs, sumSq, clip, sil),
        s"decoder disagrees with the closed form for id $id")
    }
  }

  test("audio fingerprint: gain-invariant, order-sensitive, rejects short/garbage payloads") {
    // hand-built WAV around 16 samples so the energy profile is chosen,
    // not inherited from the synthesizer
    def wav(samples: Seq[Int]): Array[Byte] = {
      val n = samples.length
      val b = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes); b.putInt(36 + 2 * n); b.put("WAVE".getBytes)
      b.put("fmt ".getBytes); b.putInt(16); b.putShort(1); b.putShort(1)
      b.putInt(8000); b.putInt(16000); b.putShort(2); b.putShort(16)
      b.put("data".getBytes); b.putInt(2 * n)
      samples.foreach(s => b.putShort(s.toShort))
      b.array()
    }
    // 8 frames of 2 samples: energies strictly rising -> all 7 bits set
    val rising = (1 to 16).map(i => i * 100)
    val fpRising = Multimodal.pcmFingerprint(1L, wav(rising)).get
    assert(fpRising.fp == 0x7fL && fpRising.n_samples == 16L, fpRising.toString)
    // gain change (×3, no clipping) preserves every energy comparison
    val fpLoud = Multimodal.pcmFingerprint(2L, wav(rising.map(_ * 3))).get
    assert(fpLoud.fp == fpRising.fp, "fingerprint must be gain-invariant")
    // reversing the stream flips the profile to all-falling
    val fpFalling = Multimodal.pcmFingerprint(3L, wav(rising.reverse)).get
    assert(fpFalling.fp == 0L, fpFalling.toString)
    // < 8 samples or non-RIFF: dropped, not fatal
    assert(Multimodal.pcmFingerprint(4L, wav(Seq(1, 2, 3))).isEmpty)
    assert(Multimodal.pcmFingerprint(5L, Array.fill[Byte](64)(0x41)).isEmpty)
  }

  test("audio stats: malformed and unsupported payloads are omitted, not fatal") {
    // not RIFF at all
    assert(Multimodal.pcmStats(1L, Array.fill[Byte](64)(0x41)).isEmpty)
    // too short to hold a header
    assert(Multimodal.pcmStats(2L, Array[Byte]('R', 'I', 'F', 'F')).isEmpty)
    // take a real payload and flip it to stereo (fmt channels at offset 22)
    val real = Multimodal.synthesizePcmWav(Seq(7L).toDF("doc_id"), "doc_id")
      .select("content").as[Array[Byte]].head()
    val stereo = real.clone(); stereo(22) = 2
    assert(Multimodal.pcmStats(7L, stereo).isEmpty,
      "non-mono must be rejected, not mis-decoded")
    // 8-bit (fmt bitsPerSample at offset 34)
    val eightBit = real.clone(); eightBit(34) = 8
    assert(Multimodal.pcmStats(7L, eightBit).isEmpty)
    // a truncated data chunk decodes the samples actually present
    val cut = real.take(real.length - 11)
    val full = Multimodal.pcmStats(7L, real).get
    val part = Multimodal.pcmStats(7L, cut).get
    assert(part.n_samples == full.n_samples - 6,
      s"11 missing bytes = 5.5 samples -> 6 fewer whole samples, " +
        s"got ${part.n_samples} vs ${full.n_samples}")
    assert(part.sample_rate == full.sample_rate)
    // the decoded prefix agrees with the full decode's running stats
    assert(part.sum_sq <= full.sum_sq && part.peak_abs <= full.peak_abs)
  }

  test("association rules: hand-computed confidence/lift, cap drops mega-groups") {
    import spark.implicits._
    val items = Seq(
      (1, "A"), (1, "B"), (1, "C"),
      (2, "A"), (2, "B"),
      (3, "A"), (3, "C"),
      (4, "B"), (4, "D"),
      (2, "A") // duplicate (group, item) row: supports count DISTINCT pairs
    ).toDF("g", "i")
    val rules = MarketBasket.associationRulesFromBaskets(
        MarketBasket.cappedBaskets(items, "g", "i", maxGroupSize = 256), minShared = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // pairs >= 2: (A,B)=2, (A,C)=2; N=4; supp A=3 B=3 C=2
    assert(rules.keySet == Set("A" -> "B", "B" -> "A", "A" -> "C", "C" -> "A"))
    val ab = rules("A" -> "B")
    assert(ab.getLong(2) == 2L && ab.getLong(3) == 3L && ab.getLong(4) == 3L)
    assert(ab.getAs[Double]("confidence") == 2.0 / 3.0)
    assert(ab.getAs[Double]("lift") == 8.0 / 9.0)
    val ca = rules("C" -> "A")
    assert(ca.getAs[Double]("confidence") == 1.0)
    assert(ca.getAs[Double]("lift") == (2.0 * 4.0) / (2.0 * 3.0))
    // a 300-item mega-group is dropped whole: no rule mentions its items
    val mega = (0 until 300).map(k => (99, s"M$k")).toDF("g", "i")
    val capped = MarketBasket.associationRulesFromBaskets(
      MarketBasket.cappedBaskets(items.unionAll(mega), "g", "i", maxGroupSize = 256),
      minShared = 2)
    assert(capped.where(col("antecedent").startsWith("M")).count() == 0)
    // and the surviving rules are unchanged (N still counts only capped groups)
    assert(capped.count() == 4)
  }

  test("dp release: noise table is a valid quantile function, release is deterministic") {
    val tbl = Privacy.geometricNoiseTable(1.0)
    assert(tbl.length == 256)
    // a quantile function is monotone, symmetric for this symmetric
    // distribution, and centered: the middle buckets draw zero noise
    assert(tbl.sliding(2).forall(p => p(0) <= p(1)))
    assert(tbl(127) == 0 && tbl(128) == 0)
    assert(tbl.zip(tbl.reverse).forall { case (a, b) => a == -b })
    // ε=1 geometric noise is tiny integers, and its quantized mean is ~0
    assert(tbl.head >= -10 && tbl.last <= 10)
    assert(math.abs(tbl.sum) <= 2)
    // tighter ε (more privacy) never shrinks the tail quantile
    assert(Privacy.geometricNoiseTable(0.3).last >= tbl.last)

    import spark.implicits._
    val df = (0 until 400).map(k => (s"seg${k % 4}", k % 7)).toDF("seg", "nat")
    val rel = Privacy.dpNoisyCounts(df, Seq("seg", "nat"), epsilon = 1.0, seed = "t:")
    val again = Privacy.dpNoisyCounts(df, Seq("seg", "nat"), epsilon = 1.0, seed = "t:")
    val a = rel.orderBy("seg", "nat").collect().toSeq
    assert(a == again.orderBy("seg", "nat").collect().toSeq) // sticky noise
    assert(a.length == 28)
    // noisy counts stay within the table's worst-case deviation of truth
    // (true counts here are 14 or 15) and never go negative
    a.foreach { r =>
      val nc = r.getAs[Long]("noisy_count")
      assert(nc >= 0 && math.abs(nc - 14) <= 11, r.toString)
    }
    // a different seed redraws: at least one of 28 groups moves
    val other = Privacy.dpNoisyCounts(df, Seq("seg", "nat"), 1.0, "u:")
      .orderBy("seg", "nat").collect().toSeq
    assert(other != a)
  }

  test("phrase search: adjacency not bag-of-words, overlaps count, positions exact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x a b c y a b c a b"), // "a b c" at filtered positions 1 and 5
      (2L, "c b a a c b"),         // all three terms present, never adjacent
      (3L, "  a   b c  "),         // whitespace runs collapse; match at 0
      (4L, null.asInstanceOf[String]),
      (5L, "a b")                  // prefix only
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.phraseSearch(corpus, "doc_id", "text", Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 2 would match under bag-of-words ranking; phrase search rejects it
    assert(hits.keySet == Set(1L, 3L))
    assert(hits(1L) == (2L, 1L))
    assert(hits(3L) == (1L, 0L))
    // overlapping occurrences each count: "a a a" has two "a a" starts
    val rep = Seq((9L, "a a a")).toDF("doc_id", "text")
    val r = TextAnalysis.phraseSearch(rep, "doc_id", "text", Seq("a", "a")).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L)
  }

  test("golden record: per-field rules pick different members, nulls never shadow") {
    import spark.implicits._
    val recs = Seq(
      // cluster 1: name null in the newest version -> latest falls back to v2;
      // segment earliest non-null is v2 (v1's is null); balance max is v1's
      (1L, 1L, Option("alice-v1"), Option.empty[String], Option(50.0)),
      (1L, 2L, Option("alice-v2"), Option("retail"), Option(10.0)),
      (1L, 3L, Option.empty[String], Option("corp"), Option(20.0)),
      // cluster 2: single version, all fields present
      (2L, 1L, Option("bob"), Option("auto"), Option(7.0)),
      // cluster 3: a field null in EVERY version stays null in the golden record
      (3L, 1L, Option.empty[String], Option("x"), Option.empty[Double]),
      (3L, 2L, Option.empty[String], Option("y"), Option.empty[Double])
    ).toDF("cluster", "v", "name", "segment", "bal")
    val golden = Dedup.goldenRecords(recs, "cluster", "v",
        Seq("name" -> "latest", "segment" -> "earliest", "bal" -> "max"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val c1 = golden(1L)
    assert(c1.getAs[Long]("n_records") == 3L)
    assert(c1.getAs[String]("name") == "alice-v2")   // v3 null skipped
    assert(c1.getAs[String]("segment") == "retail")  // earliest non-null = v2
    assert(c1.getAs[Double]("bal") == 50.0)          // max ignores priority
    assert(golden(2L).getAs[String]("name") == "bob")
    val c3 = golden(3L)
    assert(c3.isNullAt(c3.fieldIndex("name")) && c3.isNullAt(c3.fieldIndex("bal")))
    assert(c3.getAs[String]("segment") == "x")
    // unknown rules fail loudly
    intercept[IllegalArgumentException] {
      Dedup.goldenRecords(recs, "cluster", "v", Seq("name" -> "newest"))
    }
    ()
  }

  test("er pipeline: planted noisy variant lands in its original's cluster") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_er_pipeline")(spark, dir).cache()
    try {
      val rows = out.collect()
      // every golden record's name survives from the EARLIEST member =
      // an original listing, never a ' xx'-noised variant
      assert(rows.forall(r => !r.getAs[String]("name").endsWith(" xx")))
      // the planted variants were absorbed: total membership covers the
      // raw listing count (originals + every 4th as dirty copy)
      val parts = spark.read.parquet(s"$dir/part.parquet")
      val nParts = parts.count()
      val nDirty = parts.where(col("p_partkey") % 4 === 0).count()
      assert(rows.map(_.getAs[Long]("n_records")).sum == nParts + nDirty)
      // variants sit WITH their original: each dirty copy bumps price by
      // +5 cents over its source, so any cluster holding one must show a
      // max price >= its original's — spot-check one planted pair end
      // to end through the real ids
      val clustered = rows.filter(_.getAs[Long]("n_records") > 1)
      assert(clustered.nonEmpty, "no multi-member clusters resolved")
      assert(rows.length < nParts + nDirty, "nothing consolidated")
    } finally { out.unpersist(); () }
  }

  test("stratified equal allocation: smallest stratum survives whole, others balance") {
    import graft.ext.Sampling
    // 3 strata: 40 / 200 / 1000 rows — target = 40 per stratum expected
    val rows = (1L to 40L).map(i => (i, "small")) ++
      (101L to 300L).map(i => (i, "mid")) ++
      (1001L to 2000L).map(i => (i, "big"))
    val df = rows.toDF("id", "s")
    val kept = Sampling.stratifiedEqualAllocation(df, "id", "s", seed = "t")
      .groupBy(col("s")).agg(count(lit(1)).as("n")).as[(String, Long)]
      .collect().toMap
    // rate 1.0 for the smallest stratum keeps EVERY row (the 2^32
    // threshold sits above every gate prefix)
    assert(kept("small") == 40L, s"smallest stratum must survive whole: $kept")
    // the others land near the 40-row target (hash-gate variance only);
    // equal allocation means no stratum dwarfs another post-sample
    for (s <- Seq("mid", "big"))
      assert(kept(s) >= 20L && kept(s) <= 70L, s"$s drifted from target: $kept")
    // deterministic: the same keys survive on a second evaluation
    val again = Sampling.stratifiedEqualAllocation(df, "id", "s", seed = "t")
      .groupBy(col("s")).agg(count(lit(1)).as("n")).as[(String, Long)]
      .collect().toMap
    assert(kept == again)
  }

  test("KS statistic: identical slices give D = 0, disjoint slices give D = 1 shape") {
    // mirror q_ks_test's fraction-free numerator on a controlled frame
    import graft.operators.GlobalRank
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("R", 1L), ("R", 2L), ("R", 3L))
      .toDF("g", "v")
    val byVal = df.groupBy(col("v")).agg(
      sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"))
    val cum = GlobalRank.withGlobalCumSum(
      GlobalRank.withGlobalCumSum(byVal, Seq(col("v")), col("ca"), "cax"),
      Seq(col("v")), col("cr"), "crx")
      .select((col("cax") + col("ca")).as("cum_a"), (col("crx") + col("cr")).as("cum_r"))
    val d0 = cum.select(max(abs(col("cum_a") * lit(3L) - col("cum_r") * lit(3L))).as("d"))
      .as[Long].head()
    assert(d0 == 0L, "identical distributions must give D = 0")
    // and the q_ks_test entry itself: 0 <= d_stat <= 1, numerator consistent
    val row = graft.SparkEntry.queries("q_ks_test")(spark, "/root/testdata/sf0.001").head()
    val (na, nr) = (row.getAs[Long]("n_a"), row.getAs[Long]("n_r"))
    val dStat = row.getAs[Double]("d_stat")
    assert(na > 0 && nr > 0 && dStat >= 0.0 && dStat <= 1.0)
    assert(math.abs(row.getAs[Double]("d_num") / (na.toDouble * nr.toDouble) - dStat) < 1e-5)
  }

  test("Benford shares sum to 1 and the audit's expected counts sum to n") {
    val shareSum = graft.SparkEntry.queries("q_benford")(spark, "/root/testdata/sf0.001")
    val rows = shareSum.collect()
    assert(rows.map(_.getAs[Long]("digit")).toSet.subsetOf((1L to 9L).toSet))
    val nObs = rows.map(_.getAs[Long]("n_obs")).sum
    val expSum = rows.map(_.getAs[Double]("expected_r")).sum
    // expected counts reconstruct ~n when every digit 1..9 appears
    if (rows.length == 9)
      assert(math.abs(expSum - nObs) < 1.0, s"expected $expSum vs n $nObs")
    rows.foreach(r => assert(r.getAs[Double]("chi2_term_r") >= 0.0))
  }

  test("Gini: uniform spend gives 0, fully concentrated spend approaches 1") {
    import graft.operators.GlobalRank
    def gini(xs: Seq[Long]): Double = {
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("k", "x")
      val (ranked, n) = GlobalRank.withGlobalRankAndCount(df, Seq(col("x"), col("k")), "r")
      ranked.select(
          ((lit(2L) * (col("r") + 1L) - lit(n + 1L)) * col("x")).as("w"), col("x"))
        .agg((sum(col("w")).cast("double") /
          (lit(n.toDouble) * sum(col("x")).cast("double"))).as("g"))
        .as[Double].head()
    }
    assert(gini(Seq.fill(50)(7L)) == 0.0)
    val concentrated = gini(Seq.fill(49)(0L) :+ 10000L)
    assert(concentrated > 0.95 && concentrated <= 1.0, s"got $concentrated")
  }

  test("IVF-PQ: probed-bucket ADC ranks are dense and recall tracks the PQ ceiling") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = graft.SparkEntry.queries("q_ivfpq_topk")(spark, dir).cache()
    try {
      val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
      assert(byQ.nonEmpty)
      // dense ranks 1..n per query, never a self-match
      byQ.foreach { case (q, rows) =>
        assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rows.length).toSeq)
        assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      }
      // the probed-bucket candidate set can only SHRINK vs full-corpus
      // ADC: every IVF-PQ hit at the same k must score >= its pq rank
      val full = Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, dim = 64, nsub = 4, ncent = 16)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = out.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // nprobe=8 of nlist=16 scans ~half the corpus: expect meaningful
      // overlap with the unprobed ADC list, not equality
      val overlap = got.intersect(full).size.toDouble / full.size
      assert(overlap >= 0.3, s"IVF-PQ diverged too far from full ADC: $overlap")
    } finally { out.unpersist(); () }
  }

  test("bloom FPR audit: booleans hold and populations are exact") {
    val row = graft.SparkEntry.queries("q_bloom_fpr")(spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Boolean]("no_false_negatives"), "Bloom false negative — broken plumbing")
    assert(row.getAs[Boolean]("fpr_within_bound"), "observed FPR above 3x design point")
    assert(row.getAs[Long]("n_members") > 0 && row.getAs[Long]("n_probes") > 0)
  }
}
