package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Document-corpus profiling: per-doc quality/token metrics, language-ID,
  * repetition and vocabulary statistics — the text-analysis slice of a
  * training-data pipeline.
  * All column expressions (graft.functions.TextFunctions), so each profile
  * is a single codegen'd scan. */
object TextAnalysis {

  /** Per-document metrics table. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      T.tokenCount(t).cast("long").as("n_tokens"),
      T.bpeishTokenCount(t).cast("long").as("n_bpeish_tokens"),
      T.punctRatio(t).as("punct_ratio"),
      T.digitRatio(t).as("digit_ratio"),
      T.upperRatio(t).as("upper_ratio"),
      T.meanTokenLen(t).as("mean_token_len"),
      T.stopwordRatio(t).as("stopword_ratio"),
      T.qualityScore(t).as("quality_score"))
  }

  /** Language-ID predictions: (id, lang_pred, …per-language scores). */
  def detectLanguage(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), T.langId(col(textCol)).as("lang_pred"))

  /** Corpus-level aggregate: per-language token/char/doc counts. */
  def corpusStats(df: DataFrame, langCol: String, textCol: String): DataFrame =
    df.groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("n_chars"),
        sum(T.tokenCount(col(textCol)).cast("long")).as("n_tokens"))

  /** Split each document into overlapping fixed-size token windows — the
    * "document -> training sequences" chunking step. Window w covers tokens
    * [w*stride, w*stride + windowSize); the last window may be short.
    * Token-less documents produce no windows.
    *
    * One narrow pass: tokenize, generate window starts with `sequence`,
    * slice per start, `posexplode` — all codegen'd, no shuffle, output
    * is ~|corpus|/stride rows regardless of document skew. */
  def tokenWindows(
      df: DataFrame, idCol: String, textCol: String,
      windowSize: Int = 50, stride: Int = 40): DataFrame = {
    require(windowSize > 0 && stride > 0, "windowSize and stride must be positive")
    val toks = T.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(
        col(idCol),
        col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(windowSize), size(col("__toks")) - col("start")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("start") + 1, lit(windowSize)), " ")
          .as("chunk_text"))
  }

  /** Per-document top-k salient terms: rank terms by (tf desc, df asc,
    * term asc) — the tf-idf ordering made exactly portable by replacing the
    * float idf with its integer argument df (ln is monotone, so for equal
    * tf the df ordering IS the idf ordering; ties never depend on
    * floating-point rounding).
    *
    * Scale: explode -> (doc,term) count [shuffle 1] -> term doc-freq
    * [shuffle 2, vocabulary-sized] -> join back on term -> per-doc window
    * top-k. The window partitions by document, so no global sort. */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(idCol), explode(T.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // doc-freq as an unordered count-window over the tf frame: the tf
    // subtree is computed once (a groupBy-then-self-join would run the
    // explode+aggregate twice), at the same one-shuffle-on-term cost
    val dfw = Window.partitionBy(col("term"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(dfw))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Per-document word-n-gram NOVELTY: the share of a doc's DISTINCT
    * n-grams whose first corpus occurrence (minimum doc id) is this doc —
    * the incremental-information signal a dedup-aware sampler ranks on
    * (a verbatim copy of an earlier doc scores 0, fresh text scores ~1;
    * cf. the n-gram-overlap decontamination family, attribution-side).
    *
    * Deterministic: first-occurrence is an integer min under the stable
    * id order, novelty one int/int IEEE division. Docs producing zero
    * grams (empty/NULL text) have no novelty row — mirrored by the
    * oracle. Scale: ONE gram-keyed exchange (distinct grams per doc, the
    * window min rides the same partitioning), then the per-doc rollup;
    * gram rows carry (id, gram) only, never text. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.NativeExpressions
    val grams = df.select(col(idCol).as("__id"),
      explode(array_distinct(NativeExpressions.wordShingles(col(textCol), n)))
        .as("gram"))
    val w = Window.partitionBy(col("gram"))
    grams.withColumn("__first", min(col("__id")).over(w))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("__id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** [[ngramNovelty]] against a REFERENCE corpus instead of self: per
    * batch doc, the share of its distinct n-grams absent from the
    * already-ingested reference — the ingest-time "incremental
    * information" score that decides whether a new source is worth its
    * storage (the attribution-side complement of cross-corpus near-dup,
    * which only finds whole-document copies). One distinct-gram frame
    * per side, one gram-keyed LEFT join (the reference side reduces to
    * its distinct gram set — posting-list sized, never document-sized),
    * one per-doc rollup. */
  def crossCorpusNovelty(batch: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import graft.plans.NativeExpressions
    def grams(df: DataFrame) = df.select(col(idCol).as("__id"),
      explode(array_distinct(NativeExpressions.wordShingles(col(textCol), n)))
        .as("gram"))
    val refGrams = grams(reference).select(col("gram")).distinct()
      .withColumn("__seen", lit(1L))
    grams(batch)
      .join(refGrams, Seq("gram"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** Concat-and-chunk sequence packing (the GPT-style "pack the token
    * stream into fixed-length training sequences" step): documents are
    * laid out in deterministic order inside each shard, and each doc gets
    * the pack id and intra-pack offset where its tokens begin; a doc whose
    * tokens straddle a boundary simply continues into the next pack, so
    * packs waste zero tokens (no bin-packing heuristics, no padding
    * decisions — those belong to the consumer that materializes tokens).
    *
    * Scale: ONE window per shard (cumulative token sum ordered by id) —
    * partition by a real shard column so the sort is shard-local; packing
    * an unsharded corpus would be a single global sorted partition.
    * Callers wanting shuffled order apply [[Sampling.shuffleOrder]] first
    * and shard on a prefix of the position. Token-less/NULL docs are
    * excluded (they contribute nothing to the stream). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shardCol: String, seqLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), col(shardCol), T.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .where(col("n_tokens").isNotNull && col("n_tokens") > 0)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integral div/mod on longs — no double round-trip at stream scale
      .withColumn("pack_id", expr(s"cum_before div $seqLen"))
      .withColumn("offset", col("cum_before") % seqLen)
      .drop("cum_before")
  }

  /** Inverted index over the corpus: one row per term with its document
    * frequency, total term frequency, and a BOUNDED posting-list head (the
    * `maxPostings` smallest doc ids, comma-joined). The full posting list
    * is never materialized — at web scale a frequent term's postings dwarf
    * an executor; consumers that need full lists read the (term, doc_id,
    * tf) frame this is built from.
    *
    * Scale: explode → (term, doc) tf [shuffle 1] → ONE term-partitioned
    * exchange shared by everything term-wise: df and tf_total as unordered
    * count/sum windows, the posting head via row_number ≤ maxPostings, and
    * the final per-term fold reuses the same partitioning — no self-join,
    * no second pass over the corpus. The term exchange itself is
    * irreducible (df/tf_total must see every (term, doc) row), so the
    * rank filter's InferWindowGroupLimit rewrite runs POST-exchange: it
    * bounds the row_number sort/materialization to maxPostings rows per
    * term, not the shuffle volume. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxPostings: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(idCol).as("doc_id"), explode(T.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val wAll = Window.partitionBy(col("term"))
    val wOrd = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    tf
      .withColumn("df", count(lit(1)).over(wAll))
      .withColumn("tf_total", sum(col("tf")).over(wAll))
      .withColumn("__rn", row_number().over(wOrd))
      .where(col("__rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(
        max(col("df")).as("df"),
        max(col("tf_total")).as("tf_total"),
        // ≤ maxPostings elements; sort_array makes the head order
        // deterministic regardless of collect_list's arrival order
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
  }

  /** Repetition profile (Gopher-style repetition filter): per document,
    * the share of bigram positions occupied by its single most frequent
    * bigram — near 1.0 flags looping/boilerplate text. Integer counts plus
    * one final division keep it engine-portable.
    *
    * ZERO-shuffle shape: one native tokenize+count pass per row
    * ([[graft.plans.NativeExpressions.bigramRepetition]]) — a per-document
    * statistic should never pay an explode plus two shuffled aggregations.
    * An earlier HOF form (array_sort + aggregate sorted-run fold, kept
    * in ExtSpec as the kernel's reference) had the right plan shape but
    * interpreted-lambda constants: ~3.5s alone at sf0.1 vs ~0.3s here,
    * the same cost center the fused SimHash expressions removed. */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.plans.NativeExpressions.bigramRepetition(col(textCol)).as("__r"))
      .where(col("__r").isNotNull)
      .select(col(idCol), col("__r.n_bigrams").as("n_bigrams"), col("__r.max_c").as("max_c"))
      .withColumn("top_bigram_share",
        col("max_c").cast("double") / col("n_bigrams").cast("double"))

  /** Corpus-wide top-k adjacent-token bigrams (n desc, bigram asc).
    * `zip_with` over the shifted token array keeps pair construction inside
    * codegen; the global top-k is a TakeOrdered, not a full sort. */
  def topBigrams(df: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    val toks = T.tokens(lower(col(textCol)))
    df.select(toks.as("__toks"))
      .where(size(col("__toks")) >= 2)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)
  }

  /** Adjacent-token PMI (pointwise mutual information) — the collocation
    * / keyphrase signal: PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p from
    * corpus counts, i.e. ln( (n_ab·N_uni²) / (N_bi·n_a·n_b) ). Counts are
    * exact integer aggregations; the single ln is quantized to MICRO-NATS
    * (the CharEntropy/unigram-LM house idiom) with the ratio assembled in
    * one fixed left-associative double expression, so any engine replays
    * the value. `minCount` kills the low-frequency PMI explosion (a
    * hapax pair maxes PMI by construction — the standard filter); top-k
    * orders by (pmi desc, pair) as a TakeOrdered, never a full sort.
    *
    * Scale: two exchanges (unigram + bigram counts, both map-combined,
    * both vocabulary-bounded); the count joins are equi-joins on words.
    * Overflow note: n_ab·N_uni² is computed in DOUBLE (exact for counts
    * to 2^26 — beyond that the ratio is still correct to 1 ulp, inside
    * the 1e-6 quantization). */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    val toks = T.tokens(lower(col(textCol)))
    val tokTable = df.select(toks.as("__toks"))
    val uni = tokTable.select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val biAll = tokTable.where(size(col("__toks")) >= 2)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("nab"))
    // p(ab) is over ALL bigram positions — totals come from the
    // unfiltered counts; minCount only gates which pairs are REPORTED
    val bi = biAll.where(col("nab") >= minCount)
    val totals = uni.agg(sum(col("nw")).as("n_uni")).crossJoin(
      biAll.agg(sum(col("nab")).as("n_bi")))
    val scored = bi
      .join(uni.select(col("w").as("wa"), col("nw").as("na")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("nw").as("nb")), Seq("wb"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi_unats",
        floor(log((col("nab").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("na") * col("nb"))) * lit(1e6d) +
          lit(0.5d)).cast("long"))
    scored.select(col("wa"), col("wb"), col("nab"), col("pmi_unats"))
      .orderBy(col("pmi_unats").desc, col("wa").asc, col("wb").asc)
      .limit(k)
  }

  /** Benchmark-contamination check: for each corpus document, the fraction
    * of its distinct word `n`-grams that also occur anywhere in `benchDf`
    * (the eval/benchmark set). High overlap flags training documents that
    * leak benchmark content. Gram construction is
    * the word-shingle family (lowercased, distinct,
    * short docs collapse to one sub-`n` gram, empty docs to zero grams —
    * those report 0 overlap).
    *
    * Scale: benchmark sets are small by nature, so the bench gram set is
    * BROADCAST — the corpus is never shuffled on gram text; the only
    * exchange is the per-doc rollup, and map-side partial aggregation
    * collapses it to one row per document before it ships. Gram
    * construction is the NATIVE WordShingles kernel (same semantics as the
    * HOF reference form, one tight loop per row) — the HOF chain costs
    * ~600 µs/doc in interpreted lambdas and dominated the whole operator
    * when profiled (SCALE.md). */
  def benchmarkOverlap(df: DataFrame, benchDf: DataFrame, idCol: String,
      textCol: String, n: Int = 5, flagAt: Double = 0.2): DataFrame =
    benchmarkOverlapGrams(df, benchGramSet(benchDf, textCol, n), idCol, textCol, n, flagAt)

  /** The distinct benchmark gram set for [[benchmarkOverlapGrams]] — build
    * it ONCE (and cache it) when scoring many batches against the same
    * eval suite, e.g. the streaming gate. */
  def benchGramSet(benchDf: DataFrame, textCol: String, n: Int): DataFrame = {
    import graft.plans.NativeExpressions
    benchDf
      .select(explode(NativeExpressions.wordShingles(col(textCol), n)).as("gram"))
      .distinct()
  }

  /** [[benchmarkOverlap]] against a pre-built gram set (one `gram` column). */
  def benchmarkOverlapGrams(df: DataFrame, benchGrams: DataFrame, idCol: String,
      textCol: String, n: Int = 5, flagAt: Double = 0.2): DataFrame = {
    import graft.plans.NativeExpressions
    val grams = df.select(
      col(idCol), NativeExpressions.wordShingles(col(textCol), n).as("__grams"))
    grams
      .select(col(idCol),
        // greatest-vs-0 normalizes BOTH null-size conventions (ANSI null,
        // legacy -1) to the oracle's 0 — greatest ignores null args
        greatest(size(col("__grams")), lit(0)).cast("long").as("n_grams"),
        explode_outer(col("__grams")).as("gram"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1L))), Seq("gram"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("overlap",
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap") > lit(flagAt))
  }

  /** Per-doc top-k terms WITH the smoothed tf-idf score:
    * `tf * (ln((1 + N) / (1 + df)) + 1)` (the scikit-style smooth idf — no
    * division by zero, never negative). Ranking reuses [[topTerms]]'s
    * integer ordering (tf desc, df asc, term asc), which for equal tf IS
    * the idf ordering (ln is monotone) — the float score is emitted as a
    * VALUE (rounded for cross-engine stability) but never decides order,
    * so ties can't flip on a last-bit ln difference.
    *
    * Scale: same one-shuffle-on-term shape as [[topTerms]]; the corpus doc
    * count joins in as a broadcast single-row aggregate, not a driver-side
    * collect, so the whole thing stays one logical plan. */
  def tfidfTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    topTerms(df, idCol, textCol, k)
      .join(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf") * (log((lit(1.0) + col("__n_docs")) / (lit(1.0) + col("df"))) + lit(1.0)),
        6))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"), col("tfidf"))
  }

  /** Unigram-LM cross-entropy per document (the perplexity-proxy quality
    * score of CCNet-style curation): the corpus's own unigram distribution
    * is the language model, and each document scores the average negative
    * log-probability (nats) of its token stream — low = stereotypical
    * prose, high = rare-token-heavy text (OCR noise, gibberish, wrong
    * language). Every document's tokens exist in the LM by construction
    * (it is trained on the same corpus), so no smoothing is needed and the
    * score is exact, not a backoff approximation.
    *
    * Determinism (the DuckDB oracle replays the formula bit-for-bit): the
    * LM is integer counts; each (doc, term) contribution
    * `tf * ln(N / ctf)` is one IEEE divide + ln + multiply, quantized to
    * MILLI-nats (`floor(x * 1000 + 0.5)`) and summed as longs — order-
    * independent, and coarse enough that a last-bit `ln` difference
    * between engines sits ~1e-12 of a unit away from any rounding
    * boundary. The per-doc average divides two exact integers and rounds
    * to 6dp the way the oracle's `round(x, 6)` does, as `round(x * 1e6)
    * / 1e6` in doubles: on a tie such as 4.0979375 (4097937.4999999995
    * once scaled) a decimal HALF_UP of `x` rounds the other way.
    * Quantization error ≤ 0.0005 nats per distinct term, noise at
    * quality-filter granularity.
    *
    * Scale: explode → one (doc, term) aggregation [shuffle 1] → corpus
    * term counts as an unordered sum-window on that term exchange
    * [shuffle 2] → per-doc rollup [shuffle 3, map-side combined]. The
    * total-token count joins as a broadcast single-row aggregate off a
    * separate narrow scan — never a driver collect — and the LM itself is
    * never materialized driver-side: it lives distributed in the term
    * partitioning, so vocabulary size never bounds memory. */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), explode(T.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val nTotal = df.agg(
      sum(T.tokenCount(lower(col(textCol))).cast("long")).cast("double").as("__n_total"))
    tf.withColumn("ctf", sum(col("tf")).over(Window.partitionBy(col("term"))))
      .join(broadcast(nTotal))
      .withColumn("__mnats",
        floor(col("tf").cast("double") * log(col("__n_total") / col("ctf").cast("double"))
          * lit(1000.0d) + lit(0.5d)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("__mnats")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (round(col("__s").cast("double") / (col("n_tokens").cast("double") * lit(1000.0d))
          * lit(1e6d), 0) / lit(1e6d)).as("xent"))
  }

  /** Bigram-LM cross-entropy per doc — the KenLM-proxy quality score a
    * CCNet-style curation stage filters on (Wenzek et al. 2020 filter
    * CommonCrawl by LM perplexity; a corpus-trained bigram model with
    * interpolated unigram smoothing is the engine-portable stand-in). The
    * corpus is its own LM: `p(w|v) = λ·c(vw)/c(v·) + (1−λ)·(c(w)+1)/(N+V)`
    * with λ = 0.75 (exactly representable in binary — the λ products
    * introduce no cross-engine rounding), context count `c(v·)` = bigram
    * positions starting with `v`, Laplace-smoothed unigram backoff.
    * Gibberish and boilerplate-free junk score high (surprising token
    * transitions); fluent text scores low. Docs under 2 tokens have no
    * bigram positions and are absent, as in any LM scorer.
    *
    * Determinism: the [[unigramCrossEntropy]] discipline — each
    * (doc, bigram-type) contribution is milli-nat-quantized
    * (`floor(tf·ln(p)·(−1000) + 0.5)` as long) BEFORE the per-doc sum, so
    * the rollup is order-independent integer addition and a last-bit
    * `ln()` difference between engines cannot move the hash; the final
    * score is one exact division + the shared round(…, 6).
    *
    * Scale: tf per (doc, wa, wb) [shuffle 1, map-combined]; corpus bigram
    * count and context count as two sum-windows [shuffles 2–3 — the
    * second re-keys (wa,wb)→(wa)]; unigram backoff joins on wb [shuffle
    * 4, the term-keyed exchange the unigram LM already pays]; per-doc
    * rollup [shuffle 5, map-combined]. Every frame is bounded by DISTINCT
    * (doc, bigram) tuples, not token positions; N/V broadcast from narrow
    * aggs. No LM ever materializes driver-side — at 100 TB the model IS
    * the distributed count frame. */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokTable = df.select(col(idCol), T.tokens(lower(col(textCol))).as("__toks"))
    val uni = tokTable.select(explode(col("__toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("nw"))
    val totals = tokTable
      .agg(sum(size(col("__toks"))).cast("double").as("__n_total"))
      .crossJoin(uni.agg(count(lit(1)).cast("double").as("__v")))
    val tf = tokTable.where(size(col("__toks")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .select(col(idCol), col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy(col(idCol), col("wa"), col("wb")).agg(count(lit(1)).as("tf"))
    val p =
      lit(lambda) * (col("cab").cast("double") / col("cctx").cast("double")) +
        lit(1.0d - lambda) *
          ((col("nb").cast("double") + lit(1.0d)) / (col("__n_total") + col("__v")))
    tf.withColumn("cab", sum(col("tf")).over(Window.partitionBy(col("wa"), col("wb"))))
      .withColumn("cctx", sum(col("tf")).over(Window.partitionBy(col("wa"))))
      .join(uni.select(col("term").as("wb"), col("nw").as("nb")), Seq("wb"))
      .join(broadcast(totals))
      .withColumn("__mnats",
        floor(col("tf").cast("double") * log(p) * lit(-1000.0d) + lit(0.5d))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("__mnats")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast("double") / (col("n_bigrams").cast("double") * lit(1000.0d)), 6)
          .as("xent"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling): score every document by how much more likely its token
    * stream is under the TARGET domain's unigram LM than under the raw
    * pool's — `log w(x) = Σ_t tf_t · (ln p_target(t) − ln p_raw(t))`, the
    * log-likelihood ratio of two bag-of-words models with Laplace
    * smoothing `p(t) = (count_t + 1) / (N + V)` over the JOINT vocabulary
    * (smoothing is required: raw-only terms have target count 0). High
    * `log_weight` = target-like text; downstream selection is any of the
    * [[Sampling]] gates or a top-k quota on the score.
    *
    * Determinism: both LMs are integer counts; each (doc, term)
    * contribution is quantized to milli-nats (`floor(x·1000 + 0.5)` as a
    * long) and long-summed — order-independent, and the final score is
    * `Σ/1000.0`, one exact IEEE division, no rounding at all (the oracle
    * replays the identical op sequence).
    *
    * Scale: the [[unigramCrossEntropy]] shape with one extra flag — tf per
    * (doc, term) [shuffle 1], BOTH models as conditional sum-windows on the
    * same term exchange [shuffle 2] (the two LMs co-partition for free: a
    * term's target and raw counts live in the same partition), per-doc
    * rollup [shuffle 3, map-combined]. Totals (N_target, N_raw) broadcast
    * from a narrow scan; V broadcasts from a distinct-term count. Neither
    * LM ever materializes driver-side. */
  def importanceWeights(
      df: DataFrame, idCol: String, textCol: String, isTarget: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), isTarget.as("__is_t"),
      explode(T.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("__is_t")).as("__is_t"))
    val w = Window.partitionBy(col("term"))
    val totals = df.agg(
      sum(when(isTarget, T.tokenCount(lower(col(textCol)))).cast("long"))
        .cast("double").as("__nt"),
      sum(when(!isTarget, T.tokenCount(lower(col(textCol)))).cast("long"))
        .cast("double").as("__nr"))
    val vocab = terms.agg(countDistinct(col("term")).cast("double").as("__v"))
    tf.select(col(idCol), col("term"), col("tf"),
        // one projection so both conditional sums land in ONE Window node
        // (chained withColumns interpose a Project that blocks the merge)
        sum(when(col("__is_t"), col("tf"))).over(w).as("tc"),
        sum(when(!col("__is_t"), col("tf"))).over(w).as("rc"))
      .join(broadcast(totals)).join(broadcast(vocab))
      .withColumn("__mnats",
        floor(col("tf").cast("double") *
          (log((coalesce(col("tc"), lit(0L)).cast("double") + lit(1.0d)) / (col("__nt") + col("__v"))) -
           log((coalesce(col("rc"), lit(0L)).cast("double") + lit(1.0d)) / (col("__nr") + col("__v"))))
          * lit(1000.0d) + lit(0.5d)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("__mnats")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / lit(1000.0d)).as("log_weight"))
  }

  /** Okapi BM25 ranking of the corpus against a fixed query-term set — the
    * standard retrieval scorer (quality-proxy retrieval, dedup-cluster
    * canonical picking, eval-set mining all rank by it). Per document:
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)` (the Lucene/ATIRE
    * non-negative form).
    *
    * Determinism: doc/term frequencies and doc lengths are integers;
    * `avgdl` is one exact IEEE division of two longs. Each (doc, term)
    * contribution is quantized to MILLI-units (`floor(x·1000 + 0.5)` as a
    * long) and long-summed per doc — order-independent; a last-bit `ln`
    * difference between engines sits far below the quantum. The emitted
    * score is `Σ/1000.0`, one exact division.
    *
    * Scale: the corpus is never shuffled whole — the query-term `isin`
    * filter runs IN the explode projection, so shuffle 1 carries only
    * (doc, query-term) pairs (|terms| ≤ |query| per doc). Doc length rides
    * along from the pre-explode projection (no second corpus pass, no
    * doc-length join); df is an unordered count-window on the term
    * exchange; N/avgdl broadcast from a narrow one-row aggregate. Top-k is
    * a TakeOrdered, not a global sort. */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = T.tokens(lower(col(textCol)))
    val terms = df
      .select(col(idCol), size(toks).cast("long").as("dl"), explode(toks).as("term"))
      .where(col("term").isin(queryTerms: _*))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val stats = df.agg(
      count(lit(1)).cast("double").as("__n_docs"),
      (sum(T.tokenCount(lower(col(textCol))).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("__avgdl"))
    val idf = log(
      (col("__n_docs") - col("df").cast("double") + lit(0.5d)) /
        (col("df").cast("double") + lit(0.5d)) + lit(1.0d))
    val norm = col("tf").cast("double") * lit(k1 + 1.0d) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0d - b) + lit(b) * col("dl").cast("double") / col("__avgdl")))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(broadcast(stats))
      .withColumn("__mu", floor(idf * norm * lit(1000.0d) + lit(0.5d)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("__mu")).as("__s"))
      .select(col(idCol), col("n_terms_hit"),
        (col("__s").cast("double") / lit(1000.0d)).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Per-stratum KL divergence from the corpus-wide unigram distribution —
    * the mixture-design diagnostic: `KL(P_s ‖ P_corpus)` per source says
    * how far each slice's token distribution sits from the blend the model
    * will actually train on (near 0 = generic, high = domain-specific;
    * re-weighting a high-KL source moves the mixture most). No smoothing
    * is needed: every stratum term occurs in the corpus by construction,
    * so `P_corpus` covers `P_s`'s support and the divergence is exact.
    *
    * Determinism: both distributions are integer counts. Each (stratum,
    * term) contribution `tf_s · ln((tf_s · N) / (N_s · ctf))` (the KL
    * numerator scaled by N_s) is quantized to milli-nats and long-summed;
    * the final `Σ / (N_s · 1000)` divides two exact integers, rounded 6dp.
    *
    * Scale: one (stratum, term) aggregation [shuffle 1, map-combined],
    * corpus term counts as a sum-window on the term exchange [shuffle 2] —
    * the two distributions co-partition, never materialize driver-side,
    * and vocabulary size never bounds memory. Per-stratum token totals
    * broadcast from a narrow second scan (one row per stratum). */
  def sourceDivergence(df: DataFrame, stratumCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(stratumCol),
      explode(T.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(stratumCol), col("term")).agg(count(lit(1)).as("tf"))
    val perStratum = df.groupBy(col(stratumCol))
      .agg(sum(T.tokenCount(lower(col(textCol))).cast("long")).as("__ns"))
    val nTotal = df.agg(
      sum(T.tokenCount(lower(col(textCol))).cast("long")).cast("double").as("__n"))
    tf.withColumn("ctf", sum(col("tf")).over(Window.partitionBy(col("term"))))
      .join(broadcast(perStratum), Seq(stratumCol))
      .join(broadcast(nTotal))
      .withColumn("__mnats",
        floor(col("tf").cast("double") *
          log(col("tf").cast("double") * col("__n") /
            (col("__ns").cast("double") * col("ctf").cast("double")))
          * lit(1000.0d) + lit(0.5d)).cast("long"))
      .groupBy(col(stratumCol))
      .agg(max(col("__ns")).as("n_tokens"),
        countDistinct(col("term")).as("n_terms"),
        sum(col("__mnats")).as("__s"))
      .select(col(stratumCol), col("n_tokens"), col("n_terms"),
        round(col("__s").cast("double") /
          (col("n_tokens").cast("double") * lit(1000.0d)), 6).as("kl_nats"))
  }

  /** Zipf frequency-of-frequency profile: how many distinct terms occur
    * exactly `freq` times in the corpus. The classic vocabulary-health
    * check (a training corpus should be roughly Zipfian: a long singleton
    * tail and few ultra-frequent terms; a bulge of high-frequency
    * duplicates flags boilerplate the dedup stages missed). Pure integer
    * counts end-to-end — trivially engine-portable.
    *
    * Scale: term counts [shuffle 1, map-combined]; the histogram rollup
    * [shuffle 2] carries one row per DISTINCT frequency value, which is
    * O(√total_tokens) by Zipf's law itself — never corpus-sized. */
  def zipfProfile(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(T.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    counts.groupBy(col("freq"))
      .agg(count(lit(1)).as("n_terms"))
      .orderBy(col("freq").asc)
  }

  /** Feature hashing (the "hashing trick"): tokens map to a FIXED
    * `dim`-bucket space via 60 md5 bits mod dim, emitted as sparse
    * (doc, bucket, count) rows — the vocabulary-free featurization that
    * never needs a fitted dictionary, so it works identically on every
    * shard of a 100 TB corpus with zero coordination (no vocab broadcast,
    * no OOV rows). Collisions are the accepted trade (rate ≈ vocab/dim).
    *
    * Determinism: the bucket is integer arithmetic on a cryptographic
    * hash — any engine replays it (xxhash would be faster but is not
    * portable to the SQL oracle; swap families at production scale the
    * same way the SimHash pipeline does). One (doc, bucket) aggregation
    * with map-side combine; output rows ≤ docs × min(dim, doc_len). */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 512): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    df.select(col(idCol), explode(T.tokens(lower(col(textCol)))).as("term"))
      .select(col(idCol),
        (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long")
          % lit(dim.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact PHRASE search over a positional posting list — the capability
    * BM25/TF-IDF ranking cannot express (bag-of-words scoring finds docs
    * containing "hash" and "join" anywhere; a phrase query finds "hash
    * join" as adjacent tokens). Token positions are indexed AFTER
    * empty-token removal (the same token family every text operator
    * here uses), the k-word phrase becomes k−1 adjacency self-joins on
    * (doc, position), and matches aggregate to per-doc occurrence counts
    * plus the first hit position.
    *
    * Scale shape: the posting explode is filtered to the phrase's own
    * terms BEFORE any join — a k-term query touches k posting lists, not
    * the corpus (the standard inverted-index query plan). Each adjacency
    * step is a (doc_id, pos) equi-join between frames already shrunk to
    * single-term postings, carrying only (doc_id, p0) forward; join keys
    * hash-partition, no window, no driver state. Stop-word-heavy phrases
    * inherit the usual positional-index skew answer: the hottest term's
    * list is still bounded by corpus term frequency, and AQE splits the
    * oversized partitions. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    require(phrase.forall(_.nonEmpty), "phrase terms must be non-empty")
    val raw = df
      .select(col(idCol).as("doc_id"),
        posexplode(T.tokens(lower(col(textCol)))).as(Seq("pos", "term")))
      .where(col("term").isin(phrase: _*)) // term filter BEFORE any join
    // materialize the filtered postings ONCE: a k-word phrase otherwise
    // re-tokenizes the whole corpus k times (once per posting branch).
    // localCheckpoint (GlobalRank's trade-off, documented there): blocks
    // are executor-local, so an executor loss re-runs the query — the
    // right trade for an interactive search; a standing index pipeline
    // materializes the positional index to storage instead (that is
    // exactly what invertedIndex produces, extended with positions)
    val postings =
      if (phrase.length > 1) raw.localCheckpoint(true) else raw
    def listOf(term: String, as: String) =
      postings.where(col("term") === term)
        .select(col("doc_id"), col("pos").as(as))
    val base = listOf(phrase.head, "p0")
    // explicit aliases at every step: the k posting frames share one
    // lineage, so bare column refs would trip ambiguous-self-join checks
    val chained = phrase.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, (term, i)) =>
        acc.as("l").join(listOf(term, s"p$i").as("r"),
            col("l.doc_id") === col("r.doc_id") &&
            col(s"r.p$i") === col("l.p0") + i)
          .select(col("l.doc_id").as("doc_id"), col("l.p0").as("p0"))
    }
    chained.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("p0")).cast("long").as("first_pos"))
  }
}
