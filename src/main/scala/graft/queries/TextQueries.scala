package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.{TextAnalysis, Sampling}
import graft.functions.{TextFunctions => TF}
import graft.queries.QueryHelpers._

/** Text and language-model corpus analytics: tokenization and BPE,
  * quality and PII filters, term statistics, n-gram LMs, novelty and
  * contamination. */
object TextQueries extends QueryFamily("text") {

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
  query("q_bpe_tokens")((s, dir) => {
    val sample = t(s, dir, "documents")
      .where(col("doc_id") < 50 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val merges = graft.functions.Bpe.train(sample, numMerges = 24)
    t(s, dir, "documents").select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), merges).as("n_bpe_tokens"))
  }) {
    bpeTokensOracleSql
  }

  // sequence packing on the REAL token budget: same concat-and-chunk
  // layout as q_pack_sequences, but the per-doc counts are the
  // byte-level BPE tokenizer's (trained on the same bounded sample as
  // q_bpe_tokens) — the budget a production packer actually fills
  // sequences against, not a whitespace proxy. One user window pass
  // per source shard; the oracle replays training, tokenization AND
  // the cumulative layout
  query("q_pack_bpe")((s, dir) => {
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
  }) {
    packBpeOracleSql
  }

  // tokenizer fertility per language — BPE tokens per whitespace word,
  // THE multilingual-tokenizer QC number (a language with fertility 3×
  // another pays 3× the context budget for the same text; the standard
  // audit before fixing a vocab). Same deterministically-trained merge
  // table as q_bpe_tokens; integer sums, one division per lang row
  query("q_tokenizer_fertility")((s, dir) => {
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
  }) {
    tokenizerFertilityOracleSql
  }

  query("q_token_budget")((s, dir) => {
    val rollup = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
    // the residual 0.50 is split across however many non-pinned sources
    // EXIST, not a hardcoded count — a corpus gaining/losing a source
    // must keep the weights summing to 1. The source count is a
    // broadcast 1-row aggregate over the same per-source rollup the
    // weights divide (r16 — the former global window moved the bounded
    // rollup to one partition anyway, but the aggregate form keeps the
    // plan free of single-partition window stages; identical integer
    // count)
    val weighted = rollup
      .crossJoin(broadcast(rollup.agg(count(lit(1)).as("__n_src"))))
      .withColumn("weight",
        when(col("source") === "src0", 0.30)
          .when(col("source") === "src1", 0.20)
          .otherwise(lit(0.50) / (col("__n_src") - lit(2)).cast("double")))
      .drop("__n_src")
    weighted
      .withColumn("target_tokens", col("weight") * lit(1.0e9))
      .withColumn("epochs",
        col("target_tokens") / col("n_tokens").cast("double"))
  }) {
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
      |FROM w""".stripMargin
  }

  // NTILE length-bucketing: docs deciled by token count within each
  // source — the batch-packing prep step (equal-population buckets so
  // similar-length docs batch together). Deterministic via the
  // (n_tokens, doc_id) tie-break; one window shuffle on source.
  query("q_length_buckets")((s, dir) => {
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
  }) {
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
      |FROM b GROUP BY source, bucket""".stripMargin
  }

  // text metrics per document (single codegen'd scan; the oracle covers
  // the engine-portable subset of the profile columns)
  query("q_text_profile")((s, dir) => {
    TextAnalysis.profile(t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "n_chars", "n_tokens", "n_bpeish_tokens",
        "punct_ratio", "digit_ratio", "upper_ratio")
  }) {
    """SELECT doc_id,
      | length(text) AS n_chars,
      | len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '')) AS n_tokens,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0)) AS n_bpeish_tokens,
      | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS double) / cast(length(text) AS double) END AS punct_ratio,
      | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS double) / cast(length(text) AS double) END AS digit_ratio,
      | CASE WHEN length(text) = 0 THEN 0.0 ELSE cast(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS double) / cast(length(text) AS double) END AS upper_ratio
      |FROM documents""".stripMargin
  }

  // corpus stats per language
  query("q_corpus_stats")((s, dir) => {
    TextAnalysis.corpusStats(t(s, dir, "documents"), "lang", "text")
  }) {
    """SELECT lang, count(*) AS n_docs,
      | cast(sum(length(text)) AS bigint) AS n_chars,
      | cast(sum(len(list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> ''))) AS bigint) AS n_tokens
      |FROM documents GROUP BY lang""".stripMargin
  }

  // content fingerprint (md5 over normalized text)
  query("q_fingerprint")((s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
  }) {
    """SELECT doc_id,
      | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents""".stripMargin
  }

  // heuristic language-ID (stopword-argmax) vs labeled lang
  query("q_lang_id")((s, dir) => {
    val d = t(s, dir, "documents")
    TextAnalysis.detectLanguage(d, "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }) {
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
      |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred""".stripMargin
  }

  // composite quality score (C4/Gopher-style heuristic) as a filter —
  // value-checked: the full formula is replicated in the oracle
  query("q_quality_filter")((s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .where(col("quality") >= 0.5)
  }) {
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
      |WHERE (len_score + word_score + punct_pen + digit_pen + least(stopr * 3.0, 1.0)) / 5.0 >= 0.5""".stripMargin
  }

  // PII redaction: emails then long digit runs -> typed placeholders
  query("q_pii_scrub")((s, dir) => {
    t(s, dir, "documents").select(
      col("doc_id"),
      md5(TF.redactPii(col("text"))).as("redacted_hash"),
      TF.piiCount(col("text")).as("n_pii"))
  }) {
    """SELECT doc_id,
      | md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g')) AS redacted_hash,
      | cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
      |   + len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{6,}', 0)) AS bigint) AS n_pii
      |FROM documents""".stripMargin
  }

  // document -> overlapping token windows (training-sequence chunking)
  query("q_doc_chunks")((s, dir) => {
    TextAnalysis.tokenWindows(t(s, dir, "documents"), "doc_id", "text",
      windowSize = 50, stride = 40)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))
  }) {
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS toks
      |  FROM documents),
      | s AS (
      |  SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start
      |  FROM t WHERE len(toks) > 0)
      |SELECT doc_id, cast(start // 40 AS bigint) AS chunk_idx,
      |  cast(least(50, len(toks) - start) AS bigint) AS n_chunk_tokens,
      |  md5(array_to_string(list_slice(toks, start + 1, start + 50), ' ')) AS chunk_hash
      |FROM s""".stripMargin
  }

  // per-doc top-3 salient terms (tf-idf ordering via integer df — exact)
  query("q_top_terms")((s, dir) => {
    TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
  }) {
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
      |SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3""".stripMargin
  }

  // top terms WITH the smoothed tf-idf score value (rank stays integer-
  // ordered so a last-bit ln() difference can never flip row order)
  query("q_tfidf")((s, dir) => {
    TextAnalysis.tfidfTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
  }) {
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
      |FROM ranked WHERE rank <= 3""".stripMargin
  }

  // unigram-LM cross-entropy per doc (the perplexity-proxy quality
  // score): the corpus's own unigram counts are the LM; contributions
  // are milli-nat-quantized longs so the sum is order-independent and a
  // last-bit ln() difference between engines cannot move the hash
  query("q_unigram_lm")((s, dir) => {
    TextAnalysis.unigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
  }) {
    // the unigram LM and the scoring formula replayed exactly: integer
    // counts, per-(doc,term) milli-nat quantization, long sums, one final
    // division + round(6)
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
      |FROM lm, n GROUP BY doc_id""".stripMargin
  }

  // bigram-LM cross-entropy (the KenLM-proxy CCNet quality filter):
  // interpolated p(w|v) = 0.75·c(vw)/c(v·) + 0.25·(c(w)+1)/(N+V), per-
  // (doc,bigram) contributions milli-nat-quantized before the integer
  // per-doc sum — same determinism discipline as q_unigram_lm, one
  // order of context better at separating fluent text from gibberish
  query("q_bigram_lm")((s, dir) => {
    TextAnalysis.bigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
  }) {
    // identical interpolated-bigram arithmetic: λ = 0.75 (binary-exact),
    // context/bigram counts via the same two sum-windows, Laplace unigram
    // backoff joined on wb, milli-nat floor before the integer sum
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
      |FROM j, tot GROUP BY doc_id""".stripMargin
  }

  // DSIR-style importance weights: log-likelihood ratio of each doc under
  // the target domain's (source = src0) unigram LM vs the raw pool's,
  // Laplace-smoothed over the joint vocabulary; milli-nat quantized longs
  // make the sum order-independent and the final score is one exact IEEE
  // division (no round at all)
  query("q_importance_weights")((s, dir) => {
    TextAnalysis.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
      col("source") === "src0")
  }) {
    // both Laplace-smoothed LMs, the milli-nat quantization, and the exact
    // final division replayed; tc/rc arrive via the same term-partitioned
    // conditional sum-windows as the Spark plan
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
      |FROM m, n, v GROUP BY doc_id""".stripMargin
  }

  // per-source KL divergence from the corpus blend (mixture-design
  // diagnostic): exact — every source term occurs in the corpus, so no
  // smoothing; milli-nat quantized longs, final division of two exact
  // integers, round 6
  query("q_source_divergence")((s, dir) => {
    TextAnalysis.sourceDivergence(t(s, dir, "documents"), "source", "text")
  }) {
    // exact KL per source: corpus term counts via the same term-partitioned
    // sum-window, per-source totals from a second narrow scan, milli-nat
    // quantization, final division of two exact integers + round(6)
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
      |FROM wtf JOIN ns ON wtf.source = ns.source, nt GROUP BY wtf.source""".stripMargin
  }

  // Zipf frequency-of-frequency vocabulary profile: integers end-to-end;
  // the histogram rollup carries one row per distinct frequency value
  // (O(sqrt(tokens)) by Zipf's law), never corpus-sized
  query("q_zipf")((s, dir) => {
    TextAnalysis.zipfProfile(t(s, dir, "documents"), "text")
  }) {
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
      |  FROM documents),
      | counts AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY 1)
      |SELECT freq, count(*)::BIGINT AS n_terms FROM counts GROUP BY 1""".stripMargin
  }

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
  query("q_curriculum")((s, dir) => {
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
  }) {
    // the oracle MAY use the single-reducer global window: it runs once at
    // verification scale, while the Spark side must stay distributed
    """WITH r AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank
      |  FROM documents)
      |SELECT doc_id, rank,
      |  (rank * 10) // (SELECT count(*) FROM documents) AS shard
      |FROM r""".stripMargin
  }

  // benchmark-contamination check: eval set = 5% md5-gated docs, corpus =
  // the rest; per-doc fraction of distinct word 3-grams that leak from
  // the eval set (broadcast bench grams — the corpus never shuffles on
  // gram text). 3-grams on this small-vocab corpus give a real
  // distribution: ~3% background overlap, with near-dups of bench docs
  // crossing the 0.2 contamination flag.
  query("q_contamination")((s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = Sampling.hashSample(docs, "doc_id", 0.05, seed = "bench")
    val corpus = docs.where(!Sampling.hashGate(col("doc_id"), 0.05, "bench"))
    TextAnalysis.benchmarkOverlap(corpus, bench, "doc_id", "text",
      n = 3, flagAt = 0.2)
  }) {
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
      |FROM g, bench WHERE NOT in_bench""".stripMargin
  }

  // concat-and-chunk sequence packing: each doc's pack id and intra-pack
  // offset in the per-source token stream (seq_len 2048, deterministic
  // doc_id order within shard) — the doc → training-sequence layout step
  query("q_pack_sequences")((s, dir) => {
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
      shardCol = "source", seqLen = 2048)
  }) {
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
      |FROM streamed""".stripMargin
  }

  // corpus inverted index: per term df / total tf / bounded posting head
  // (the 20 smallest doc ids) — the search/IDF primitive; full posting
  // lists are never materialized (web-scale terms would dwarf a task)
  query("q_inverted_index")((s, dir) => {
    TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text", maxPostings = 20)
  }) {
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
      |  FROM documents),
      | tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
      |SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
      |  array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
      |FROM tf GROUP BY term""".stripMargin
  }

  // exact phrase query over positional postings — the search capability
  // bag-of-words ranking (q_bm25) cannot express: "table hash" as
  // ADJACENT tokens (the fixture has docs carrying the phrase twice,
  // so n_matches > 1 is exercised). Posting explode is filtered to the
  // query's own terms before any join; (doc, pos)-adjacency equi-join;
  // per-doc match counts + first hit position
  query("q_phrase_search")((s, dir) => {
    TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
      Seq("table", "hash"))
  }) {
    // positions are 1-based list indices over the SAME empty-filtered
    // token list; adjacency replayed as g+1/g+2 self-joins; Spark's
    // 0-based posexplode meets the oracle at min(g) - 1
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
      |FROM m GROUP BY 1""".stripMargin
  }

  // vocabulary-free featurization: tokens → 512 hash buckets, sparse
  // (doc, bucket, count) rows; no fitted dictionary, so every shard of
  // a 100 TB corpus featurizes independently
  query("q_feature_hash")((s, dir) => {
    TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text", dim = 512)
  }) {
    // same 60 md5 bits mod the bucket count — pure integer arithmetic
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
      |  FROM documents)
      |SELECT doc_id,
      |  cast(('0x' || substr(md5(term), 1, 15))::UBIGINT % 512 AS bigint) AS bucket,
      |  count(*)::BIGINT AS cnt
      |FROM toks GROUP BY 1, 2""".stripMargin
  }

  // corpus-wide top-20 bigrams (TakeOrdered, deterministic tie-break)
  query("q_bigrams")((s, dir) => {
    TextAnalysis.topBigrams(t(s, dir, "documents"), "text", k = 20)
  }) {
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS toks
      |  FROM documents),
      | b AS (
      |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
      |  FROM t WHERE len(toks) >= 2)
      |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
      |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin
  }

  // repetition filter: share of bigram positions held by the most
  // frequent bigram per doc (looping/boilerplate detector)
  query("q_repetition")((s, dir) => {
    TextAnalysis.repetitionProfile(t(s, dir, "documents"), "doc_id", "text")
  }) {
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
      |FROM c GROUP BY doc_id, n_bigrams""".stripMargin
  }

  // per-SOURCE top terms (the c-TF-IDF-style mixture/cluster labeling
  // move: treat each source as one "document", rank its terms by
  // in-source frequency with cross-source df as the tie-break) — the
  // label a corpus-mixture report prints next to each source's row.
  // Same integer ordering contract as q_top_terms, re-keyed
  query("q_source_top_terms")((s, dir) => {
    TextAnalysis.topTerms(
      t(s, dir, "documents").select(col("source"), col("text")),
      "source", "text", k = 5)
  }) {
    // the same rank replayed with the source as the grouping key
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
      |SELECT source, term, tf, df, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  // batch-over-reference novelty: the same doc split as q_cross_dedup
  // (reference < 400, batch ≥ 400), scoring how much trigram-level NEW
  // information each batch doc adds over the already-ingested corpus —
  // the complement of cross-corpus dedup (which only catches
  // whole-document copies). Reference reduces to its distinct gram set
  query("q_cross_novelty")((s, dir) => {
    val d = t(s, dir, "documents")
    TextAnalysis.crossCorpusNovelty(
      d.where(col("doc_id") >= 400), d.where(col("doc_id") < 400),
      "doc_id", "text", n = 3)
  }) {
    // same trigram dialect; the reference gram set via anti-membership
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
      |GROUP BY 1""".stripMargin
  }

  // per-doc trigram novelty: share of a doc's distinct 3-grams first
  // seen in THIS doc (min-doc-id attribution) — the incremental-
  // information rank a dedup-aware sampler uses; a verbatim copy of an
  // earlier doc scores 0. One gram-keyed exchange + per-doc rollup
  query("q_ngram_novelty")((s, dir) => {
    TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
  }) {
    // same trigram dialect; first occurrence = integer min over the gram
    // partition, novelty one int/int division — gram-less docs emit no row
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
      |FROM w GROUP BY 1""".stripMargin
  }

  // the composed training-data cleaning funnel: sanitize -> quality
  // filter -> exact dedup -> near-dup removal, reported as per-stage
  // survivor counts — value-checked end-to-end by the q_clean_corpus
  // oracle, which replays every stage in SQL (near-dup via exact pairs
  // + recursive-CTE components)
  query("q_clean_corpus")((s, dir) => {
    graft.ext.CorpusPipeline.funnel(t(s, dir, "documents"), "doc_id", "text")
  }) {
    // the full cleaning funnel, replayed stage by stage: sanitize (scrub
    // pattern), the composite quality formula, exact dedup (min-id keeper),
    // and near-dup removal resolved with a recursive-CTE transitive closure
    // over the EXACT ≥0.8 char-shingle pair set — value-checks the composed
    // pipeline end-to-end, not just its stages
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
      |UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM exact_keep) - (SELECT n FROM dropped)""".stripMargin
  }

  // per-document character-distribution entropy (micro-nat quantized,
  // order-independent integer sum — the unigram-LM idiom at char level)
  // via the native one-pass [[graft.plans.CharEntropy]] kernel; the
  // oracle replays it with string_split + GROUP BY. The cheap
  // mojibake/filler gate before tokenization
  query("q_char_entropy")((s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.NativeExpressions.charEntropy(col("text")).as("__e"))
      .where(col("__e").isNotNull)
      .select(col("doc_id"), col("__e.n_cp").as("n_cp"),
        col("__e.ent_unats").as("ent_unats"))
  }) {
    // code-point split + GROUP BY replay of the native kernel's
    // per-character floor-quantized micro-nat contributions
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
      |GROUP BY 1""".stripMargin
  }

  // adjacent-token PMI collocations (micro-nat quantized, minCount 5,
  // top 50) — the keyphrase/compound-term extractor; see
  // TextAnalysis.pmiBigrams for the determinism contract
  query("q_pmi_bigrams")((s, dir) => {
    TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5, k = 50)
  }) {
    // same tokenization as q_bigrams; totals from the PRE-filter counts;
    // the ln ratio assembled in the identical left-associative order
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
      |ORDER BY pmi_unats DESC, wa ASC, wb ASC LIMIT 50""".stripMargin
  }

  // blocklist safety screen via one Aho-Corasick pass per document:
  // total + distinct matches over a term list with NESTED and
  // OVERLAPPING members ("an" ⊂ "can" ⊂ "scan"; "tab" ⊂ "table") —
  // the positional-count oracle proves every overlap fires. One scan,
  // cost independent of |terms|; per-term regex passes are the
  // anti-pattern at 100 TB
  query("q_blocklist")((s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.NativeExpressions.blocklistCounts(col("text"),
          BlocklistTerms).as("b"))
      .where(col("b.total_hits") > 0)
      .select(col("doc_id"), col("b.total_hits").as("total_hits"),
        col("b.distinct_terms").cast("long").as("distinct_terms"))
  }) {
    // positional replay: a match STARTING at position i in SQL is the
    // same set AC counts by END position — every overlap and nested term
    // appears in both
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

  /** q_blocklist's term list: deliberately nested ("an" ⊂ "can" ⊂ "scan",
    * "tab" ⊂ "table") and overlap-prone, so the oracle equality proves the
    * Aho-Corasick output-link walk fires EVERY ending term at every
    * position — the cases a naive first-match scanner drops. */
  private val BlocklistTerms = Seq("scan", "can", "an", "table", "tab", "order")
}
