package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for the LLM-data-pipeline operators.
  * Everything here is built from `org.apache.spark.sql.functions` so the
  * whole pipeline stays inside whole-stage codegen — no UDFs, no
  * serialization breaks, scan-to-aggregate fused at any scale.
  */
object TextFunctions {

  /** Whitespace tokens with empties removed (leading/trailing whitespace
    * would otherwise produce ghost tokens). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** NULL text -> NULL count (size(null) is -1 under Spark's legacy
    * default, which would poison sums); matches DuckDB's null-propagating
    * len() in the oracles. */
  def tokenCount(c: Column): Column = when(c.isNull, lit(null)).otherwise(size(tokens(c)))

  /** BPE-ish sub-word token count: letter runs, single digits, punctuation —
    * the classic pre-tokenizer split (letters | digit | non-space symbol). */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))

  def bpeishTokenCount(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(size(bpeishTokens(c)))

  /** Canonical normalization for fingerprinting: lowercase, strip everything
    * but `[a-z0-9 ]`, collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Document fingerprint = md5 of the normalized text (stable across
    * engines — used by the DuckDB oracle too). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  // -- PII redaction -----------------------------------------------------

  /** Email-address pattern (pragmatic, not RFC-exhaustive). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (phone/account/card-shaped, 6+ digits). */
  val LongNumberPattern = "[0-9]{6,}"

  /** Redact PII-shaped substrings: emails then long digit runs, replaced by
    * typed placeholder tokens. Two codegen'd regex passes, no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailPattern, "<EMAIL>"), LongNumberPattern, "<NUM>")

  /** How many PII-shaped substrings [[redactPii]] replaces — digit runs are
    * counted on the email-redacted text, matching the replacement order (a
    * digit run inside an email is consumed by the email pass). */
  def piiCount(c: Column): Column =
    (size(regexp_extract_all(c, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(
        regexp_replace(c, EmailPattern, "<EMAIL>"), lit(LongNumberPattern), lit(0)))).cast("long")

  // -- per-document quality signals ------------------------------------

  def punctRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0d).otherwise(
      length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") / n.cast("double"))
  }

  def digitRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0d).otherwise(
      length(regexp_replace(c, "[^0-9]", "")).cast("double") / n.cast("double"))
  }

  def upperRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0d).otherwise(
      length(regexp_replace(c, "[^A-Z]", "")).cast("double") / n.cast("double"))
  }

  def meanTokenLen(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, 0.0d).otherwise(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t).cast("double"))
  }

  def stopwordRatio(c: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val t = tokens(lower(c))
    when(size(t) === 0, 0.0d).otherwise(
      size(filter(t, x => x.isin(stopwords: _*))).cast("double") / size(t).cast("double"))
  }

  /** Composite quality heuristic in [0,1]: long-enough, word-like,
    * not digit/punct-soup, has stopwords (≈ C4/Gopher-style filters).
    * Evaluated by the one-pass native expression; its built-ins-only
    * spec, ~10× dearer per row, is `qualityScoreColumns` in ExtSpec. */
  def qualityScore(c: Column): Column =
    graft.plans.NativeExpressions.qualityScore(c, englishStopwords)

  // -- language identification (n-gram/stopword heuristic) --------------

  val englishStopwords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "was",
    "on", "are", "with", "as", "at", "be", "this", "have", "from")

  /** Per-language marker words for the heuristic language-ID. Marker sets
    * are intentionally disjoint-ish high-frequency function words. */
  val languageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for", "was", "this"),
    "fr" -> Seq("le", "la", "les", "des", "une", "est", "dans", "pour", "que", "avec"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "como", "más", "pero"),
    "it" -> Seq("il", "di", "che", "non", "per", "sono", "della", "anche", "come", "questo"))

  /** Language order — doubles as the tie-break priority (en first). */
  val languageOrder: Seq[String] = Seq("en", "fr", "de", "es", "it")

  /** Heuristic language-ID: argmax of marker-word hits; `und` when no
    * marker is seen. Ties break by language order (en first). Evaluated by
    * the one-pass native expression (five tokenize+filter stacks
    * otherwise); `langIdColumns` in ExtSpec is the equivalent
    * built-ins-only spec. */
  def langId(c: Column): Column =
    graft.plans.NativeExpressions.langId(c, languageOrder.map(l => l -> languageMarkers(l)))
}
