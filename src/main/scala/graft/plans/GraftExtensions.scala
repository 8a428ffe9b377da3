package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Coalesce, EqualTo, Expression, ExpressionInfo, If, IsNull, LambdaFunction, Literal, Lower, NamedLambdaVariable, Not, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Registers the graft native expressions as SQL functions, so SQL-first
  * users get the same fused kernels the DataFrame API uses:
  *
  *   SELECT id, minhash_bands(char_shingles(text, 5), 128, 16) FROM docs
  *
  * [[graft.GraftSession.build]] installs it in every session it creates
  * (and so in every `newSession` clone of one); a session built elsewhere
  * gets it with `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Sketch parameters (shingle size, hash/band counts) must be integer
  * literals: they parameterize the expression instance itself (the hash
  * family is precomputed per instance), exactly like the DataFrame API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.NativeExpressions", null, name), builder))
    }
    ext.injectOptimizerRule(_ => FuseSimHashTokenize)
  }
}

/** Optimizer rule: fuse the naive `simhash64(filter(split(lower(x), '\s+'),
  * t -> t <> ''))` composition — what a SQL user writes from the primitive
  * functions — into the single-loop [[SimHashText]] kernel. The rewrite is
  * semantics-preserving on every input class: NULL text stays NULL (the
  * unfused chain null-propagates), and non-null token-less text gets the
  * composition's empty-vote fingerprint 0 via the coalesce (the fused
  * kernel alone would return NULL there). The match is deliberately narrow
  * (exact pattern, exact literals); anything else is left untouched. */
object FuseSimHashTokenize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case SimHash64(ArrayFilter(
          StringSplit(Lower(text), Literal(pat, _), Literal(-1, _)),
          LambdaFunction(Not(EqualTo(_: NamedLambdaVariable, Literal(empty, _))), _, _)))
        if pat != null && pat.toString == "\\s+" && empty != null && empty.toString.isEmpty &&
          // the rewrite duplicates `text` (IsNull + SimHashText); a
          // non-deterministic child would be evaluated twice and diverge
          text.deterministic =>
      If(IsNull(text),
        Literal.create(null, org.apache.spark.sql.types.LongType),
        Coalesce(Seq(SimHashText(text), Literal(0L))))
  }
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  private def arity(fn: String, want: Int, got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(s"$fn expects $want arguments, got ${got.length}")

  /** (name, usage, builder) for every exposed function. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("char_shingles", "char_shingles(str, n) - distinct lowercase character n-grams", {
      case Seq(c, n) => CharShingles(c, litInt(n, "char_shingles", 2))
      case args      => arity("char_shingles", 2, args)
    }),
    ("word_shingles", "word_shingles(str, n) - distinct lowercase word n-grams", {
      case Seq(c, n) => WordShingles(c, litInt(n, "word_shingles", 2))
      case args      => arity("word_shingles", 2, args)
    }),
    ("minhash_signature", "minhash_signature(shingles, k) - k-slot MinHash signature", {
      case Seq(c, k) => MinHashSignature(c, litInt(k, "minhash_signature", 2))
      case args      => arity("minhash_signature", 2, args)
    }),
    ("minhash_bands", "minhash_bands(shingles, k, b) - LSH band hashes (k slots, b bands)", {
      case Seq(c, k, b) =>
        MinHashBands(c, litInt(k, "minhash_bands", 2), litInt(b, "minhash_bands", 3))
      case args => arity("minhash_bands", 3, args)
    }),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash fingerprint", {
      case Seq(c) => SimHash64(c)
      case args   => arity("simhash64", 1, args)
    }),
    ("simhash_text", "simhash_text(str) - fused tokenize + 64-bit SimHash (NULL if token-less)", {
      case Seq(c) => SimHashText(c)
      case args   => arity("simhash_text", 1, args)
    }),
    ("lang_id", "lang_id(str) - one-pass heuristic language-ID (en/fr/de/es/it/und)", {
      case Seq(c) => LangIdExpr(c,
        graft.functions.TextFunctions.languageOrder.map(l =>
          l -> graft.functions.TextFunctions.languageMarkers(l)))
      case args => arity("lang_id", 1, args)
    }),
    ("quality_score", "quality_score(str) - one-pass composite document quality in [0,1]", {
      case Seq(c) => QualityScoreExpr(c, graft.functions.TextFunctions.englishStopwords)
      case args   => arity("quality_score", 1, args)
    }),
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity (bit-identical to DuckDB's)", {
      case Seq(a, b) => JaroWinkler(a, b)
      case args      => arity("jaro_winkler", 2, args)
    }),
    ("char_entropy", "char_entropy(str) - struct(n_cp, ent_unats): code points + micro-nat entropy", {
      case Seq(c) => CharEntropy(c)
      case args   => arity("char_entropy", 1, args)
    }),
    ("cosine_similarity", "cosine_similarity(a, b) - cosine over float/double arrays", {
      case Seq(a, b) => CosineSimilarity(a, b)
      case args      => arity("cosine_similarity", 2, args)
    }),
    ("euclidean_distance", "euclidean_distance(a, b) - L2 distance over float/double arrays", {
      case Seq(a, b) => EuclideanDistance(a, b)
      case args      => arity("euclidean_distance", 2, args)
    }))
}
