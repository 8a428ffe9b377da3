package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the sketch/vector hot paths.
  *
  * Why these exist: Spark's higher-order functions (`transform`,
  * `aggregate`, `zip_with`) are evaluated interpreted — per-element lambda
  * dispatch plus boxing. A MinHash signature via HOFs costs
  * `numHashes × shingles` lambda invocations per row (~50ms/doc measured);
  * these expressions do the same math in one tight JVM loop per row
  * (~0.1ms/doc). All of them implement `doGenCode` as a direct call on
  * the plan-referenced instance (the [[CharShingles]] pattern, extended
  * to the whole family in round 10): the kernel runs as ordinary JVM
  * code while the projection around it stays inside whole-stage codegen
  * — no CodegenFallback row materialization anywhere in a hot path, and
  * zero kernel duplication between the interpreted and generated forms.
  *
  * Hashing is built on the same seed-42 xxhash64 base Spark's `xxhash64`
  * uses, so results are stable and reproducible across runs. The MinHash
  * slot family (affine `base*a_k+b_k` over one base hash per shingle)
  * hashes each shingle once instead of k times.
  */
object NativeExpressions {

  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)

  /** Distinct lowercase character n-gram shingles of a string. */
  def charShingles(c: Column, n: Int): Column = toCol(CharShingles(toExpr(c), n))

  /** Content-defined chunks of a string (Manber-style rolling-window
    * cut): boundary after 1-based code-point position i ≥ `window` iff
    * `md5("cdc:" || text[i-window+1 .. i])`'s first-15-hex-chars value ≡ 0
    * (mod `mask`) — byte-for-byte the contract of the HOF form this
    * kernel replaced (kept in ExtSpec as the spec's reference), which an
    * external SQL engine replays exactly. One pass per row instead of a materialized per-position
    * struct array walked by interpreted lambdas. */
  def cdcChunks(text: Column, window: Int, mask: Int): Column =
    toCol(CdcChunks(toExpr(text), window, mask))

  /** Distinct lowercase word n-gram shingles (whitespace tokens). */
  def wordShingles(c: Column, n: Int): Column = toCol(WordShingles(toExpr(c), n))

  /** LSH band hashes computed together with the MinHash signature in ONE
    * evaluation per row. Composing the signature expression inside a
    * banding `transform` lambda instead would let Catalyst's project
    * collapsing inline it into the lambda body, where interpreted HOF
    * evaluation re-executes the full signature once per band (measured
    * 16× recompute = ~25s at sf0.1 vs ~2s here). */
  def minhashBands(shingles: Column, numHashes: Int, bands: Int): Column =
    toCol(MinHashBands(toExpr(shingles), numHashes, bands))

  /** Exact set-Jaccard of two same-typed string/integral arrays, fused
    * into ONE pass (see [[ArrayJaccard]]) — value-identical to the
    * size(array_intersect)/size(array_union) composition it replaces. */
  def arrayJaccard(a: Column, b: Column): Column =
    toCol(ArrayJaccard(toExpr(a), toExpr(b)))

  /** Tokenize (lowercase whitespace split) + 64-bit SimHash fused into one
    * loop per row, with an md5-lower-64 token hash: engine-portable (DuckDB
    * can rebuild the exact fingerprint from `substr(md5(tok),1,16)`), so
    * the whole SimHash pipeline is value-checkable against a SQL oracle.
    * NULL for token-less input, so the degenerate all-zero fingerprint
    * never enters an LSH bucket join (the banding expression propagates
    * the null and `posexplode` drops the row). */
  def simhashTextPortable(text: Column): Column = toCol(SimHashTextMd5(toExpr(text)))

  /** Fused tokenize + bigram frequency profile in one pass per row:
    * struct(n_bigrams, max_c) where max_c is the count of the most frequent
    * adjacent-token bigram — NULL for texts with fewer than two tokens.
    * Replaces the interpreted `array_sort` + `aggregate` sorted-run fold
    * (the same interpreted-lambda cost center [[simhashTextPortable]] replaced):
    * the HOF form costs ms per document at sf0.1, this loop ~µs.
    * Tokenization is the shared lowercase `\s+` contract, so the result is
    * identical to the HOF form and to the DuckDB oracle. */
  def bigramRepetition(text: Column): Column = toCol(BigramRepetition(toExpr(text)))

  /** Per-band random-hyperplane sign signatures over a float/double array,
    * all bands in one evaluation (same fusion rationale as
    * [[minhashBands]]). `planes.length` must be a multiple of `bands`. */
  def hyperplaneBands(vec: Column, planes: Seq[Array[Double]], bands: Int): Column =
    toCol(HyperplaneBands(toExpr(vec), planes.map(_.toSeq), bands))

  /** Character-distribution entropy per document: struct(n_cp, ent_unats)
    * — total code points and Shannon entropy in MICRO-nats, each distinct
    * character's −p·ln p contribution floor-quantized to a long BEFORE the
    * sum so it is order-independent and replayable by a GROUP BY in any
    * engine (the unigram-LM idiom at character level). Iterates CODE
    * POINTS, matching DuckDB's `string_split(text, '')`. NULL for empty
    * input. Low entropy flags repeated-char filler; high flags binary
    * mojibake — the cheap quality gate between length and token checks. */
  def charEntropy(text: Column): Column = toCol(CharEntropy(toExpr(text)))

  /** Jaro-Winkler similarity of two strings — Spark has no built-in; the
    * textbook formulation (match window ⌊max(l1,l2)/2⌋−1, transpositions
    * halved, prefix boost p=0.1 up to 4 chars gated at jaro > 0.7, the
    * divisions in (m/l1 + m/l2 + (m−t)/m)/3 order) is bit-identical to
    * DuckDB's `jaro_winkler_similarity` — verified on all 2 016 dictionary
    * pairs — so JW scores are value-checkable cross-engine. ASCII-safe by
    * construction here (char-wise compare); non-BMP input would need
    * code-point iteration like CharShingles. */
  def jaroWinkler(a: Column, b: Column): Column =
    toCol(JaroWinkler(toExpr(a), toExpr(b)))

  /** Composite document quality score in one pass over the string —
    * replaces a 12-pass stack (3 regex scrubs + 2 tokenizations + HOF
    * folds) with a single char/token scan. Arithmetic is kept bit-identical
    * to the column formula it replaces (graft.functions.TextFunctions
    * history / the DuckDB oracle): every count is exact, every division and
    * min() happens in the same order on doubles. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    toCol(QualityScoreExpr(toExpr(text), stopwords))

  /** Heuristic language-ID in one token scan: marker-word hit counts for
    * every language plus the argmax (first language in `markers` order wins
    * ties; "und" when no marker is seen) — replaces five separate
    * tokenize+filter HOF stacks with a single pass. Semantics identical to
    * the greatest/when column fold it replaces. */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    toCol(LangIdExpr(toExpr(text), markers))

  /** Membership probe of a string column against a pre-built Bloom filter
    * (broadcast with the serialized expression to every task). Used as a
    * definite-negative pre-filter: `false` is certain, `true` may be a
    * false positive — callers must re-verify positives exactly, which the
    * LSH pipelines do anyway. */
  def bloomMightContain(c: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    toCol(BloomMightContain(toExpr(c), bloom))

  /** Cosine similarity over two float/double array columns, computed in
    * double with sequential index-order accumulation — bit-identical to
    * the DuckDB oracle formula dot/(sqrt(na)*sqrt(nb)). */
  def cosine(a: Column, b: Column): Column = toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Euclidean distance over two float/double array columns. */
  def euclidean(a: Column, b: Column): Column = toCol(EuclideanDistance(toExpr(a), toExpr(b)))

  /** DEFLATE-compressed byte size of the string's UTF-8 bytes (zlib level
    * 6, the Gopher/CCNet compression-ratio quality signal: highly
    * compressible text is boilerplate/filler, incompressible text is
    * mojibake or binary spill). Deterministic for a fixed zlib build —
    * java.util.zip ships with the JVM — but NOT replayable from SQL, so
    * queries built on it are rows-only checks with property-test bounds
    * (repetitive ≪ natural ≪ random), not hash oracles. NULL in, NULL
    * out; sizing is a length, so the scan stays one pass per row with a
    * reused per-thread Deflater. */
  def deflateSize(text: Column): Column = toCol(DeflateSize(toExpr(text)))

  /** Aho-Corasick multi-term scan: struct(total_hits, distinct_terms) of
    * case-insensitive blocklist matches in ONE pass per row — every match
    * end-position fires (overlapping + nested terms included), the
    * positional semantics a SQL oracle replays. O(chars + matches) per
    * row however large the term list — the safety-screening primitive
    * where per-term contains()/regex passes scale with |terms|. */
  def blocklistCounts(text: Column, terms: Seq[String]): Column =
    toCol(MultiTermCount(toExpr(text), terms))
}

/** SplitMix64 — deterministic per-slot hash-family constants, plus the one
  * shared MinHash signature kernel (both signature and banded expressions
  * must use the same family or candidates and verification diverge). */
private object HashFamily {
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def a(k: Int): Long = splitmix64(2L * k) | 1L // odd multiplier
  def b(k: Int): Long = splitmix64(2L * k + 1)

  /** MinHash signature: one xxhash64 per shingle, k affine derivations. */
  def signatureOf(arr: ArrayData, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val numHashes = as.length
    val m = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val base = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var k = 0
      while (k < numHashes) {
        val h = base * as(k) + bs(k)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }
}

/** Shared token-scanner helpers for the one-pass text expressions. */
private object TextScan {
  // Java regex \s = [ \t\n\x0B\f\r] — must match split("\\s+") exactly
  def isJavaRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '' || c == '\f' || c == '\r'
}

case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "shingle size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  /** The kernel, shared verbatim by interpreted eval and generated code —
    * [[doGenCode]] emits one direct call on this (plan-referenced)
    * instance, so the LSH projection stays inside whole-stage codegen
    * (no CodegenFallback row materialization) while the loop itself runs
    * as ordinary JVM code. */
  def compute(v: UTF8String): ArrayData = {
    val s = v.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new java.util.LinkedHashSet[String]()
    // Windows advance by CODE POINT, not UTF-16 unit: the DuckDB ground-
    // truth oracles slice by code point, and UTF-16 windows would also
    // split surrogate pairs into invalid shingles on astral-plane text.
    // (Residual caveat: locale-exotic lowercase mappings that change
    // length, e.g. İ, can still differ between Java and DuckDB.)
    // Empty text -> empty shingle set (NOT {""}): empty docs must take the
    // exact-dedup path, not collide into one quadratic LSH bucket
    val cpCount = if (s.isEmpty) 0 else s.codePointCount(0, s.length)
    if (cpCount == 0) ()
    else if (cpCount <= n) out.add(s)
    else {
      var start = 0
      var end = s.offsetByCodePoints(0, n)
      out.add(s.substring(start, end))
      var remaining = cpCount - n
      while (remaining > 0) {
        start = s.offsetByCodePoints(start, 1)
        end = s.offsetByCodePoints(end, 1)
        out.add(s.substring(start, end))
        remaining -= 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charShinglesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): CharShingles = copy(child = c)
}

/** One-pass content-defined chunking — see
  * [[NativeExpressions.cdcChunks]] for the boundary contract. The
  * md5-per-position cost is the CONTRACT (an external engine replays
  * boundary selection exactly; a gear/rabin recurrence would be faster
  * but engine-private); what this kernel deletes relative to the HOF
  * form is everything AROUND the hashes: the `sequence` position array,
  * a per-position struct + SQL `substr` allocation, interpreted lambda
  * dispatch, and the hex-string parse of `conv` — one digest reuse, one
  * byte-offset table, zero-copy UTF8String slices. */
case class CdcChunks(child: Expression, window: Int, mask: Int)
    extends UnaryExpression {
  require(window >= 2, s"window must be >= 2, got $window")
  require(mask >= 2, s"mask must be >= 2, got $mask")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  private val saltBytes = "cdc:".getBytes("UTF-8")

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern). Offsets, substrings and lengths all
    * count CODE POINTS (UTF8String's native unit), matching the SQL
    * contract on non-ASCII text. */
  def compute(v: UTF8String): ArrayData = {
    val bytes = v.getBytes
    val n = v.numChars()
    // byte offset of each code point start; offsets(n) = total bytes
    val offsets = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      offsets(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    offsets(n) = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[Any]()
    var chunkStart = 0 // 0-based code point starting the open chunk
    var p = window // 1-based candidate boundary position
    while (p <= n) {
      md.reset()
      md.update(saltBytes)
      md.update(bytes, offsets(p - window), offsets(p) - offsets(p - window))
      val d = md.digest()
      // value of the digest's first 15 hex chars: bytes 0..6 big-endian
      // plus the high nibble of byte 7 — 60 bits, always non-negative
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      h = (h << 4) | ((d(7) & 0xf0L) >> 4)
      if (h % mask == 0) {
        out.add(UTF8String.fromBytes(bytes, offsets(chunkStart),
          offsets(p) - offsets(chunkStart)))
        chunkStart = p
      }
      p += 1
    }
    // trailing chunk unless a boundary fired exactly at the end (the HOF
    // form's zip_with drops the then-empty tail the same way)
    if (chunkStart < n)
      out.add(UTF8String.fromBytes(bytes, offsets(chunkStart),
        offsets(n) - offsets(chunkStart)))
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdcChunksExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): CdcChunks = copy(child = c)
}

case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "shingle size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern). */
  def compute(v: UTF8String): ArrayData = {
    val tokens = v.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]()
    if (tokens.nonEmpty) {
      if (tokens.length <= n) out.add(tokens.mkString(" "))
      else {
        var i = 0
        while (i + n <= tokens.length) {
          out.add(tokens.slice(i, i + n).mkString(" ")); i += 1
        }
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShinglesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, "numHashes must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private lazy val as: Array[Long] = Array.tabulate(numHashes)(HashFamily.a)
  private lazy val bs: Array[Long] = Array.tabulate(numHashes)(HashFamily.b)

  def compute(v: ArrayData): ArrayData =
    new GenericArrayData(HashFamily.signatureOf(v, as, bs))

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  private val rowsPerBand = numHashes / bands
  private lazy val as: Array[Long] = Array.tabulate(numHashes)(HashFamily.a)
  private lazy val bs: Array[Long] = Array.tabulate(numHashes)(HashFamily.b)

  override def nullable: Boolean = true

  /** The kernel, shared by interpreted eval and generated code (the
    * [[CharShingles.compute]] pattern). Returns null — not an empty
    * array — for an empty shingle set: all-empty docs share the
    * degenerate all-MaxValue signature, and pairing them is both wrong
    * (they belong to exact dedup) and quadratic. A null lets callers
    * skip them for free — posexplode(null) emits no rows — instead of
    * re-evaluating the shingle expression in a separate filter. */
  def computeOrNull(v: ArrayData): ArrayData = {
    if (v.numElements() == 0) return null
    val sig = HashFamily.signatureOf(v, as, bs)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = HashFamily.splitmix64(b.toLong)
      var s = b * rowsPerBand
      while (s < (b + 1) * rowsPerBand) {
        h = HashFamily.splitmix64(h ^ sig(s))
        s += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = computeOrNull(v.asInstanceOf[ArrayData])

  // nullable is true (above), so nullSafeCodeGen declares ev.isNull as a
  // real variable — safe to overwrite with the empty-set null contract
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashBandsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.computeOrNull($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBands = copy(child = c)
}

case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  /** The kernel, shared verbatim by interpreted eval and generated code —
    * the [[CharShingles]] pattern: [[doGenCode]] emits one direct call on
    * this plan-referenced instance, so the simhash projection stays
    * inside whole-stage codegen instead of forcing a CodegenFallback row
    * materialization around it. */
  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(compute(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash64Expr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** The one tokenize+vote+fingerprint loop both fused SimHash expressions
  * share — they differ ONLY in the token→Long hash. Keeping the kernel in
  * one place means a tokenization or vote-arithmetic fix cannot drift
  * between the fast and the portable family. */
private object SimHashKernel {
  /** NULL (as Scala null) for token-less input; else the 64-bit fingerprint. */
  def fingerprint(v: Any, hashToken: String => Long): Any = {
    val tokens = v.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (tokens.isEmpty) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = hashToken(tokens(i))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    java.lang.Long.valueOf(fp)
  }

  def xxhash64Token(t: String): Long =
    XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)

  // MessageDigest is not thread-safe and getInstance per token is costly;
  // one instance per executor thread, reset per token via digest()
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(token) read big-endian — exactly DuckDB's
    * `('0x' || substr(md5(tok), 1, 16))::UBIGINT`. */
  def md5Token(t: String): Long = {
    val d = digest.get().digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h
  }
}

/** Fused lowercase-tokenize + SimHash: one pass over the string, no
  * intermediate token array, no interpreted HOF. NULL for token-less
  * input (see [[NativeExpressions.simhashTextPortable]]). Reached through
  * the `simhash_text` SQL function and the [[FuseSimHashTokenize]] rule. */
case class SimHashText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_text"

  def compute(v: Any): java.lang.Long =
    SimHashKernel.fingerprint(v, SimHashKernel.xxhash64Token)
      .asInstanceOf[java.lang.Long]

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashTextExpr", this)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("shtTmp")
      s"""
        java.lang.Long $tmp = $ref.compute($c);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.longValue(); }
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): SimHashText = copy(child = c)
}

/** [[SimHashText]] with the md5-lower-64 token hash family, so a SQL oracle
  * can rebuild the fingerprints bit-for-bit. Tokenization is the shared
  * [[SimHashKernel]] (lowercase, `\s+` split, drop empties). */
case class SimHashTextMd5(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_text_md5"

  def compute(v: Any): java.lang.Long =
    SimHashKernel.fingerprint(v, SimHashKernel.md5Token)
      .asInstanceOf[java.lang.Long]

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashTextMd5Expr", this)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("shtmTmp")
      s"""
        java.lang.Long $tmp = $ref.compute($c);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.longValue(); }
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): SimHashTextMd5 = copy(child = c)
}

/** One-pass bigram repetition profile: lowercase-tokenize, count adjacent
  * bigram frequencies in a hash map keyed by interned token ids (no
  * per-bigram string concatenation), emit struct(n_bigrams, max_c).
  * NULL when the text has fewer than two tokens — such documents have no
  * bigram positions to profile, mirroring the `size(tokens) >= 2` filter
  * of the HOF form this replaces. */
case class BigramRepetition(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("max_c", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "bigram_repetition"

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern); null for texts with fewer than two
    * tokens. */
  def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val tokens = v.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (tokens.length < 2) return null
    // intern tokens to dense ints so a bigram is one Long key — the count
    // map then never allocates or hashes concatenated strings
    val ids = new java.util.HashMap[String, Integer](tokens.length * 2)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long](tokens.length * 2)
    var nextId = 0
    var prevId = -1
    var maxC = 0L
    var i = 0
    while (i < tokens.length) {
      var id = ids.get(tokens(i))
      if (id == null) { id = Integer.valueOf(nextId); ids.put(tokens(i), id); nextId += 1 }
      if (i > 0) {
        val key = java.lang.Long.valueOf((prevId.toLong << 32) | (id.toLong & 0xffffffffL))
        val c = counts.merge(key, java.lang.Long.valueOf(1L),
          (a, b) => java.lang.Long.valueOf(a + b))
        if (c > maxC) maxC = c
      }
      prevId = id
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, (tokens.length - 1).toLong)
    row.update(1, maxC)
    row
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramRepExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): BigramRepetition = copy(child = c)
}

/** Code-point frequency entropy in one pass per row — see
  * [[NativeExpressions.charEntropy]] for the quantization contract. */
case class CharEntropy(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_cp", LongType, nullable = false),
    StructField("ent_unats", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy"

  /** Kernel shared by interpreted eval and generated code; null for empty
    * input. */
  def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = v.toString
    if (s.isEmpty) return null
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var total = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      total += 1
      val slot = counts.computeIfAbsent(Integer.valueOf(cp), _ => Array(0L))
      slot(0) += 1
    }
    var ent = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next()(0)
      val p = n.toDouble / total.toDouble
      // per-character floor-quantized micro-nats, summed as longs —
      // order-independent, identical to the oracle's GROUP BY replay
      ent += math.floor(-p * math.log(p) * 1e6d + 0.5d).toLong
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, total)
    row.update(1, ent)
    row
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charEntropyExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): CharEntropy = copy(child = c)
}

/** Jaro-Winkler similarity in one tight loop per row pair — the record-
  * linkage scoring primitive (reference: string similarity joins in the
  * Hernandez-Stolfo / Winkler linkage literature). See
  * [[NativeExpressions.jaroWinkler]] for the cross-engine contract. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "jaro_winkler"

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern) — JW sits in the per-candidate scoring
    * loop of the ER/fuzzy-match family, so the projection around it must
    * stay inside whole-stage codegen. */
  def compute(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length; val l2 = s2.length
    // an empty side scores 0 EVEN WHEN BOTH ARE EMPTY — DuckDB's guard
    // order, kept for the bit-parity contract (not the rapidfuzz 1.0)
    if (l1 == 0 || l2 == 0) return 0.0d
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window); val hi = math.min(l2, i + window + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0d
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    // division order is part of the cross-engine contract — do not refactor
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0d
    if (jaro > 0.7d) {
      var l = 0
      val pmax = math.min(4, math.min(l1, l2))
      while (l < pmax && s1.charAt(l) == s2.charAt(l)) l += 1
      jaro + l * 0.1d * (1.0d - jaro)
    } else jaro
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaroWinklerExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** `bloom.mightContain(child)` over a string child. The sketch rides along
  * with the serialized expression to every task (same mechanism as a
  * broadcast for plan-embedded state); Spark's BloomFilterImpl is
  * Serializable. NULL input → NULL (a null key is never "definitely
  * absent" — let the caller's null semantics decide downstream). */
case class BloomMightContain(
    child: Expression, bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  // analysis-time rejection of non-string children (the sibling vector
  // expressions do the same via VectorPair.check) — without this a
  // numeric child ClassCastExceptions mid-job on executors
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string key column, got ${child.dataType.catalogString}")

  def compute(v: UTF8String): Boolean = bloom.mightContainBinary(v.getBytes)

  override def nullSafeEval(v: Any): Any =
    java.lang.Boolean.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContainExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

case class HyperplaneBands(child: Expression, planes: Seq[Seq[Double]], bands: Int)
    extends UnaryExpression {
  require(bands > 0 && planes.nonEmpty && planes.length % bands == 0,
    s"planes (${planes.length}) must be a positive multiple of bands ($bands)")
  require(planes.length / bands <= 64,
    s"planesPerBand (${planes.length / bands}) must be <= 64 — the band signature is " +
      "a Long bitset and `1L << p` would wrap past bit 63, silently aliasing sign bits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  private val planesPerBand = planes.length / bands
  private lazy val planeArr: Array[Array[Double]] = planes.map(_.toArray).toArray

  override def nullable: Boolean = true

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern — keeps the LSH projection inside
    * whole-stage codegen). Returns null for an empty vector: every empty
    * vector has dot 0 against every plane (identical all-ones band
    * signatures), the same degenerate quadratic pairing as empty shingle
    * sets. */
  def compute(arr: ArrayData): ArrayData = {
    if (arr.numElements() == 0) return null
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = arr.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planesPerBand) {
        val plane = planeArr(b * planesPerBand + p)
        var dot = 0.0
        val d = math.min(n, plane.length)
        var i = 0
        while (i < d) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          dot += x * plane(i)
          i += 1
        }
        if (dot >= 0.0) sig |= (1L << p)
        p += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneBandsExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneBands = copy(child = c)
}

/** One-pass composite quality heuristic (C4/Gopher-style):
  *   ( min(n_chars/500, 1)                               // long enough
  *   + (3 <= meanTokenLen <= 12 ? 1.0 : 0.5)             // word-like
  *   + 1 - min(punctRatio*4, 1)                          // not punct soup
  *   + 1 - min(digitRatio*4, 1)                          // not digit soup
  *   + min(stopwordRatio*3, 1) ) / 5                     // natural prose
  *
  * Counts match the regex/HOF definitions exactly: punct class
  * [.,;:!?'"()\[\]-], digits [0-9], uppers [A-Z], tokens split on Java
  * regex \s = [ \t\n\f\r], stopword hits on lowercased tokens. */
case class QualityScoreExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(w => s.add(w))
    s
  }

  private def isPunct(c: Char): Boolean = c match {
    case '.' | ',' | ';' | ':' | '!' | '?' | '\'' | '"' | '(' | ')' | '[' | ']' | '-' => true
    case _ => false
  }

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern). */
  def compute(v: UTF8String): Double = {
    val s = v.toString
    val nUnits = s.length
    // n counts CODE POINTS, matching Spark length()/DuckDB length() — a
    // UTF-16 unit count would diverge on supplementary-plane characters.
    // Surrogates are neither whitespace nor in the ASCII classes, so the
    // char-level scans below stay correct; only the counts must be
    // code-point-based.
    val n = s.codePointCount(0, nUnits)
    var punct = 0L; var digit = 0L
    var nTokens = 0L; var tokenLenSum = 0L; var stopHits = 0L
    var i = 0
    while (i < nUnits) { // char-class counts (the sets are disjoint)
      val c = s.charAt(i)
      if (isPunct(c)) punct += 1
      else if (c >= '0' && c <= '9') digit += 1
      i += 1
    }
    i = 0
    while (i < nUnits) { // token scan, identical to split("\\s+") + nonEmpty
      if (TextScan.isJavaRegexSpace(s.charAt(i))) i += 1
      else {
        val start = i
        while (i < nUnits && !TextScan.isJavaRegexSpace(s.charAt(i))) i += 1
        nTokens += 1
        tokenLenSum += s.codePointCount(start, i)
        if (stopSet.contains(s.substring(start, i).toLowerCase(java.util.Locale.ROOT))) stopHits += 1
      }
    }
    // identical op order to the column formula / the DuckDB oracle
    val lenScore = math.min(n.toDouble / 500.0, 1.0)
    val meanTok = if (nTokens == 0L) 0.0 else tokenLenSum.toDouble / nTokens.toDouble
    val wordScore = if (meanTok >= 3.0 && meanTok <= 12.0) 1.0 else 0.5
    val punctRatio = if (n == 0) 0.0 else punct.toDouble / n.toDouble
    val digitRatio = if (n == 0) 0.0 else digit.toDouble / n.toDouble
    val punctPen = 1.0 - math.min(punctRatio * 4.0, 1.0)
    val digitPen = 1.0 - math.min(digitRatio * 4.0, 1.0)
    val stopRatio = if (nTokens == 0L) 0.0 else stopHits.toDouble / nTokens.toDouble
    val stopScore = math.min(stopRatio * 3.0, 1.0)
    (lenScore + wordScore + punctPen + digitPen + stopScore) / 5.0
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityScoreExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): QualityScoreExpr = copy(child = c)
}

/** One-pass marker-word language-ID. Tokens (lowercased, Java-\s split)
  * are looked up in one hash map of marker word -> language index; the
  * prediction is the first language (in declaration order) with the
  * maximum non-zero hit count, else "und" — exactly the
  * greatest()/when-chain semantics of the column formula. */
case class LangIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  require(markers.nonEmpty, "markers must be non-empty")
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  private lazy val langIndex: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    markers.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach(w => m.put(w, Integer.valueOf(i)))
    }
    m
  }
  private lazy val langNames: Array[UTF8String] =
    markers.map { case (l, _) => UTF8String.fromString(l) }.toArray
  private lazy val und = UTF8String.fromString("und")

  /** Kernel shared by interpreted eval and generated code. */
  def compute(v: UTF8String): UTF8String = {
    val s = v.toString.toLowerCase(java.util.Locale.ROOT)
    val hits = new Array[Int](markers.length)
    val n = s.length
    var i = 0
    while (i < n) {
      if (TextScan.isJavaRegexSpace(s.charAt(i))) i += 1
      else {
        val start = i
        while (i < n && !TextScan.isJavaRegexSpace(s.charAt(i))) i += 1
        val idx = langIndex.get(s.substring(start, i))
        if (idx != null) hits(idx.intValue()) += 1
      }
    }
    var best = 0
    var k = 0
    while (k < hits.length) { if (hits(k) > best) best = hits(k); k += 1 }
    if (best == 0) und
    else {
      var j = 0
      while (hits(j) != best) j += 1 // first language at the max wins ties
      langNames(j)
    }
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): LangIdExpr = copy(child = c)
}

/** Shared input check for the vector-pair expressions. */
private object VectorPair {
  def check(name: String, left: Expression, right: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$name needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorPair.check(prettyName, left, right)

  private def elem(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern — this sits in the per-candidate loop of
    * every similarity/ANN scan, the hottest expression in the engine).
    * Dimension mismatch -> NULL (matches the zip_with HOF reference
    * formula) — silently truncating to the shorter vector would emit
    * plausible-but-wrong similarities exactly for corrupt rows. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val la = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val lb = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, la, i); val y = elem(b, lb, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    java.lang.Double.valueOf(if (denom == 0.0) 0.0 else dot / denom)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cosTmp")
      s"""
        java.lang.Double $tmp = $ref.compute($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Exact set-Jaccard over two atomic-element arrays in ONE pass — the
  * fused form of `size(array_intersect(a,b)) / size(array_union(a,b))`:
  * one hash set per side instead of the two independent set builds (and
  * two result-array materializations) the composed built-ins pay, with
  * IDENTICAL set semantics — duplicates collapse, a null element counts
  * as one value, empty∪empty → 1.0 (the [[graft.functions.HashFunctions.jaccard]]
  * contract) — and the identical |∩|/|∪| int/int IEEE division every
  * engine replays bit-for-bit. Element types are restricted to string
  * and integral: float elements would need Spark SQL's -0.0/NaN
  * normalization, which java equality does not share, and no consumer
  * jaccards float arrays. */
case class ArrayJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_jaccard"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
          if a == b && Set[DataType](StringType, LongType, IntegerType,
            ShortType, ByteType).contains(a) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two arrays of the same string/integral element type, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  private lazy val elemType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** Kernel shared by interpreted eval and generated code (the
    * [[CharShingles]] pattern). Boxed values are safe to hash within one
    * row: both arrays are materialized for the duration of the call. */
  def compute(l: ArrayData, r: ArrayData): Double = {
    val et = elemType
    val setA = new java.util.HashSet[Any]()
    val na = l.numElements()
    var i = 0
    while (i < na) {
      setA.add(if (l.isNullAt(i)) null else l.get(i, et))
      i += 1
    }
    val seenB = new java.util.HashSet[Any]()
    var inter = 0
    val nb = r.numElements()
    var j = 0
    while (j < nb) {
      val v = if (r.isNullAt(j)) null else r.get(j, et)
      if (seenB.add(v) && setA.contains(v)) inter += 1
      j += 1
    }
    val union = setA.size + seenB.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(
      compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("arrayJaccardExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayJaccard =
    copy(left = l, right = r)
}

case class EuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "euclidean_distance"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorPair.check(prettyName, left, right)

  private def elem(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Kernel shared by interpreted eval and generated code — same
    * per-candidate-loop rationale and null-on-mismatch contract as
    * [[CosineSimilarity.compute]]. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null // see CosineSimilarity
    val la = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val lb = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, la, i) - elem(b, lb, i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("euclideanExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("eucTmp")
      s"""
        java.lang.Double $tmp = $ref.compute($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): EuclideanDistance =
    copy(left = l, right = r)
}

/** DEFLATE size of the UTF-8 bytes — see [[NativeExpressions.deflateSize]]
  * for the determinism contract. The Deflater is per-thread (reset between
  * rows, never shared across tasks): allocation per row would dominate the
  * scan, a shared instance would race. */
case class DeflateSize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "deflate_size"

  @transient private lazy val local =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(6, /* nowrap = */ true)
    }
  @transient private lazy val buf =
    new ThreadLocal[Array[Byte]] {
      override def initialValue(): Array[Byte] = new Array[Byte](64 * 1024)
    }

  def compute(v: UTF8String): Long = {
    val bytes = v.getBytes
    val d = local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val b = buf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(b)
    total
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(compute(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deflateSizeExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): DeflateSize = copy(child = c)
}

/** Aho-Corasick multi-pattern scan — see
  * [[NativeExpressions.blocklistCounts]]. The automaton (goto + failure +
  * output links over lowercase chars) is built lazily ONCE per executor
  * from the serialized term list; matching is then a single pass per row,
  * O(chars + matches) REGARDLESS of how many terms the blocklist holds —
  * the property that makes safety screening viable at 100 TB where
  * |terms| sequential regex/contains passes are not. Counts EVERY match
  * end-position (overlapping and nested terms all fire), the textbook AC
  * semantics the SQL oracle replays positionally. Char-wise (ASCII-safe)
  * like JaroWinkler; non-BMP input would need code-point states. */
case class MultiTermCount(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  require(terms.nonEmpty && terms.forall(_.nonEmpty),
    "blocklist needs at least one non-empty term")
  override def dataType: DataType = StructType(Seq(
    StructField("total_hits", LongType, nullable = false),
    StructField("distinct_terms", IntegerType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "multi_term_count"

  @transient private lazy val automaton = MultiTermCount.build(terms)

  def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = v.toString
    val (goto, fail, out) = automaton
    val hitsPerTerm = new Array[Long](terms.size)
    var state = 0
    var i = 0
    while (i < s.length) {
      val c = Character.toLowerCase(s.charAt(i))
      var st = state
      while (st != 0 && !goto(st).contains(c)) st = fail(st)
      state = goto(st).getOrElse(c, 0)
      var o = state
      while (o != 0) { // follow output links: every term ending here fires
        out(o).foreach(t => hitsPerTerm(t) += 1)
        o = fail(o)
      }
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, hitsPerTerm.sum)
    row.update(1, hitsPerTerm.count(_ > 0))
    row
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiTermCountExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): MultiTermCount = copy(child = c)
}

private object MultiTermCount {
  /** Goto/fail/output tables; states are trie nodes, 0 = root. */
  def build(terms: Seq[String]): (Array[Map[Char, Int]], Array[Int], Array[List[Int]]) = {
    val goto = scala.collection.mutable.ArrayBuffer(Map.empty[Char, Int])
    val out = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    terms.zipWithIndex.foreach { case (term, ti) =>
      var st = 0
      term.toLowerCase.foreach { c =>
        goto(st).get(c) match {
          case Some(nxt) => st = nxt
          case None =>
            goto += Map.empty; out += Nil
            val nxt = goto.size - 1
            goto(st) = goto(st).updated(c, nxt)
            st = nxt
        }
      }
      out(st) = ti :: out(st)
    }
    val fail = new Array[Int](goto.size)
    val queue = scala.collection.mutable.Queue.empty[Int]
    goto(0).values.foreach { s => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      goto(r).foreach { case (c, s) =>
        queue += s
        var st = fail(r)
        while (st != 0 && !goto(st).contains(c)) st = fail(st)
        fail(s) = goto(st).get(c).filter(_ != s).getOrElse(0)
      }
    }
    (goto.toArray, fail, out.toArray)
  }
}
