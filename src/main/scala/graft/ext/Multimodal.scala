package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded/featurized media row. `features` is what a real decoder
  * would emit; the shape (fixed-length float vector per item) is the real
  * contract downstream similarity/dedup operators consume. */
final case class MediaFeatures(
    media_id: Long,
    mime: String,
    n_bytes: Long,
    features: Array[Float])

/** One header-decoded media row ([[Multimodal.decodeMedia]]): container
  * kind from the magic bytes, image fields for BMP, audio fields for WAV,
  * and md5 over the payload's uppercase-hex rendering — hex↔bytes is a
  * bijection, so this ties the decoded fields to the exact bytes they were
  * read from, in a form this DuckDB build (md5 over VARCHAR only) can
  * recompute. */
final case class MediaDecoded(
    media_id: Long,
    kind: String,
    width: Option[Int],
    height: Option[Int],
    sample_rate: Option[Int],
    n_samples: Option[Long],
    duration_ms: Option[Double],
    payload_md5: String)

/** One PCM-decoded audio row ([[Multimodal.audioStats]]): pure-INTEGER
  * sample statistics (peak / Σ|v| / Σv² / clip / near-silence counts), so
  * RMS-style quality gates compose downstream in exact arithmetic and an
  * oracle can replay every value bit-for-bit. */
final case class AudioStats(
    media_id: Long,
    sample_rate: Int,
    n_samples: Long,
    peak_abs: Long,
    sum_abs: Long,
    sum_sq: Long,
    n_clipped: Long,
    n_silent: Long)

/** One audio energy-profile fingerprint row ([[Multimodal.audioFingerprints]]). */
final case class AudioFp(media_id: Long, n_samples: Long, fp: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus batch-shaped decode/feature-extract operators.
  *
  * The decode kernels themselves are STUBBED — this container has no
  * image/audio libraries — with clearly-marked deterministic fakes. The
  * Spark-side contract is real and tested: schema (binary + metadata
  * struct), partition-sized batch iteration (the `mapPartitions` shape a
  * JNI/FFI decoder needs to amortize model/codec init per batch), and the
  * fixed-dimension feature output that feeds Similarity/Dedup.
  */
object Multimodal {

  val FeatureDim = 16
  val BatchSize = 64

  /** Attach a fake binary payload + metadata struct to a text corpus so the
    * multimodal path has realistic shape at any scale: (id, content BINARY,
    * meta STRUCT<mime, n_bytes, width, height>). */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bytes = encode(col(textCol), "UTF-8")
    // deterministic fake metadata from the engine-portable md5-prefix
    // family (graft.functions.HashFunctions.md5PrefixLong — DuckDB computes
    // the identical number via ('0x' || substr(md5(...), 1, 8))::UBIGINT,
    // so the metadata derivation is value-checkable; xxhash64 is not).
    // 8 hex chars suffice here: the value is consumed mod small constants,
    // never mod a corpus-sized stride
    def hash32(salt: String): Column =
      graft.functions.HashFunctions.md5PrefixLong(salt, col(idCol), 8)
    df.select(
      col(idCol).as("media_id"),
      bytes.as("content"),
      struct(
        // mime derived deterministically — stand-in for real sniffing
        element_at(array(lit("image/png"), lit("image/jpeg"), lit("audio/wav")),
          ((hash32("mime:") % 3) + 1).cast("int")).as("mime"),
        length(bytes).cast("long").as("n_bytes"),
        ((hash32("w:") % 1920) + 1).cast("int").as("width"),
        ((hash32("h:") % 1080) + 1).cast("int").as("height")).as("meta"))
  }

  /** Feature kernel: BMP/WAV payloads get REAL header-derived features
    * (dimensions / audio timing via [[parseHeader]] — pure JVM, no codec
    * libraries); other containers (no decoder in this environment) fall
    * back to deterministic payload-hash features so the batch plumbing
    * stays exercised end to end. A production build swaps the fallback for
    * a codec/model call; nothing around it changes. */
  private def decodeKernel(bytes: Array[Byte], mime: String): Array[Float] = {
    val fromHeader: Option[Array[Float]] = parseHeader(bytes).map {
      case MediaHeader("bmp", Some(w), Some(h), _, _, _) =>
        Array.tabulate(FeatureDim)(i =>
          if (i % 2 == 0) w.toFloat * (i / 2 + 1) else h.toFloat * (i / 2 + 1))
      case MediaHeader("wav", _, _, Some(sr), Some(ns), _) =>
        Array.tabulate(FeatureDim)(i =>
          if (i % 2 == 0) sr.toFloat / 1000f * (i / 2 + 1) else ns.toFloat % 997f)
      case _ => fallbackFeatures(bytes)
    }
    fromHeader.getOrElse(fallbackFeatures(bytes))
  }

  /** Deterministic payload-hash features for containers without a JVM-pure
    * decoder in this environment. */
  private def fallbackFeatures(bytes: Array[Byte]): Array[Float] = {
    val h = java.util.Arrays.hashCode(bytes)
    Array.tabulate(FeatureDim)(i => ((h * (i + 1)).toFloat / Int.MaxValue))
  }

  /** Batch-shaped feature extraction: iterate each partition in batches of
    * [[BatchSize]] (mirrors `mapInPandas` batch semantics — a real codec or
    * model amortizes per-batch setup), emitting fixed-dim features. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"), col("meta.mime").as("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          // per-batch setup happens here (decoder/model init in real impl).
          // NULL payloads (a null source column encodes to null bytes)
          // become zero-byte features instead of a task-killing NPE.
          batch.map { case (id, bytes, mime) =>
            val b = if (bytes == null) Array.emptyByteArray else bytes
            MediaFeatures(id, mime, b.length.toLong, decodeKernel(b, mime))
          }
        }
      }
  }

  /** Parsed container header fields (None = not applicable to the kind). */
  private[ext] final case class MediaHeader(
      kind: String, width: Option[Int], height: Option[Int],
      sampleRate: Option[Int], nSamples: Option[Long], durationMs: Option[Double])

  /** Pure-JVM container-header parser: BMP (BITMAPINFOHEADER dimensions),
    * WAV (RIFF chunk walk → fmt sample rate + data-chunk sample count),
    * PNG (signature + IHDR dimensions/depth) and JPEG (marker-segment walk
    * to the first SOF frame header). No codec libraries — exactly the
    * header arithmetic any ingest-side media probe runs before handing
    * payloads to a real decoder. None for unrecognized or truncated
    * payloads (callers decide whether that is an error or a fallback). */
  private[ext] def parseHeader(bytes: Array[Byte]): Option[MediaHeader] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
      ((u8(i + 3) & 0xffL) << 24)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = ((u8(i) & 0xffL) << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    val pngMagic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (bytes.length >= 29 && bytes.take(8).sameElements(pngMagic)) {
      // first chunk must be IHDR (PNG spec): big-endian width at 16,
      // height at 20; bit depth / color type follow but MediaDecoded only
      // carries dimensions
      if (bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' && bytes(15) == 'R')
        Some(MediaHeader("png", Some(be32(16).toInt), Some(be32(20).toInt),
          None, None, None))
      else None
    } else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk marker segments from SOI to the first SOF frame header
      // (C0-CF minus the non-frame C4/C8/CC): big-endian height at +5,
      // width at +7 inside the segment. A real file's entropy-coded data
      // only starts after SOS, and SOF always precedes SOS, so the walk
      // never reads past a valid header. Long cursor for the same
      // corrupt-length reason as the RIFF walk.
      var pos = 2L
      var out: Option[MediaHeader] = None
      var bad = false
      while (out.isEmpty && !bad && pos + 4 <= bytes.length) {
        val p = pos.toInt
        if (u8(p) != 0xff) bad = true
        else {
          val m = u8(p + 1)
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (p + 9 <= bytes.length)
              out = Some(MediaHeader("jpeg", Some(be16(p + 7)), Some(be16(p + 5)),
                None, None, None))
            else bad = true
          } else if (m == 0xd9 || m == 0xda) bad = true // EOI/SOS before any SOF
          else {
            val segLen = be16(p + 2)
            if (segLen < 2) bad = true else pos += 2L + segLen
          }
        }
      }
      out
    } else if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M') {
      // BITMAPINFOHEADER: signed LE32 width at 18, height at 22 (a negative
      // height encodes top-down row order; dimensions are the magnitudes)
      val w = le32(18).toInt
      val h = le32(22).toInt
      Some(MediaHeader("bmp", Some(math.abs(w)), Some(math.abs(h)), None, None, None))
    } else if (bytes.length >= 44 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E') {
      // RIFF chunk walk — never assume canonical 44-byte layout: real WAVs
      // carry LIST/fact chunks between fmt and data
      // Long cursor: a corrupt 4-billion chunk size must walk off the end
      // and terminate, not wrap an Int cursor into an infinite loop
      var pos = 12L
      var sampleRate = -1; var blockAlign = -1; var dataSize = -1L
      while (pos + 8 <= bytes.length && (sampleRate < 0 || dataSize < 0)) {
        val p = pos.toInt
        val id = new String(bytes, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = le32(p + 4)
        if (id == "fmt " && pos + 8 + 16 <= bytes.length) {
          sampleRate = le32(p + 12).toInt
          blockAlign = le16(p + 20)
        } else if (id == "data") dataSize = size
        pos += 8L + size + (size & 1L) // chunks are word-aligned
      }
      if (sampleRate <= 0 || blockAlign <= 0 || dataSize < 0) None
      else {
        val nSamples = dataSize / blockAlign
        Some(MediaHeader("wav", None, None, Some(sampleRate), Some(nSamples),
          Some(nSamples * 1000.0 / sampleRate)))
      }
    } else None
  }

  /** Synthesize REAL (parseable) media payloads deterministically from an
    * id column — `id % 4` picks the container: 24-bpp BMP, 16-bit mono PCM
    * WAV, PNG (signature + IHDR + IEND), or baseline JPEG (SOI + JFIF
    * APP0 + SOF0 + EOI), with id-derived dimensions / sample counts.
    * Built entirely from engine-portable string/hex expressions
    * (`lpad∘hex` + endian byte (re)ordering + `unhex`), so a SQL oracle
    * can rebuild the exact bytes and [[decodeMedia]]'s output is
    * value-checkable md5-for-md5. Payload sizes stay tiny (≤ ~1 KB) by
    * construction. */
  def synthesizeMedia(df: DataFrame, idCol: String): DataFrame = {
    def le32(c: Column): Column = {
      val h = lpad(hex(c.cast("long")), 8, "0")
      concat(h.substr(7, 2), h.substr(5, 2), h.substr(3, 2), h.substr(1, 2))
    }
    def le16(c: Column): Column = {
      val h = lpad(hex(c.cast("long")), 4, "0")
      concat(h.substr(3, 2), h.substr(1, 2))
    }
    // PNG/JPEG fields are big-endian: the hex rendering IS the byte order
    def be32(c: Column): Column = lpad(hex(c.cast("long")), 8, "0")
    def be16(c: Column): Column = lpad(hex(c.cast("long")), 4, "0")
    val id = col(idCol).cast("long")
    val w = id % 7 + 1
    val h = id % 5 + 1
    val rowSize = floor((w * 3 + 3) / 4) * 4 // BMP rows pad to 4 bytes
    val imgSize = rowSize * h
    val fill = lpad(hex(id % 256), 2, "0") // id-dependent body byte
    val bmpHex = concat(
      lit("424D"), le32(imgSize + 54), lit("00000000"), le32(lit(54)),
      lit("28000000"), le32(w), le32(h), lit("0100"), lit("1800"),
      lit("00000000"), le32(imgSize), lit("130B0000"), lit("130B0000"),
      lit("00000000"), lit("00000000"),
      call_function("repeat", fill, imgSize.cast("int")))
    val sr = lit(8000) + (id % 8) * 1000
    val ns = id % 400 + 1
    val dataSize = ns * 2 // 16-bit mono
    val wavHex = concat(
      lit("52494646"), le32(dataSize + 36), lit("57415645"),
      lit("666D7420"), le32(lit(16)), lit("0100"), lit("0100"),
      le32(sr), le32(sr * 2), lit("0200"), lit("1000"),
      lit("64617461"), le32(dataSize),
      call_function("repeat", fill, dataSize.cast("int")))
    // PNG: signature, IHDR (8-bit truecolor; CRC zeroed — the header
    // probe, like most, never validates chunk CRCs), empty IEND with its
    // well-known constant CRC
    val pngW = id % 640 + 1
    val pngH = id % 480 + 1
    val pngHex = concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      be32(pngW), be32(pngH), lit("08"), lit("02"), lit("000000"),
      lit("00000000"), lit("00000000"), lit("49454E44"), lit("AE426082"))
    // JPEG: SOI, JFIF APP0 (1.1, 72 dpi, no thumbnail), baseline SOF0
    // with three 8-bit components (the dimensions a probe reads), EOI —
    // no scan data needed for header probing
    val jpgW = id % 1920 + 1
    val jpgH = id % 1080 + 1
    val jpgHex = concat(
      lit("FFD8"),
      lit("FFE0"), lit("0010"), lit("4A46494600"), lit("0101"), lit("00"),
      lit("0048"), lit("0048"), lit("00"), lit("00"),
      lit("FFC0"), lit("0011"), lit("08"), be16(jpgH), be16(jpgW),
      lit("03"), lit("012200"), lit("021101"), lit("031101"),
      lit("FFD9"))
    val kind = element_at(
      array(lit("bmp"), lit("wav"), lit("png"), lit("jpeg")),
      (id % 4 + 1).cast("int"))
    val hx = when(id % 4 === 0, bmpHex).when(id % 4 === 1, wavHex)
      .when(id % 4 === 2, pngHex).otherwise(jpgHex)
    df.select(id.as("media_id"), kind.as("kind"), unhex(hx).as("content"))
  }

  /** Header-decode a media table ((media_id, content BINARY) at minimum)
    * in the same partition-batched shape as [[extractFeatures]]: one
    * [[parseHeader]] call per payload, md5 computed on the exact bytes the
    * fields were read from. Unrecognized payloads surface as kind
    * "unknown" with null fields — a curation pipeline quarantines those
    * rows rather than dying mid-job. */
  def decodeMedia(media: DataFrame): Dataset[MediaDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          val md = java.security.MessageDigest.getInstance("MD5")
          batch.map { case (id, bytes) =>
            val b = if (bytes == null) Array.emptyByteArray else bytes
            // md5 over the uppercase-hex rendering, not the raw bytes: see
            // [[MediaDecoded]] (oracle engine parity)
            val hexStr = {
              val sb = new java.lang.StringBuilder(b.length * 2)
              var i = 0
              while (i < b.length) {
                sb.append("0123456789ABCDEF".charAt((b(i) & 0xf0) >> 4))
                sb.append("0123456789ABCDEF".charAt(b(i) & 0x0f))
                i += 1
              }
              sb.toString
            }
            val hexMd5 = md.digest(hexStr.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
              .map("%02x".format(_)).mkString
            parseHeader(b) match {
              case Some(hd) => MediaDecoded(id, hd.kind, hd.width, hd.height,
                hd.sampleRate, hd.nSamples, hd.durationMs, hexMd5)
              case None => MediaDecoded(id, "unknown", None, None, None, None, None, hexMd5)
            }
          }
        }
      }
  }

  /** Synthesize 9×8 24-bpp BMP images whose pixel GRID (not just header)
    * is deterministic from the id — the image-near-dup fixture. Gray value
    * at logical (x, y):
    * `(pid·37 + x·(13 + (pid mod 11)·23) + y·53 + perturb) mod 256` with
    * `pid = id mod 50` (images sharing a pid are near-identical) and
    * `perturb = 40` at the single pixel `(v mod 9, v mod 8)` for variant
    * `v = id div 50 > 0` — one perturbed pixel flips at most two dHash
    * comparison bits, so same-pid variants land within Hamming ≤ 4 of
    * each other (≤ 2 of the v=0 original). The x-gradient STEP is
    * pid-dependent (not just the offset — a constant offset survives the
    * mod in most comparisons and left cross-pid hashes near-identical;
    * measured on the 500-doc fixture: step-varying gives 0 cross-pid
    * pairs at Hamming ≤ 3 vs 3312 for offset-only, with all ~2250
    * within-pid pairs kept). All three channels carry the gray byte; rows
    * are stored bottom-up with the 28-byte stride BMP mandates for width
    * 9. Same `lpad∘hex` construction as [[synthesizeMedia]], so a SQL
    * oracle rebuilds the exact bytes and replays [[dHash64]] bit by
    * bit. */
  def synthesizeGradientImages(df: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val pid = id % 50
    val v = floor(id / 50).cast("long")
    def le32(c: Column): Column = {
      val h = lpad(hex(c.cast("long")), 8, "0")
      concat(h.substr(7, 2), h.substr(5, 2), h.substr(3, 2), h.substr(1, 2))
    }
    def grayHex(x: Int, y: Int): Column = {
      val base = pid * 37 + (pid % 11 * 23 + 13) * x + lit(y * 53)
      val g = (base + when(v > 0 && v % 9 === x && v % 8 === y, 40).otherwise(0)) % 256
      lpad(hex(g), 2, "0")
    }
    // body: 8 stored rows bottom-up (stored row ys = logical y 7-ys),
    // 9 BGR pixels (all channels equal) + 1 padding byte to the 28-byte
    // stride
    val body = concat((0 until 8).flatMap { ys =>
      val y = 7 - ys
      (0 until 9).map(x => call_function("repeat", grayHex(x, y), lit(3))) :+
        lit("00")
    }: _*)
    val hx = concat(
      lit("424D"), le32(lit(224 + 54)), lit("00000000"), le32(lit(54)),
      lit("28000000"), le32(lit(9)), le32(lit(8)), lit("0100"), lit("1800"),
      lit("00000000"), le32(lit(224)), lit("130B0000"), lit("130B0000"),
      lit("00000000"), lit("00000000"), body)
    df.select(id.as("media_id"), unhex(hx).as("content"))
  }

  /** 64-bit difference hash (dHash) of a BMP payload: nearest-neighbor
    * sample the blue channel onto a 9×8 grid, then bit `y·8 + x` is set
    * iff `gray(x+1, y) > gray(x, y)` — the standard row-gradient
    * perceptual hash, in pure integer arithmetic (floor-division
    * sampling, byte compares) so any engine replays it bit for bit.
    * None for payloads the BMP parser rejects or smaller than 1×1.
    * Near-duplicate images differ in few bits; pair search reuses the
    * SimHash Hamming-band machinery ([[imageNearDuplicates]]). */
  private[ext] def dHash64(bytes: Array[Byte]): Option[Long] =
    parseHeader(bytes) match {
      case Some(MediaHeader("bmp", Some(w), Some(h), _, _, _)) if w >= 1 && h >= 1 =>
        val stride = (w * 3 + 3) / 4 * 4
        if (bytes.length < 54 + stride * h) None
        else {
          def gray(x: Int, y: Int): Int = {
            // logical y counts from the top; BMP stores rows bottom-up
            val off = 54 + (h - 1 - y) * stride + x * 3
            bytes(off) & 0xff
          }
          var fp = 0L
          var bit = 0
          var y = 0
          while (y < 8) {
            val sy = y * h / 8
            var x = 0
            while (x < 8) {
              val sxa = x * w / 9
              val sxb = (x + 1) * w / 9
              if (gray(sxb, sy) > gray(sxa, sy)) fp |= 1L << bit
              bit += 1
              x += 1
            }
            y += 1
          }
          Some(fp)
        }
      case _ => None
    }

  /** Image near-duplicate pairs via dHash + the SimHash Hamming-band LSH:
    * fingerprints from [[dHash64]] in the partition-batched decode shape,
    * 16-bit band bucketing, Hamming verify at `maxHamming` (≤ 3 is
    * GUARANTEED recall: 3 flipped bits cannot touch all 4 bands).
    * Undecodable payloads get a null fingerprint and exit at the band
    * explode — they can never pair. Scale: the band join carries
    * (band, bval, id) rows only — never payloads — and the verify join
    * fetches two longs per candidate; the corpus is scanned once. */
  /** (id, fp) dHash fingerprints for a media frame — the decode-once
    * product every image-similarity consumer shares: at 100 TB the
    * decode+hash pass is the expensive scan, so it runs ONCE and the
    * fingerprints (16 bytes/row) are what gets stored and re-joined
    * (StagedArtifacts stages exactly this frame for the near-dup and cluster
    * queries). Undecodable payloads keep a null fingerprint. */
  def imageFingerprints(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (mid, b) =>
        (mid, dHash64(if (b == null) Array.emptyByteArray else b))
      }))
      .toDF("id", "fp")
      .select(col("id"), col("fp"))
  }

  def imageNearDuplicates(media: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDuplicatesFromFingerprints(imageFingerprints(media), maxHamming)

  /** The banding/verify half of [[imageNearDuplicates]], over an already
    * materialized (id, fp) frame. */
  def nearDuplicatesFromFingerprints(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    import graft.functions.{HashFunctions => H}
    val bandArr = when(col("fp").isNull, lit(null)).otherwise(H.simhashBands(col("fp")))
    val buckets = fps.select(col("id"), posexplode(bandArr).as(Seq("band", "bval")))
    val candidates = buckets.as("a")
      .join(buckets.as("b"), Seq("band", "bval"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    candidates
      .join(fps.select(col("id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        H.hamming64(col("fp_a"), col("fp_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** STUB resize: clamp dimensions to fit (maxW, maxH) preserving aspect
    * ratio, and stand in for the re-encoded payload by truncating bytes
    * proportionally to the area change. A real implementation swaps the
    * payload transform for a decoder+scaler; the metadata arithmetic and
    * the (id, content, meta) -> same-schema contract are the real parts —
    * a narrow per-row projection, no batch state needed. */
  def resize(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    // scale = min(maxW/w, maxH/h, 1.0)
    val scale = least(lit(maxW).cast("double") / w, lit(maxH).cast("double") / h, lit(1.0d))
    val newW = greatest(floor(w * scale), lit(1)).cast("int")
    val newH = greatest(floor(h * scale), lit(1)).cast("int")
    val keepBytes = greatest(
      floor(length(col("content")) * (newW * newH).cast("double") / (w * h)), lit(1)).cast("int")
    media.select(
      col("media_id"),
      // real impl: decode + rescale + re-encode; stub keeps a proportional prefix
      col("content").substr(lit(1), keepBytes).as("content"),
      struct(
        col("meta.mime").as("mime"),
        keepBytes.cast("long").as("n_bytes"),
        newW.as("width"),
        newH.as("height")).as("meta"))
  }

  /** Synthesize WAV payloads whose PCM BODY (not just the header) varies
    * per sample — the audio-analysis fixture [[audioStats]] decodes for
    * real. 16-bit mono, id-derived sample rate/count, and a deterministic
    * full-swing sawtooth-family signal: unsigned 16-bit pattern
    * `u_i = (id·131 + i·7919) mod 65536`, stored little-endian (signed
    * value = u − 65536 when u ≥ 32768). Built from the same engine-portable
    * `lpad∘hex` pieces as [[synthesizeMedia]] — per-sample hex via
    * `sequence → transform → array_join`, no UDF — so a SQL oracle replays
    * the closed form of the signal and checks the DECODER, not a copy of
    * it. Payloads stay ≤ ~750 bytes (50–349 samples). */
  def synthesizePcmWav(df: DataFrame, idCol: String): DataFrame = {
    def le32(c: Column): Column = {
      val h = lpad(hex(c.cast("long")), 8, "0")
      concat(h.substr(7, 2), h.substr(5, 2), h.substr(3, 2), h.substr(1, 2))
    }
    def le16(c: Column): Column = {
      val h = lpad(hex(c.cast("long")), 4, "0")
      concat(h.substr(3, 2), h.substr(1, 2))
    }
    val id = col(idCol).cast("long")
    val sr = lit(8000L) + (id % 8) * 1000L
    val ns = id % 300 + 50
    val dataSize = ns * 2
    val sampleHex = array_join(
      transform(sequence(lit(0L), ns - 1),
        i => le16((id * 131L + i * 7919L) % 65536L)), "")
    val wavHex = concat(
      lit("52494646"), le32(dataSize + 36), lit("57415645"),
      lit("666D7420"), le32(lit(16)), lit("0100"), lit("0100"),
      le32(sr), le32(sr * 2), lit("0200"), lit("1000"),
      lit("64617461"), le32(dataSize),
      sampleHex)
    df.select(id.as("media_id"), unhex(wavHex).as("content"))
  }

  /** Amplitude a silence/clipping gate treats as "clipped" (|v| at or past
    * ~97.7% of int16 full scale) and "near-silent" (|v| below 1/128 full
    * scale). Fixed, documented constants — part of the operator contract,
    * replayed by the oracle. */
  val ClipThreshold = 32000
  val SilenceThreshold = 256

  /** REAL PCM decode + per-clip sample statistics over 16-bit mono WAV
    * payloads — the audio arm of the multimodal family, and deliberately
    * NOT a stub: the RIFF chunk walk, LE int16 decode, and stat loop are
    * the actual arithmetic an audio-quality gate runs before any model
    * sees a clip. All outputs are integers ([[AudioStats]]) so downstream
    * RMS/loudness gates (`sum_sq / n_samples`), clip-ratio filters and the
    * oracle all replay exactly.
    *
    * Non-WAV / truncated / non-16-bit-mono payloads yield NO row —
    * quarantine by anti-joining output ids against input ids (the same
    * convention [[dHash64]] uses for undecodable images; [[decodeMedia]]
    * is the operator that KEEPS bad rows, with kind = "unknown"). A data
    * chunk shorter than its declared size is decoded to the bytes actually
    * present (truncated uploads are data, not task failures).
    *
    * Scale: one narrow `mapPartitions` scan, [[BatchSize]]-grouped like
    * every decode kernel here (a real codec amortizes init per batch); no
    * shuffle, no state. */
  def audioStats(media: DataFrame): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.flatMap { case (id, bytes) =>
            pcmStats(id, if (bytes == null) Array.emptyByteArray else bytes)
          }
        }
      }
  }

  /** The [[audioStats]] kernel for one payload: RIFF walk (same corrupt-
    * size-safe Long cursor as [[parseHeader]]) → require 16-bit mono PCM →
    * single pass over LE int16 samples. */
  private[ext] def pcmStats(id: Long, bytes: Array[Byte]): Option[AudioStats] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16u(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
      ((u8(i + 3) & 0xffL) << 24)
    if (bytes.length < 44 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
      bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E')
      return None
    var pos = 12L
    var sampleRate = -1; var bitsPerSample = -1; var channels = -1
    var dataOff = -1; var dataSize = -1L
    while (pos + 8 <= bytes.length && (sampleRate < 0 || dataOff < 0)) {
      val p = pos.toInt
      val chunkId = new String(bytes, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(p + 4)
      if (chunkId == "fmt " && pos + 8 + 16 <= bytes.length) {
        channels = le16u(p + 10)
        sampleRate = le32(p + 12).toInt
        bitsPerSample = le16u(p + 22)
      } else if (chunkId == "data") { dataOff = p + 8; dataSize = size }
      pos += 8L + size + (size & 1L)
    }
    if (sampleRate <= 0 || dataOff < 0 || bitsPerSample != 16 || channels != 1)
      return None
    // decode what is actually present: truncated data chunks are data
    val avail = math.min(dataSize, (bytes.length - dataOff).toLong)
    val n = (avail / 2L).toInt
    var i = 0
    var peak = 0L; var sumAbs = 0L; var sumSq = 0L
    var clipped = 0L; var silent = 0L
    while (i < n) {
      val v = le16u(dataOff + 2 * i).toShort.toInt
      val a = math.abs(v.toLong) // |Short.MinValue| = 32768 needs the long
      if (a > peak) peak = a
      sumAbs += a
      sumSq += a * a
      if (a >= ClipThreshold) clipped += 1
      if (a < SilenceThreshold) silent += 1
      i += 1
    }
    Some(AudioStats(id, sampleRate, n.toLong, peak, sumAbs, sumSq, clipped, silent))
  }

  /** Energy-profile audio fingerprint — the Shazam-family idea reduced to
    * its deterministic core: split the PCM stream into 8 frames (sample i
    * → frame `(i·8) div n`, the assignment form both engines compute
    * identically for any n), take the exact integer energy Σv² per frame,
    * and fingerprint the SIGN of consecutive energy deltas (bit f set ⇔
    * energy rises from frame f to f+1) — a 7-bit profile robust to gain
    * changes (scaling all samples preserves every comparison). Identical
    * fingerprints = near-dup candidates; feed Hamming-banded LSH
    * (the SimHash machinery) exactly like image dHash. Requires ≥ 8
    * samples (empty frames make the profile meaningless) and the same
    * 16-bit mono PCM contract as [[audioStats]]; rows failing either are
    * dropped, not errors.
    *
    * Scale: one narrow mapPartitions decode scan, no shuffle; downstream
    * grouping operates on 8-byte fingerprints only. */
  def audioFingerprints(media: DataFrame): Dataset[AudioFp] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.flatMap { case (id, bytes) =>
            pcmFingerprint(id, if (bytes == null) Array.emptyByteArray else bytes)
          }
        }
      }
  }

  /** The [[audioFingerprints]] kernel: [[pcmStats]]'s RIFF walk, then one
    * pass accumulating the 8 frame energies. */
  private[ext] def pcmFingerprint(id: Long, bytes: Array[Byte]): Option[AudioFp] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16u(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
      ((u8(i + 3) & 0xffL) << 24)
    if (bytes.length < 44 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
      bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E')
      return None
    var pos = 12L
    var sampleRate = -1; var bitsPerSample = -1; var channels = -1
    var dataOff = -1; var dataSize = -1L
    while (pos + 8 <= bytes.length && (sampleRate < 0 || dataOff < 0)) {
      val p = pos.toInt
      val chunkId = new String(bytes, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(p + 4)
      if (chunkId == "fmt " && pos + 8 + 16 <= bytes.length) {
        channels = le16u(p + 10)
        sampleRate = le32(p + 12).toInt
        bitsPerSample = le16u(p + 22)
      } else if (chunkId == "data") { dataOff = p + 8; dataSize = size }
      pos += 8L + size + (size & 1L)
    }
    if (sampleRate <= 0 || dataOff < 0 || bitsPerSample != 16 || channels != 1)
      return None
    val avail = math.min(dataSize, (bytes.length - dataOff).toLong)
    val n = (avail / 2L).toInt
    if (n < 8) return None
    val energy = new Array[Long](8)
    var i = 0
    while (i < n) {
      val v = le16u(dataOff + 2 * i).toShort.toLong
      energy(((i.toLong * 8L) / n).toInt) += v * v
      i += 1
    }
    var fp = 0L
    var f = 0
    while (f < 7) {
      if (energy(f + 1) > energy(f)) fp |= (1L << f)
      f += 1
    }
    Some(AudioFp(id, n.toLong, fp))
  }

  /** STUB frame sampling for video payloads: every `everyN`-th fixed-size
    * slice of the payload stands in for a decoded frame; real impl swaps
    * the slicer for a video decoder, the exploded output shape is real. */
  def sampleFrames(media: DataFrame, everyN: Int = 10, frameBytes: Int = 256): DataFrame = {
    val nFrames = greatest(floor(length(col("content")) / lit(frameBytes * everyN)), lit(1))
    media.select(
      col("media_id"),
      posexplode(transform(
        sequence(lit(0), (nFrames - 1).cast("int")),
        i => substring(col("content"), (i * frameBytes * everyN + 1).cast("int"), lit(frameBytes))))
        .as(Seq("frame_idx", "frame_bytes")))
  }

  // ---------------------------------------------------------------------
  // Raw-video frame sampling (parseable container, oracle-replayable)
  // ---------------------------------------------------------------------

  /** The "GVI1" raw-video fixture container (this repo's test format, in
    * the spirit of y4m: header + uncompressed grayscale frames):
    *
    *   bytes 0-3   magic "GVI1" (47 56 49 31)
    *   bytes 4-5   width,  big-endian u16
    *   bytes 6-7   height, big-endian u16
    *   bytes 8-9   n_frames, big-endian u16
    *   then n_frames frames of width*height luma bytes each.
    *
    * Synthesized deterministically from an id so a SQL oracle can replay
    * every byte: w = id%4+2, h = id%3+2, n_frames = id%23+1; frame f is
    * fill byte (id*7 + f*31) % 256 everywhere EXCEPT its first pixel,
    * (fill + f) % 256 — so per-frame means differ from the fill and a
    * lazy "read byte 0" decoder is caught. Built from engine-portable
    * hex expressions (`transform` over a frame sequence + `array_join` +
    * `unhex`), same approach as [[synthesizeMedia]]. Payloads stay ≤ ~460
    * bytes (5*4*23). */
  def synthesizeVideo(df: DataFrame, idCol: String): DataFrame = {
    def be16(c: Column): Column = lpad(hex(c.cast("long")), 4, "0")
    val id = col(idCol).cast("long")
    val w = id % 4 + 2
    val h = id % 3 + 2
    val nf = id % 23 + 1
    val frameHex = transform(sequence(lit(0L), nf - 1), f => {
      val fill = lpad(hex((id * 7 + f * 31) % 256), 2, "0")
      val first = lpad(hex((id * 7 + f * 31 + f) % 256), 2, "0")
      concat(first, call_function("repeat", fill, (w * h - 1).cast("int")))
    })
    val hx = concat(lit("47564931"), be16(w), be16(h), be16(nf),
      array_join(frameHex, ""))
    df.select(id.as("media_id"), unhex(hx).as("content"))
  }

  /** Uniform-stride frame sampling over GVI1 payloads: parse the header,
    * take frames 0, s, 2s, … with s = ceil(n_frames / targetFrames) (so at
    * most `targetFrames` frames survive, always including frame 0), and
    * emit per-frame statistics a curation pipeline filters on — exact mean
    * luma (as sum/count integers plus the double) and md5 over the frame's
    * uppercase-hex rendering (bijective with the bytes; VARCHAR md5 is
    * what the oracle engine can recompute).
    *
    * Scale shape: one `mapPartitions` pass, no shuffle — each payload is
    * decoded once and only the sampled frames are touched (the slicer
    * seeks straight to offset 10 + idx*w*h). A real codec swaps into the
    * same per-batch loop; keyframe-seeking replaces the offset arithmetic.
    * Malformed payloads (bad magic / truncated) are dropped, the same
    * quarantine contract as [[decodeMedia]]. */
  def sampleVideoFrames(video: DataFrame, targetFrames: Int): Dataset[FrameStats] = {
    require(targetFrames >= 1, s"targetFrames must be >= 1, got $targetFrames")
    val spark = video.sparkSession
    import spark.implicits._
    video.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) => sampleOneVideo(id, bytes, targetFrames) }
      }
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** Shot-boundary (scene-cut) detection over GVI1 payloads — the classic
    * luma-delta detector (a hard cut shows as a jump in global frame
    * statistics; cf. the histogram/pixel-difference family of shot
    * detectors): frame f ≥ 1 is a cut when the absolute difference of
    * consecutive INTEGER luma sums is at least `thrPerPixel` per pixel,
    * i.e. `|Σf − Σf₋₁| ≥ thrPerPixel·w·h`. Exact integers end to end, so
    * the oracle replays the detector through the fixture's closed form —
    * a seek/stride/sign bug in the decoder fails the hash.
    *
    * Scale: one mapPartitions decode pass per payload, no shuffle; emits
    * only cut rows (sparse). A real codec swaps into the same loop with
    * decoded luma planes. Malformed payloads are dropped (quarantine
    * contract). */
  def sceneCuts(video: DataFrame, thrPerPixel: Int = 100): Dataset[SceneCut] = {
    require(thrPerPixel >= 1, s"thrPerPixel must be >= 1, got $thrPerPixel")
    val spark = video.sparkSession
    import spark.implicits._
    video.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) => sceneCutsOne(id, bytes, thrPerPixel) }
      }
  }

  private def sceneCutsOne(
      id: Long, bytes: Array[Byte], thrPerPixel: Int): Iterator[SceneCut] = {
    if (bytes == null || bytes.length < 10 ||
      bytes(0) != 'G' || bytes(1) != 'V' || bytes(2) != 'I' || bytes(3) != '1')
      return Iterator.empty
    def be16u(off: Int): Int = ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
    val w = be16u(4); val h = be16u(6); val nf = be16u(8)
    val frameSize = w * h
    if (frameSize == 0 || bytes.length < 10 + nf.toLong * frameSize)
      return Iterator.empty
    val sums = Array.tabulate(nf) { f =>
      val off = 10 + f * frameSize
      var sum = 0L
      var i = 0
      while (i < frameSize) { sum += bytes(off + i) & 0xff; i += 1 }
      sum
    }
    Iterator.range(1, nf).flatMap { f =>
      val delta = math.abs(sums(f) - sums(f - 1))
      if (delta >= thrPerPixel.toLong * frameSize)
        Some(SceneCut(id, f.toLong, delta))
      else None
    }
  }

  private def sampleOneVideo(
      id: Long, bytes: Array[Byte], targetFrames: Int): Iterator[FrameStats] = {
    if (bytes == null || bytes.length < 10 ||
      bytes(0) != 'G' || bytes(1) != 'V' || bytes(2) != 'I' || bytes(3) != '1')
      return Iterator.empty
    def be16u(off: Int): Int = ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
    val w = be16u(4); val h = be16u(6); val nf = be16u(8)
    val frameSize = w * h
    if (frameSize == 0 || bytes.length < 10 + nf.toLong * frameSize) return Iterator.empty
    val stride = math.max(1, (nf + targetFrames - 1) / targetFrames)
    Iterator.range(0, nf, stride).map { f =>
      val off = 10 + f * frameSize
      var sum = 0L
      val hexSb = new java.lang.StringBuilder(frameSize * 2)
      var i = 0
      while (i < frameSize) {
        val b = bytes(off + i) & 0xff
        sum += b
        hexSb.append(HexDigits(b >>> 4)).append(HexDigits(b & 0xf))
        i += 1
      }
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(hexSb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      FrameStats(id, f, nf, w, h, sum, sum.toDouble / frameSize,
        md5.map(b => f"$b%02x").mkString)
    }
  }
}

/** One sampled video frame ([[Multimodal.sampleVideoFrames]]): exact
  * integer luma sum plus the derived mean, and md5 over the frame's
  * uppercase-hex rendering tying the stats to the exact bytes read. */
final case class FrameStats(
    media_id: Long,
    frame_idx: Int,
    n_frames: Int,
    width: Int,
    height: Int,
    luma_sum: Long,
    mean_luma: Double,
    frame_md5: String)

/** One detected shot boundary ([[Multimodal.sceneCuts]]): the frame index
  * where the cut lands and the exact integer luma-sum jump that fired. */
final case class SceneCut(media_id: Long, frame_idx: Long, abs_sum_delta: Long)
