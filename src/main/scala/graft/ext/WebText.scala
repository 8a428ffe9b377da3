package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raw-web → text: the FIRST stage of every web-corpus curation
  * pipeline (boilerplate removal + link extraction + URL
  * normalization), as pure codegen'd column expressions — no UDFs, no
  * external parser. The heuristics are the public ones every extractor
  * family uses (strip non-content blocks, tag-strip, whitespace
  * collapse, anchor-text link density as the boilerplate signal;
  * cf. the density measures popularized by the jusText/boilerpipe
  * line of work).
  *
  * Fixture contract: the test tables carry plain text, so
  * [[synthesizeHtml]] wraps each document in a DETERMINISTIC page
  * template (nav/script/style/aside/footer chrome derived from the
  * id — same discipline as `Multimodal.synthesizeMedia`, which builds
  * BMP/WAV bytes). Extraction then runs against real markup, and the
  * oracle rebuilds the same page with string concatenation and replays
  * the same regexes — so equality certifies the EXTRACTOR, not the
  * synthesizer. A regex-visible subtlety both engines share: Java and
  * RE2 both support `(?s)` dotall and lazy `.*?`, and every pattern
  * here stays inside that common dialect.
  *
  * Scale shape: everything is a per-row projection — one narrow scan,
  * no shuffle, whole-stage codegen end to end. At 100 TB this is the
  * map stage in front of the dedup/quality pipeline; nothing here
  * widens rows beyond the extracted text.
  */
object WebText {

  /** Deterministic page chrome around a text column. Chrome varies by
    * id (`%` families) so extraction can't pass by accident: the nav
    * link set, the aside's external link, and the footer all differ
    * per doc. No entities beyond plain ASCII, so tag-stripping alone
    * recovers the body text. */
  def synthesizeHtml(idCol: Column, textCol: Column): Column = {
    val id = idCol.cast("string")
    def m(k: Int) = pmod(idCol, lit(k)).cast("string")
    concat(
      lit("<html><head><title>Doc "), id, lit("</title>"),
      lit("<script>var id="), id, lit(";track(id);</script>"),
      lit("<style>.m{margin:0} nav a{color:#00f}</style></head><body>"),
      lit("<nav><a href=\"/home\">Home</a> <a href=\"/s?ref="),
      m(7), lit("\">Section</a></nav>"),
      lit("<div id=\"main\"><p>"), textCol, lit("</p></div>"),
      lit("<aside><a href=\"HTTPS://Links.Example.COM:443/p/"),
      m(13), lit("#frag\">more "), m(13),
      lit("</a></aside><footer>(c) corp "), m(100),
      lit("</footer></body></html>"))
  }

  private[ext] def stripBlocks(html: Column): Column =
    regexp_replace(
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")

  private[ext] def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", " ")

  private[ext] def collapseWs(c: Column): Column =
    trim(regexp_replace(c, "[\\s\\u000b]+", " "))

  /** The URL canonicalization every web-dedup keys on, shared by
    * [[extractAll]]'s link and anchor rows: scheme+host lowercased; path/query case-PRESERVED (paths are
    * case-sensitive); :443/:80 dropped only with their scheme's default;
    * fragment stripped; root-relative hrefs resolved against `baseHost`.
    * No lookahead anywhere: the oracle replays these in RE2, which has
    * none — the (possibly empty) tail is captured and re-emitted. */
  private[ext] def normalizeHref(href: Column, baseHost: String): Column = {
    val absolute = when(href.rlike("(?i)^https?://"), href)
      .otherwise(concat(lit(s"https://$baseHost"), href))
    val noFrag = regexp_replace(absolute, "#.*$", "")
    val schemeLower = concat(
      lower(regexp_extract(noFrag, "^([^:]+)://", 1)), lit("://"),
      lower(regexp_extract(noFrag, "^[^:]+://([^/?#]*)", 1)),
      regexp_extract(noFrag, "^[^:]+://[^/?#]*(.*)$", 1))
    regexp_replace(
      regexp_replace(schemeLower,
        "^(https://[^/?#:]*):443((?:[/?].*)?)$", "$1$2"),
      "^(http://[^/?#:]*):80((?:[/?].*)?)$", "$1$2")
  }

  /** The registrable domain approximated as the last two host labels
    * (the full public-suffix list is a broadcast lookup in production —
    * documented, not shipped). */
  private[ext] def registrableDomain(urlNorm: Column): Column =
    regexp_extract(
      regexp_extract(urlNorm, "^[^:]+://([^/?#:]*)", 1),
      "([^.]+\\.[^.]+)$", 1)

  /** ALL THREE extraction products in ONE pass over the raw HTML: the
    * per-page boilerplate-removal report — title, cleaned text, its
    * length, anchor-text link density (chars of text inside `<a>` / chars
    * of all text — int/int one IEEE division) and the link count — plus
    * the outgoing-link rows (href, normalized url, registrable domain) and
    * the anchor rows (normalized target, tag-stripped whitespace-collapsed
    * anchor text; ONE pattern evaluated twice — group 1 = href, group 2 =
    * inner — so the two arrays are position-aligned by construction)
    * carried as per-page struct ARRAYS (consumers explode their axis;
    * parquet column pruning keeps each consumer's scan as narrow as a
    * dedicated file). This is the multi-output ingest form: at 100 TB the
    * raw HTML is the largest column in the lake, and building the three
    * products separately scanned (and regex-processed the shared chrome
    * of) every page three times — here the page row is read once and
    * every product's columns are computed in the same projection.
    * Field-for-field identical to the single-product builders (same regex
    * chain): WebTextSpec pins the report, the exploded `links` and the
    * exploded `anchors` against them. `htmlCol` must hold markup (pair
    * with [[synthesizeHtml]] on plain-text fixtures). Every product is a
    * per-row projection, so this also runs unchanged on a stream. */
  def extractAll(df: DataFrame, idCol: String, htmlCol: String,
      baseHost: String): DataFrame = {
    val noBlocks = stripBlocks(col(htmlCol))
    val clean = collapseWs(stripTags(noBlocks))
    val anchorText = collapseWs(stripTags(
      array_join(regexp_extract_all(noBlocks,
        lit("(?s)<a [^>]*>(.*?)</a>"), lit(1)), " ")))
    val hrefs = regexp_extract_all(col(htmlCol),
      lit("<a [^>]*href=\"([^\"]*)\""), lit(1))
    val pat = lit("(?s)<a [^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>")
    df.select(
      col(idCol),
      regexp_extract(col(htmlCol), "(?s)<title>(.*?)</title>", 1).as("title"),
      clean.as("text_clean"),
      length(clean).cast("long").as("text_len"),
      (length(anchorText).cast("double") /
        greatest(length(clean), lit(1)).cast("double")).as("link_density"),
      size(regexp_extract_all(col(htmlCol), lit("(?s)<a [^>]*>"), lit(0)))
        .cast("long").as("n_links"),
      transform(hrefs, h => struct(
        h.as("href"),
        normalizeHref(h, baseHost).as("url_norm"))).as("links"),
      transform(arrays_zip(
          regexp_extract_all(col(htmlCol), pat, lit(1)),
          regexp_extract_all(col(htmlCol), pat, lit(2))),
        a => struct(
          normalizeHref(a("0"), baseHost).as("url_norm"),
          collapseWs(stripTags(a("1"))).as("anchor_text"))).as("anchors"))
      // domain derives from the normalized url; a second transform keeps
      // the normalization chain evaluated once per href
      .withColumn("links", transform(col("links"), l => struct(
        l("href").as("href"), l("url_norm").as("url_norm"),
        registrableDomain(l("url_norm")).as("domain"))))
  }

  /** Anchor-text index per normalized link TARGET — the inbound-link
    * rollup web search and link-graph quality scoring key on (anchor
    * text is the classic off-page relevance signal; inlink counts feed
    * centrality/spam features): per target, total inbound anchors,
    * distinct source pages, total anchor characters.
    *
    * Input: one (page id, url_norm, anchor_text) row per `<a>` tag — the
    * exploded `anchors` of [[extractAll]], staged. Scale: one
    * exchange on the target key with map-combined partials — the shape
    * of a full web-graph anchor aggregation; anchor text leaves the page
    * row only as the (short) extracted string. */
  def anchorStatsFromPairs(pairs: DataFrame, idCol: String): DataFrame =
    pairs.groupBy(col("url_norm"))
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col(idCol)).as("n_pages"),
        sum(length(col("anchor_text")).cast("long")).as("anchor_chars"))

  /** Deterministic encoding damage for the audit fixture (the
    * [[synthesizeHtml]] discipline): four damage families keyed off the
    * doc id — U+FFFD replacement runs (a decoder already gave up),
    * UTF-8-read-as-Latin-1 mojibake signatures (Ã©/â€™ — the ftfy
    * repertoire), C0 control spill, and NBSP-as-spacing. No NUL anywhere:
    * engine string types (and real pipelines) reject it. */
  def synthesizeEncodingDamage(idCol: Column, textCol: Column): Column = {
    val tail = when(pmod(idCol, lit(10)) === 0, lit(" ��broken�"))
      .when(pmod(idCol, lit(10)) === 1,
        lit(" cafÃ© âquoteâ"))
      .when(pmod(idCol, lit(10)) === 2, lit(" ctlspill"))
      .when(pmod(idCol, lit(10)) === 3, lit(" a b c"))
      .otherwise(lit(""))
    concat(textCol, tail)
  }

  /** Per-document encoding-damage audit — the ftfy-style triage a web
    * corpus runs before (or instead of) repair: counts of U+FFFD
    * replacement chars, C0 controls outside `\t\n\r` (includes `\x0b\x0c`
    * — they survive tokenizers but break downstream formats), classic
    * double-encoding signatures (Ã©-family, â€˜â€™â€œâ€�-family, Â+NBSP),
    * and bare NBSPs; `clean` = no hits at all. A curation stage routes
    * `clean = false` docs to quarantine or a re-decode pass.
    *
    * All four counters are non-overlapping leftmost regexp counts on
    * literal code points — the Java/RE2 common dialect (no escapes RE2
    * lacks), so the oracle replays them verbatim with
    * `len(regexp_extract_all(…))`. Scale: one codegen'd scan, zero
    * shuffles, zero UDFs. */
  def encodingAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      regexp_count(t, lit("�")).cast("long").as("n_replacement"),
      regexp_count(t, lit("[--]")).cast("long").as("n_ctrl"),
      regexp_count(t,
        lit("Ã[¨©ª«]|" +
          "â[]|Â ")).cast("long").as("n_mojibake"),
      regexp_count(t, lit(" ")).cast("long").as("n_nbsp"))
      .withColumn("clean",
        col("n_replacement") + col("n_ctrl") + col("n_mojibake") + col("n_nbsp") === 0)
  }
}
