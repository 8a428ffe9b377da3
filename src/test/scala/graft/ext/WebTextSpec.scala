package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WebTextSpec extends SparkSpec {
  import spark.implicits._

  private def pages = {
    val docs = Seq(
      (0L, "Plain body text here."),
      (6L, "Two  spaces\tand\nnewlines collapse."),
      (13L, ""), // empty body: chrome only
      (99L, "a < b is not a tag; neither is 3<4.")
    ).toDF("doc_id", "text")
    docs.select(col("doc_id"),
      WebText.synthesizeHtml(col("doc_id"), col("text")).as("html"),
      col("text"))
  }

  test("extract recovers the body text (whitespace-collapsed) and strips chrome") {
    val out = WebTextReference.extract(pages, "doc_id", "html")
      .join(pages.select(col("doc_id"), col("text")), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r0 = out(0L)
    val clean = r0.getAs[String]("text_clean")
    // body text present, script/style payloads gone, chrome text kept as
    // text (nav labels ARE page text — density is what downgrades them)
    assert(clean.contains("Plain body text here."))
    assert(!clean.contains("track(id)") && !clean.contains("margin:0"))
    assert(r0.getAs[String]("title") === "Doc 0")
    assert(r0.getAs[Long]("n_links") === 3L)
    // whitespace collapse: the doc-6 body's runs become single spaces
    assert(out(6L).getAs[String]("text_clean")
      .contains("Two spaces and newlines collapse."))
    // raw '<' in prose: valid HTML must escape it as &lt;, and the
    // conservative stripper treats an unescaped '<' as a tag open and
    // eats to the next '>' (here: through the closing </p>). Pin the
    // documented behavior — text BEFORE the '<' survives, the rest of
    // that pseudo-tag does not. Both engines replay this identically.
    val c99 = out(99L).getAs[String]("text_clean")
    assert(c99.contains("Home Section") && c99.contains(" a "))
    assert(!c99.contains("is not a tag"))
    // empty body: only chrome text remains, density is high
    assert(out(13L).getAs[Double]("link_density") >
      out(0L).getAs[Double]("link_density"))
  }

  test("link_density is anchor text share of clean text") {
    val r = WebTextReference.extract(pages, "doc_id", "html")
      .where(col("doc_id") === 0L).collect()(0)
    val clean = r.getAs[String]("text_clean")
    // anchors: "Home", "Section", "more 0"
    val anchor = "Home Section more 0"
    assert(r.getAs[Double]("link_density") ===
      anchor.length.toDouble / clean.length.toDouble)
  }

  test("links normalizes case, default port, fragment, and relative hrefs") {
    val out = WebTextReference.links(pages, "doc_id", "html", "corp.example.com")
      .where(col("doc_id") === 6L)
      .orderBy(col("href")).collect()
    assert(out.length === 3)
    val byHref = out.map(r => r.getAs[String]("href") -> r).toMap
    assert(byHref("/home").getAs[String]("url_norm") ===
      "https://corp.example.com/home")
    assert(byHref("/home").getAs[String]("domain") === "example.com")
    assert(byHref("/s?ref=6").getAs[String]("url_norm") ===
      "https://corp.example.com/s?ref=6")
    // absolute: scheme+host lowercased, :443 dropped, #frag dropped,
    // path case preserved
    assert(byHref("HTTPS://Links.Example.COM:443/p/6#frag")
      .getAs[String]("url_norm") === "https://links.example.com/p/6")
    assert(byHref("HTTPS://Links.Example.COM:443/p/6#frag")
      .getAs[String]("domain") === "example.com")
  }

  test("non-default port and http:80 handling") {
    val df = Seq((1L, "<a href=\"http://X.Y.test:80/q\">a</a>" +
      "<a href=\"https://h.test:8443/z\">b</a>")).toDF("doc_id", "html")
    val out = WebTextReference.links(df, "doc_id", "html", "corp.example.com")
      .orderBy(col("href")).collect()
    assert(out(0).getAs[String]("url_norm") === "http://x.y.test/q")
    assert(out(1).getAs[String]("url_norm") === "https://h.test:8443/z")
  }

  test("extractAll reproduces extract/links/anchorPairs field-for-field") {
    // the single-product builders survive as the EXECUTABLE REFERENCE for
    // the combined one-pass build (and as the streaming-path operators) —
    // this pin is the contract that keeps them: exploding extractAll's
    // struct arrays must reproduce each dedicated builder's rows exactly,
    // column names included (r13 verdict #7)
    val all = WebText.extractAll(pages, "doc_id", "html", "corp.example.com")
    val extractCols = Seq("doc_id", "title", "text_clean", "text_len",
      "link_density", "n_links").map(col)
    assert(all.select(extractCols: _*)
      .except(WebTextReference.extract(pages, "doc_id", "html")).isEmpty &&
      WebTextReference.extract(pages, "doc_id", "html")
        .except(all.select(extractCols: _*)).isEmpty,
      "extractAll's per-page report drifted from extract")
    val allLinks = all.select(col("doc_id"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("l.href").as("href"),
        col("l.url_norm").as("url_norm"), col("l.domain").as("domain"))
    val refLinks = WebTextReference.links(pages, "doc_id", "html", "corp.example.com")
    // exceptAll is MULTISET difference — both empty directions pin exact
    // row multiplicity, not just the value sets (a total-count check
    // could not catch per-key multiplicity redistribution)
    assert(allLinks.exceptAll(refLinks).isEmpty &&
      refLinks.exceptAll(allLinks).isEmpty,
      "extractAll's links axis drifted from links")
    val allAnchors = all.select(col("doc_id"), explode(col("anchors")).as("a"))
      .select(col("doc_id"), col("a.url_norm").as("url_norm"),
        col("a.anchor_text").as("anchor_text"))
    val refAnchors = WebTextReference.anchorPairs(pages, "doc_id", "html", "corp.example.com")
    assert(allAnchors.exceptAll(refAnchors).isEmpty &&
      refAnchors.exceptAll(allAnchors).isEmpty,
      "extractAll's anchors axis drifted from anchorPairs")
  }

  test("encodingAudit: each damage family hits exactly its counter; clean text is clean") {
    // ids 10,11,12,13 select the four synthesized damage families;
    // id 14 stays untouched; \t\n\r must NOT count as control spill
    val docs = Seq(
      (10L, "ok"), (11L, "ok"), (12L, "ok"), (13L, "ok"),
      (14L, "tabs\tand\nnewlines\rstay clean")
    ).toDF("doc_id", "text")
    val damaged = docs.select(col("doc_id"),
      WebText.synthesizeEncodingDamage(col("doc_id"), col("text")).as("dmg"))
    val out = WebText.encodingAudit(damaged, "doc_id", "dmg")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(out(10L) == ((3L, 0L, 0L, 0L, false)), s"replacement family: ${out(10L)}")
    assert(out(11L) == ((0L, 0L, 3L, 0L, false)), s"mojibake family: ${out(11L)}")
    assert(out(12L) == ((0L, 3L, 0L, 0L, false)), s"control family: ${out(12L)}")
    assert(out(13L) == ((0L, 0L, 0L, 2L, false)), s"nbsp family: ${out(13L)}")
    assert(out(14L) == ((0L, 0L, 0L, 0L, true)), s"undamaged: ${out(14L)}")
  }
}
