package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import WebText.{collapseWs, normalizeHref, registrableDomain, stripBlocks, stripTags}

/** Single-product forms of [[WebText.extractAll]]'s report, link rows and
  * anchor rows: the executable references the combined one-pass build is
  * pinned against field-for-field (WebTextSpec, WebTextProps). */
object WebTextReference {

  /** Boilerplate-removal report per page: title, cleaned text, its length,
    * anchor-text link density (chars of text inside `<a>` / chars of all
    * text — int/int one IEEE division), and the link count. */
  def extract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noBlocks = stripBlocks(col(htmlCol))
    val clean = collapseWs(stripTags(noBlocks))
    // anchor inner text: join captured groups of every <a ...>inner</a>
    val anchorText = collapseWs(stripTags(
      array_join(regexp_extract_all(noBlocks,
        lit("(?s)<a [^>]*>(.*?)</a>"), lit(1)), " ")))
    df.select(
      col(idCol),
      regexp_extract(col(htmlCol), "(?s)<title>(.*?)</title>", 1).as("title"),
      clean.as("text_clean"),
      length(clean).cast("long").as("text_len"),
      (length(anchorText).cast("double") /
        greatest(length(clean), lit(1)).cast("double")).as("link_density"),
      size(regexp_extract_all(col(htmlCol), lit("(?s)<a [^>]*>"), lit(0)))
        .cast("long").as("n_links"))
  }

  /** Outgoing links per page, normalized: relative hrefs resolved against
    * the page's base URL (string-prefix resolution: the synthesized hrefs
    * are root-relative, which is the overwhelmingly common shape). One
    * explode, then per-row string ops. */
  def links(df: DataFrame, idCol: String, htmlCol: String,
      baseHost: String): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol),
      lit("<a [^>]*href=\"([^\"]*)\""), lit(1))
    val exploded = df.select(col(idCol), explode(hrefs).as("href"))
    exploded.select(
      col(idCol), col("href"),
      normalizeHref(col("href"), baseHost).as("url_norm"))
      .withColumn("domain", registrableDomain(col("url_norm")))
  }

  /** One (page, normalized target, cleaned anchor text) row per `<a>`
    * tag: ONE pattern evaluated twice (group 1 = href, group 2 = inner),
    * position-aligned by construction, then one explode. */
  def anchorPairs(df: DataFrame, idCol: String, htmlCol: String,
      baseHost: String): DataFrame = {
    val pat = lit("(?s)<a [^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>")
    df.select(col(idCol),
      arrays_zip(
        regexp_extract_all(col(htmlCol), pat, lit(1)),
        regexp_extract_all(col(htmlCol), pat, lit(2))).as("__p"))
      .select(col(idCol), explode(col("__p")).as("a"))
      .select(col(idCol),
        normalizeHref(col("a.0"), baseHost).as("url_norm"),
        collapseWs(stripTags(col("a.1"))).as("anchor_text"))
  }
}
