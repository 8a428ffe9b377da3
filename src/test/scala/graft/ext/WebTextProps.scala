package graft.ext

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Invariants of the web-extraction stage under arbitrary generated
  * body text (markup-free — raw '<'/'&' in prose must be escaped in
  * valid HTML, and the tag-stripper's behavior on unescaped markup is
  * pinned separately in WebTextSpec). */
object WebTextProps extends Properties("WebText") {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  // printable markup-free body text, whitespace-noisy on purpose
  private val chunk: Gen[String] = Gen.oneOf(
    "word", "Two Words", "punct, y;.", "123", "ümlaut", "tab\tsep", "line\nbreak", " ")
  private val body: Gen[String] = for {
    n <- Gen.choose(0, 12)
    cs <- Gen.listOfN(n, chunk)
  } yield cs.mkString(" ")

  private def pages(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        WebText.synthesizeHtml(col("doc_id"), col("text")).as("html"), col("text"))
  }

  property("round-trip: clean text contains the whitespace-collapsed body; chrome accounted") =
    forAll(Gen.listOfN(6, body)) { texts =>
      val rows = WebTextReference.extract(pages(texts), "doc_id", "html")
        .join(pages(texts).select(col("doc_id"), col("text")), "doc_id")
        .collect()
      rows.forall { r =>
        val clean = r.getAs[String]("text_clean")
        val collapsed = r.getAs[String]("text")
          .replaceAll("[\\s\\u000b]+", " ").trim
        val id = r.getAs[Long]("doc_id")
        // body text survives verbatim (collapsed); title and footer do too
        (collapsed.isEmpty || clean.contains(collapsed)) &&
          clean.contains(s"Doc $id") &&
          r.getAs[Long]("n_links") == 3L &&
          r.getAs[Double]("link_density") >= 0.0 &&
          r.getAs[Double]("link_density") <= 1.0 &&
          r.getAs[Long]("text_len") == clean.length.toLong
      }
    }

  property("every extracted link normalizes to an absolute lowercase-scheme URL") =
    forAll(Gen.listOfN(5, body)) { texts =>
      val links = WebTextReference.links(pages(texts), "doc_id", "html", "corp.example.com")
        .collect()
      links.nonEmpty && links.forall { r =>
        val u = r.getAs[String]("url_norm")
        u.matches("^https?://[a-z0-9.-]+(:[0-9]+)?(/.*|\\?.*)?$") &&
          !u.contains("#") &&
          r.getAs[String]("domain") == "example.com"
      }
    }
}
