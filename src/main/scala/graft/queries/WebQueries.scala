package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.functions.{TextFunctions => TF}
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Web-page extraction over the synthesized HTML corpus: boilerplate
  * removal, URL normalization, anchors and the curation funnel. */
object WebQueries extends QueryFamily("web") {

  // HTML boilerplate extraction (WebText.extract): each doc wrapped in
  // the deterministic page template (nav/script/style/aside/footer
  // chrome varying by id), then title / clean text / anchor-text link
  // density recovered by the regex extractor — the raw-web → text
  // stage in front of every dedup/quality operator here. Pure per-row
  // projections, no shuffle; the clean text travels as md5 so the
  // result stays narrow. The oracle rebuilds the same page with
  // string concatenation and replays the same RE2-safe regexes.
  query("q_html_extract")((s, dir) => {
    // the extraction product comes pre-STAGED (stagedWebExtract) —
    // this query is the report over it, not the extraction run
    stagedWebExtract(s, dir)
      .select(col("doc_id"), col("title"), md5(col("text_clean")).as("text_hash"),
        col("text_len"), col("link_density"), col("n_links"))
  }) {
    // the synthesized page rebuilt with string concatenation, then the
    // same RE2-safe extraction regexes replayed (DuckDB regexp_replace
    // needs the explicit 'g' flag where Spark's is global by default);
    // both engines' \s classes are extended with \x0b explicitly
    s"""WITH $htmlPagesSql,
      | nb AS (
      |  SELECT doc_id, html,
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
      |  FROM pages),
      | ex AS (
      |  SELECT doc_id, html,
      |    trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
      |      '[\\s\\x0b]+', ' ', 'g')) AS clean,
      |    trim(regexp_replace(regexp_replace(
      |      array_to_string(regexp_extract_all(noblocks,
      |        '(?s)<a [^>]*>(.*?)</a>', 1), ' '),
      |      '<[^>]*>', ' ', 'g'), '[\\s\\x0b]+', ' ', 'g')) AS atext
      |  FROM nb)
      |SELECT doc_id,
      |  regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
      |  md5(clean) AS text_hash,
      |  length(clean)::BIGINT AS text_len,
      |  cast(length(atext) AS double)
      |    / cast(greatest(length(clean), 1) AS double) AS link_density,
      |  len(regexp_extract_all(html, '(?s)<a [^>]*>', 0))::BIGINT AS n_links
      |FROM ex""".stripMargin
  }

  // encoding-damage triage (ftfy-style): replacement chars, C0 control
  // spill, double-encoding signatures (Ã©/â€™-family, Â+NBSP), bare
  // NBSPs — deterministic damage synthesized per doc-id family (the
  // synthesizeHtml discipline), counted by literal-codepoint regexes in
  // the Java/RE2 common dialect. One codegen'd scan, zero shuffles
  query("q_encoding_audit")((s, dir) => {
    val damaged = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.WebText.synthesizeEncodingDamage(col("doc_id"),
        coalesce(col("text"), lit(""))).as("dmg"))
    graft.ext.WebText.encodingAudit(damaged, "doc_id", "dmg")
  }) {
    // the same literal-codepoint damage synthesis and the same four
    // counting regexes (every char appears as the raw codepoint — no
    // escape forms, so the Java and RE2 readings cannot diverge)
    val tail0 = " ��broken�"
    val tail1 = " cafÃ© âquoteâ"
    val tail2 = " ctlspill"
    val tail3 = " a b c"
    val pRep = "�"
    val pCtrl = "[--]"
    val pMoji = "Ã[¨©ª«]|" +
      "â[]|Â "
    val pNbsp = " "
    "WITH d AS (\n" +
      "  SELECT doc_id, coalesce(text, '') || CASE doc_id % 10\n" +
      s"    WHEN 0 THEN '$tail0'\n" +
      s"    WHEN 1 THEN '$tail1'\n" +
      s"    WHEN 2 THEN '$tail2'\n" +
      s"    WHEN 3 THEN '$tail3'\n" +
      "    ELSE '' END AS dmg FROM documents)\n" +
      "SELECT doc_id,\n" +
      s"  len(regexp_extract_all(dmg, '$pRep'))::BIGINT AS n_replacement,\n" +
      s"  len(regexp_extract_all(dmg, '$pCtrl'))::BIGINT AS n_ctrl,\n" +
      s"  len(regexp_extract_all(dmg, '$pMoji'))::BIGINT AS n_mojibake,\n" +
      s"  len(regexp_extract_all(dmg, '$pNbsp'))::BIGINT AS n_nbsp,\n" +
      s"  (len(regexp_extract_all(dmg, '$pRep')) + " +
      s"len(regexp_extract_all(dmg, '$pCtrl')) + " +
      s"len(regexp_extract_all(dmg, '$pMoji')) + " +
      s"len(regexp_extract_all(dmg, '$pNbsp'))) = 0 AS clean\n" +
      "FROM d"
  }

  // outgoing-link normalization (WebText.links): hrefs exploded from
  // the same synthesized pages, relative links resolved against the
  // page host, scheme+host lowercased, default port and fragment
  // stripped, registrable domain approximated as the last two labels
  // — the canonical key web-scale URL dedup joins on. One explode +
  // per-row string ops; no shuffle.
  query("q_url_normalize")((s, dir) => {
    // canonicalization runs at ingest (stagedWebLinks); the query is
    // the staged link table itself
    stagedWebLinks(s, dir)
  }) {
    // same pages; hrefs exploded, the normalization chain replayed
    // step-for-step (RE2 backrefs are \\1-style where Spark's are $1)
    s"""WITH $htmlPagesSql,
      | hr AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]*)"', 1)) AS href
      |  FROM pages),
      | ab AS (
      |  SELECT doc_id, href,
      |    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
      |         ELSE 'https://corp.example.com' || href END AS aurl
      |  FROM hr),
      | nf AS (SELECT doc_id, href, regexp_replace(aurl, '#.*$$', '') AS u FROM ab),
      | sl AS (
      |  SELECT doc_id, href,
      |    lower(regexp_extract(u, '^([^:]+)://', 1)) || '://'
      |      || lower(regexp_extract(u, '^[^:]+://([^/?#]*)', 1))
      |      || regexp_extract(u, '^[^:]+://[^/?#]*(.*)$$', 1) AS u2
      |  FROM nf),
      | np AS (
      |  SELECT doc_id, href,
      |    regexp_replace(regexp_replace(u2,
      |      '^(https://[^/?#:]*):443((?:[/?].*)?)$$', '\\1\\2'),
      |      '^(http://[^/?#:]*):80((?:[/?].*)?)$$', '\\1\\2') AS url_norm
      |  FROM sl)
      |SELECT doc_id, href, url_norm,
      |  regexp_extract(regexp_extract(url_norm, '^[^:]+://([^/?#:]*)', 1),
      |    '([^.]+\\.[^.]+)$$', 1) AS domain
      |FROM np""".stripMargin
  }

  // inbound anchor-text index per normalized target (the web-graph
  // rollup search relevance and link-spam features key on): one
  // two-group pattern extracts position-aligned (href, inner) arrays,
  // anchor text tag-stripped + collapsed, targets normalized by the
  // q_url_normalize chain, then one map-combined rollup per target
  query("q_anchor_stats")((s, dir) => {
    // anchor extraction runs at ingest (stagedWebAnchors); the query
    // is the per-target rollup over the staged pair table
    graft.ext.WebText.anchorStatsFromPairs(stagedWebAnchors(s, dir), "doc_id")
  }) {
    // the two-group anchor pattern unnested in DuckDB's lockstep form,
    // the q_html_extract tag-strip/collapse on the inner text, the
    // q_url_normalize chain on the target, one GROUP BY per target
    s"""WITH $htmlPagesSql,
      | pr AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(html,
      |      '(?s)<a [^>]*href="([^"]*)"[^>]*>(.*?)</a>', 1)) AS href,
      |    unnest(regexp_extract_all(html,
      |      '(?s)<a [^>]*href="([^"]*)"[^>]*>(.*?)</a>', 2)) AS itxt
      |  FROM pages),
      | at AS (
      |  SELECT doc_id, href,
      |    trim(regexp_replace(regexp_replace(itxt, '<[^>]*>', ' ', 'g'),
      |      '[\\s\\x0b]+', ' ', 'g')) AS anchor_text
      |  FROM pr),
      | ab AS (
      |  SELECT doc_id, anchor_text,
      |    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
      |         ELSE 'https://corp.example.com' || href END AS aurl
      |  FROM at),
      | nf AS (SELECT doc_id, anchor_text, regexp_replace(aurl, '#.*$$', '') AS u FROM ab),
      | sl AS (
      |  SELECT doc_id, anchor_text,
      |    lower(regexp_extract(u, '^([^:]+)://', 1)) || '://'
      |      || lower(regexp_extract(u, '^[^:]+://([^/?#]*)', 1))
      |      || regexp_extract(u, '^[^:]+://[^/?#]*(.*)$$', 1) AS u2
      |  FROM nf),
      | np AS (
      |  SELECT doc_id, anchor_text,
      |    regexp_replace(regexp_replace(u2,
      |      '^(https://[^/?#:]*):443((?:[/?].*)?)$$', '\\1\\2'),
      |      '^(http://[^/?#:]*):80((?:[/?].*)?)$$', '\\1\\2') AS url_norm
      |  FROM sl)
      |SELECT url_norm, count(*)::BIGINT AS n_anchors,
      |  count(DISTINCT doc_id)::BIGINT AS n_pages,
      |  sum(length(anchor_text))::BIGINT AS anchor_chars
      |FROM np GROUP BY 1""".stripMargin
  }

  // registrable-domain rollup over the normalized link table — the
  // domain-level statistics a source-quota/blocklist stage keys on
  // (pair with q_source_quota for the cap itself). Exact integer
  // aggregates only (sums/counts — no float mean, whose summation
  // order no two engines share); one hash exchange on the domain key
  query("q_domain_profile")((s, dir) => {
    // both sides read staged extraction products: text mass from
    // stagedWebExtract, links from stagedWebLinks — the profile is a
    // join + rollup over ingest-time artifacts
    val pg = stagedWebExtract(s, dir).select(col("doc_id"), col("text_len"))
    val lk = stagedWebLinks(s, dir)
    lk.join(pg, "doc_id").groupBy(col("domain")).agg(
      countDistinct(col("doc_id")).as("n_pages"),
      count(lit(1)).as("n_links"),
      sum(col("text_len")).as("total_text_chars"))
  }) {
    // link rows re-derived (href → domain only), joined to the page text
    // lengths, aggregated with exact integers — same join/agg as Spark
    s"""WITH $htmlPagesSql,
      | hr AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]*)"', 1)) AS href
      |  FROM pages),
      | np AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(href, '(?i)^https?://')
      |         THEN lower(regexp_extract(href, '^[^:]+://([^/?#:]*)', 1))
      |         ELSE 'corp.example.com' END AS host
      |  FROM hr),
      | lk AS (
      |  SELECT doc_id, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
      |  FROM np),
      | nb AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
      |  FROM pages),
      | pg AS (
      |  SELECT doc_id,
      |    length(trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
      |      '[\\s\\x0b]+', ' ', 'g')))::BIGINT AS text_len
      |  FROM nb)
      |SELECT lk.domain, count(DISTINCT lk.doc_id)::BIGINT AS n_pages,
      |  count(*)::BIGINT AS n_links, sum(pg.text_len)::BIGINT AS total_text_chars
      |FROM lk JOIN pg USING (doc_id)
      |GROUP BY 1""".stripMargin
  }

  // the raw-web capstone funnel — the whole ingest chain composed:
  // synthesized HTML pages → boilerplate extraction → content gate
  // (low link density + minimum text) → exact dedup on the CLEAN text
  // → near-dedup survivors → the kept set's whitespace-token total
  // (what actually lands in the training mix). Every stage row is a
  // count off the previous stage's frame — the funnel report a corpus
  // release ships. Near-dedup is the EXACT word-3-gram PPJoin at 0.8
  // on the cleaned text — the oracle replays extraction + gates + the
  // posting-list exact pairs + the closure, and exactness must hold at
  // ANY scale: the earlier minhash banding (128 hashes / 16 bands)
  // hash-matched at the sf0.01 gate but dropped a borderline true pair
  // (0.8 <= j < 0.9) at sf0.1 — LSH recall near the threshold is
  // probabilistic by construction, which is fine for the LSH showcase
  // queries whose fixtures keep a margin, and wrong for a release
  // report whose oracle is exact. Word shingles, not char: the char-5
  // PPJoin was measured 5x slower here (per-doc sets ~6x larger, vocab
  // in the millions) for the same dedup semantics; the HASH-ORDER
  // prefix variant, not the df-ordered one: on this mid-size dedup
  // stage the df dictionary/rank/window passes dominate (measured
  // 6.1 vs 3.x s end-to-end), and losslessness is order-agnostic
  // (CurationProps pins pair-set equality of the two variants)
  query("q_web_corpus_funnel")((s, dir) => {
    // the extraction product comes pre-STAGED (stagedWebExtract) — the
    // per-call localCheckpoint this replaces materialized the same
    // frame once per RUN; the staged form pays it once per (input,
    // code) and every stage count plus the near-dup pipeline reads
    // parquet. Extraction preserves row count (one report row per
    // page), so the 0_pages stage counts the staged frame itself.
    val ex = stagedWebExtract(s, dir)
      .select(col("doc_id"), col("text_clean"), col("text_len"),
        col("link_density"))
    val gated = ex.where(col("link_density") <= 0.5 && col("text_len") >= 50)
    val exact = gated.groupBy(col("text_clean"))
      .agg(min(col("doc_id")).as("doc_id"))
    val pairs = Dedup.hashOrderJaccardPairs(
      exact.select(col("doc_id"), col("text_clean").as("text")),
      "doc_id", "text", ngram = 3, threshold = 0.8,
      // the input is the gate + exact-dedup SUB-PLAN, not a scan: one
      // prep materialization replaces three replays of it (measured
      // ~2.5 -> ~1.7 s steady-state at sf0.1)
      materializePrep = true)
      .select(col("id_a"), col("id_b"))
    val dropped = Dedup.resolveDuplicateClusters(pairs)
      .where(col("id") =!= col("keep_id")).select(col("id").as("doc_id"))
    val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
    ex.agg(count(lit(1)).as("n"))
      .select(lit("0_pages").as("stage"), col("n"))
      .unionByName(gated.agg(count(lit(1)).as("n"))
        .select(lit("1_content_gate").as("stage"), col("n")))
      .unionByName(exact.agg(count(lit(1)).as("n"))
        .select(lit("2_exact_dedup").as("stage"), col("n")))
      .unionByName(kept.agg(count(lit(1)).as("n"))
        .select(lit("3_near_dedup").as("stage"), col("n")))
      .unionByName(kept.agg(
          coalesce(sum(TF.tokenCount(col("text_clean")).cast("long")), lit(0L)).as("n"))
        .select(lit("4_kept_tokens").as("stage"), col("n")))
  }) {
    // the funnel replayed: same pages, same extraction regexes, same
    // gates, exact-pair near-dedup (recall 1.0 on this corpus's planted
    // pairs), the same closure-minimum drop rule
    s"""WITH RECURSIVE $htmlPagesSql,
      | nb AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS noblocks
      |  FROM pages),
      | ex AS MATERIALIZED (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(noblocks, '<[^>]*>', ' ', 'g'),
      |      '[\\s\\x0b]+', ' ', 'g')) AS clean,
      |    trim(regexp_replace(regexp_replace(
      |      array_to_string(regexp_extract_all(noblocks,
      |        '(?s)<a [^>]*>(.*?)</a>', 1), ' '),
      |      '<[^>]*>', ' ', 'g'), '[\\s\\x0b]+', ' ', 'g')) AS atext
      |  FROM nb),
      | gated AS MATERIALIZED (
      |  SELECT doc_id, clean FROM ex
      |  WHERE cast(length(atext) AS double)
      |      / cast(greatest(length(clean), 1) AS double) <= 0.5
      |    AND length(clean) >= 50),
      | exact AS MATERIALIZED (
      |  SELECT min(doc_id) AS doc_id, clean FROM gated GROUP BY clean),
      | toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(clean), '[\\s\\x0b]+'),
      |      x -> x <> '') AS t
      |  FROM exact),
      | shd AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) = 0 THEN []
      |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    END AS sh
      |  FROM toks),
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM shd WHERE len(sh) > 0),
      | prs AS MATERIALIZED (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4)
      |  WHERE cast(i AS double) / (na + nb - i) >= 0.8),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      | drop_ids AS MATERIALIZED (
      |  SELECT src AS doc_id FROM reach GROUP BY src
      |  HAVING src > least(src, min(dst))),
      | kept AS MATERIALIZED (
      |  SELECT e.doc_id, e.clean FROM exact e
      |  WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_ids))
      |SELECT '0_pages' AS stage, (SELECT count(*) FROM pages)::BIGINT AS n
      |UNION ALL SELECT '1_content_gate', (SELECT count(*) FROM gated)
      |UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM exact)
      |UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM kept)
      |UNION ALL SELECT '4_kept_tokens',
      |  (SELECT coalesce(sum(len(list_filter(
      |     string_split_regex(clean, '[\\s\\x0b]+'), x -> x <> ''))), 0)::BIGINT
      |   FROM kept)""".stripMargin
  }

  /** The deterministic page template of [[graft.ext.WebText.synthesizeHtml]]
    * rebuilt with SQL concatenation — shared by the q_html_extract /
    * q_url_normalize oracles (doc_id ≥ 0, so `%` equals Spark's pmod). */
  private val htmlPagesSql: String =
    // concatenation operators sit at line ENDS: this fragment is
    // interpolated into strings that call .stripMargin AFTERWARDS, and a
    // line-leading '||' would lose its first pipe to that strip
    """pages AS MATERIALIZED (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || cast(doc_id AS varchar) || '</title>' ||
      |    '<script>var id=' || cast(doc_id AS varchar) || ';track(id);</script>' ||
      |    '<style>.m{margin:0} nav a{color:#00f}</style></head><body>' ||
      |    '<nav><a href="/home">Home</a> <a href="/s?ref=' ||
      |    cast(doc_id % 7 AS varchar) || '">Section</a></nav>' ||
      |    '<div id="main"><p>' || coalesce(text, '') || '</p></div>' ||
      |    '<aside><a href="HTTPS://Links.Example.COM:443/p/' ||
      |    cast(doc_id % 13 AS varchar) || '#frag">more ' ||
      |    cast(doc_id % 13 AS varchar) ||
      |    '</a></aside><footer>(c) corp ' || cast(doc_id % 100 AS varchar) ||
      |    '</footer></body></html>' AS html
      |  FROM documents)""".stripMargin
}
