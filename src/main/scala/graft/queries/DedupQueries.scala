package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Sampling}
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Exact and near-duplicate detection (minhash, simhash, prefix join,
  * substring grams, embeddings, image fingerprints), entity resolution and
  * content-defined-chunk dedup. */
object DedupQueries extends QueryFamily("dedup") {

  // exact dedup groups (hash-groupBy, deterministic min-id keeper)
  query("q_dedup_exact")((s, dir) => {
    Dedup.exactDuplicateGroups(t(s, dir, "documents"), "doc_id", Seq("text"))
  }) {
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY md5(text)""".stripMargin
  }

  // CCNet-style duplicate-line profile: share of each doc's derived
  // 10-token lines that occur in >= 2 documents (boilerplate signal);
  // line hashes (16-byte md5) shuffle, line text never does
  query("q_line_dedup")((s, dir) => {
    Dedup.duplicateLineProfile(t(s, dir, "documents"), "doc_id", "text",
      lineTokens = 10)
  }) {
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS toks
      |  FROM documents),
      | lines AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(list_slice(toks, start + 1, start + 10), ' ') AS line
      |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 10)) AS start
      |        FROM t WHERE len(toks) > 0)),
      | ldf AS (SELECT line, count(*) AS line_df FROM lines GROUP BY line)
      |SELECT doc_id, count(*) AS n_lines,
      |  cast(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup_lines,
      |  cast(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS double)
      |    / cast(count(*) AS double) AS dup_line_ratio
      |FROM lines JOIN ldf USING (line) GROUP BY doc_id""".stripMargin
  }

  // per-source boilerplate lines (the CCNet refinement of q_line_dedup):
  // pages synthesized with a per-source header/footer and a per-doc ref
  // line (the synthesizeHtml discipline — no fixture text has newlines),
  // then lines appearing in >= 50% of a source's docs are flagged. The
  // header+footer must flag, the ref/body lines must not; line text is
  // 16-byte-hashed before any exchange
  query("q_boilerplate_lines")((s, dir) => {
    val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat_ws("\n",
        concat(lit("home news about "), col("source")),
        coalesce(col("text"), lit("")),
        concat(lit("contact "), col("source"), lit(" terms privacy")),
        concat(lit("ref "), col("doc_id"))).as("page"))
    Dedup.sourceBoilerplate(pages, "doc_id", "page", "source", minShare = 0.5)
  }) {
    // same page synthesis, same doc-level line presence and >= 0.5 share
    """WITH d AS (
      |  SELECT doc_id, source,
      |    concat_ws(chr(10),
      |      'home news about ' || source,
      |      coalesce(text, ''),
      |      'contact ' || source || ' terms privacy',
      |      'ref ' || doc_id) AS page
      |  FROM documents),
      | lines AS (
      |  SELECT DISTINCT source, doc_id, line
      |  FROM (SELECT source, doc_id,
      |          unnest(string_split(page, chr(10))) AS line FROM d)
      |  WHERE trim(line) <> ''),
      | nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      | lc AS (SELECT source, line, count(*)::BIGINT AS line_docs
      |        FROM lines GROUP BY 1, 2)
      |SELECT lc.source, max(nd.n_docs)::BIGINT AS n_docs,
      |  count(*)::BIGINT AS n_distinct_lines,
      |  sum(CASE WHEN line_docs >= 2
      |       AND cast(line_docs AS double) / cast(n_docs AS double) >= 0.5
      |      THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate_lines
      |FROM lc JOIN nd USING (source) GROUP BY 1""".stripMargin
  }

  // leakage-safe train/val/test split: the split UNIT is the near-dup
  // CLUSTER — every doc inherits its cluster representative's md5-gated
  // assignment (singletons represent themselves), so near-duplicate
  // pairs can never straddle train and test (the classic eval-leakage
  // bug a plain per-doc split commits). Value-checked per doc: the
  // oracle rebuilds clusters from EXACT jaccard pairs via recursive CTE
  // and replays the same gate on the representative.
  query("q_leakage_safe_split")((s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = stagedMinhashPairs(s, dir)
    val clusters = Dedup.resolveDuplicateClusters(pairs)
    val rep = docs.select(col("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("rep_id"))
    Sampling.splitAssign(rep, "rep_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp")
      .select(col("doc_id"), col("rep_id"), col("split"))
  }) {
    s"""WITH RECURSIVE $charPairsSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      | keeper AS (
      |  SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src),
      | rep AS (
      |  SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS rep_id
      |  FROM documents d LEFT JOIN keeper k ON d.doc_id = k.id)
      |SELECT doc_id, rep_id,
      |  CASE WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
      |       WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM rep""".stripMargin
  }

  // the AUDIT for the split above — the check a release gate actually
  // runs: for every near-dup pair, do the two docs land in the same
  // split? Cluster-keyed assignment must leak ZERO pairs by
  // construction; the naive per-doc hash split (the control arm, same
  // gate keyed on the doc's own id) leaks ~1−Σp² of them. Pairs are
  // localCheckpointed once (they feed both arms — small id-pair rows,
  // but their lineage is the whole minhash pipeline)
  query("q_split_leakage_audit")((s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = stagedMinhashPairs(s, dir).select(col("id_a"), col("id_b"))
    val clusters = Dedup.resolveDuplicateClusters(pairs)
    val rep = docs.select(col("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("rep_id"))
    val ratios = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val safe = Sampling.splitAssign(rep, "rep_id", ratios, seed = "sp")
      .select(col("doc_id"), col("split"))
    val naive = Sampling.splitAssign(
        docs.select(col("doc_id"), col("doc_id").as("rep_id")),
        "rep_id", ratios, seed = "sp")
      .select(col("doc_id"), col("split"))
    def audit(assign: DataFrame, method: String): DataFrame = pairs
      .join(assign.select(col("doc_id").as("id_a"), col("split").as("s1")), "id_a")
      .join(assign.select(col("doc_id").as("id_b"), col("split").as("s2")), "id_b")
      .agg(count(lit(1)).as("n_dup_pairs"),
        sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)).as("n_cross_split"))
      .select(lit(method).as("method"), col("n_dup_pairs"), col("n_cross_split"),
        (col("n_cross_split").cast("double") /
          col("n_dup_pairs").cast("double")).as("leakage_rate"))
    audit(safe, "cluster_safe").unionByName(audit(naive, "naive_hash"))
  }) {
    // the audit replayed: exact pairs, the same closure + both split
    // gates, leakage as one int/int division per method row
    s"""WITH RECURSIVE $charPairsSql,
      | above AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      | keeper AS (
      |  SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src),
      | rep AS (
      |  SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS rep_id
      |  FROM documents d LEFT JOIN keeper k ON d.doc_id = k.id),
      | safe AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
      |         WHEN substring(md5('sp' || coalesce(cast(rep_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM rep),
      | naive AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
      |         WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      | m AS (
      |  SELECT 'cluster_safe' AS method, sa.split AS s1, sb.split AS s2
      |  FROM above a JOIN safe sa ON sa.doc_id = a.id_a
      |              JOIN safe sb ON sb.doc_id = a.id_b
      |  UNION ALL
      |  SELECT 'naive_hash', na.split, nb.split
      |  FROM above a JOIN naive na ON na.doc_id = a.id_a
      |              JOIN naive nb ON nb.doc_id = a.id_b)
      |SELECT method, count(*)::BIGINT AS n_dup_pairs,
      |  sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END)::BIGINT AS n_cross_split,
      |  cast(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS double)
      |    / cast(count(*) AS double) AS leakage_rate
      |FROM m GROUP BY 1""".stripMargin
  }

  // incremental dedup: today's batch (docs 400+) against the already-
  // ingested reference (docs <400) — batch survivors only. Value-checked:
  // the oracle recomputes exact all-cross-pairs char-5-gram Jaccard in
  // DuckDB, so the LSH candidates + verify must find exactly the
  // above-threshold pairs (recall 1.0 on this data — see GroundTruthSpec)
  query("q_cross_dedup")((s, dir) => {
    val d = t(s, dir, "documents")
    val ref = d.where(col("doc_id") < 400)
    val batch = d.where(col("doc_id") >= 400)
    Dedup.dropCrossCorpusDuplicates(batch, ref, "doc_id", "text",
      numHashes = 128, bands = 16, threshold = 0.5)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
  }) {
    s"""WITH ${charShingleSql("documents")},
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM sh WHERE len(sh) > 0),
      | dup AS (
      |  SELECT DISTINCT new_id AS doc_id FROM (
      |    SELECT b.doc_id AS new_id, b.n AS nb, r.n AS nr, count(*)::BIGINT AS i
      |    FROM shm b JOIN shm r ON b.g = r.g AND b.doc_id >= 400 AND r.doc_id < 400
      |    GROUP BY b.doc_id, r.doc_id, 2, 3)
      |  WHERE cast(i AS double) / (nb + nr - i) >= 0.5)
      |SELECT doc_id, md5(text) AS text_hash FROM documents
      |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin
  }

  // the Bloom-prefiltered cross-corpus variant: same near-dup pairs as
  // the direct band join (the sketch only removes definite negatives;
  // positives are re-verified by the exact band match + jaccard), with
  // the batch's no-hit band rows pruned before any shuffle. The oracle
  // is exact all-CROSS-pairs jaccard — a hash match proves the sketch
  // path loses nothing.
  query("q_cross_dedup_bloom")((s, dir) => {
    val d = t(s, dir, "documents")
    val ref = d.where(col("doc_id") < 400)
    val batch = d.where(col("doc_id") >= 400)
    Dedup.crossCorpusNearDuplicatesBloom(batch, ref, "doc_id", "text",
      shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5)
  }) {
    crossPairsOracleSql
  }

  // the same cross-corpus contract against a pre-staged BUCKETED
  // reference banding — the candidate join reads the reference buckets
  // in place (zero reference-side exchange, the decisive 100 TB
  // property; only the small batch is shuffled into the bucket layout).
  // Staging is the reference's one-time ingest cost, run once per
  // process+input here. Oracle = the same exact all-cross-pairs jaccard
  // as q_cross_dedup_bloom: a hash match proves the bucketed path loses
  // nothing either.
  query("q_cross_dedup_bucketed")((s, dir) => {
    val table = bucketedRefTable(s, dir)
    val d = t(s, dir, "documents")
    val ref = d.where(col("doc_id") < 400)
    val batch = d.where(col("doc_id") >= 400)
    Dedup.crossCorpusNearDuplicatesBucketed(batch, ref, "doc_id", "text",
      table, shingleSize = 5, numHashes = 128, bands = 16, threshold = 0.5)
  }) {
    // identical contract to the bloom variant, staged-bucketed path
    crossPairsOracleSql
  }

  // MinHash+LSH near-duplicate pairs. The seeded xxhash64 family has no
  // DuckDB twin, but the OUTPUT is exact-verified (id_a, id_b, jaccard),
  // so the oracle recomputes exact all-pairs char-5-gram Jaccard — raw
  // jaccard, not rounded: int/int IEEE division is bit-identical across
  // engines. Hash-match requires (and proves) LSH recall 1.0 here.
  query("q_minhash_near_dup")((s, dir) => {
    stagedMinhashPairs(s, dir)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }) {
    s"""WITH $charPairsSql
      |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin
  }

  // cross-source duplication flow matrix: near-dup pairs labeled by
  // their (unordered) source pair — the mirror-site / syndication /
  // scraped-content detector a crawl-source triage keys on. Rides the
  // staged minhash pair set (sixth consumer); the corpus contributes
  // only two keys--only source lookups + one map-combined rollup
  query("q_dup_flow")((s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    stagedMinhashPairs(s, dir).select(col("id_a"), col("id_b"))
      .join(docs.select(col("doc_id").as("id_a"), col("source").as("src_x")),
        Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("src_y")),
        Seq("id_b"))
      .select(least(col("src_x"), col("src_y")).as("source_a"),
        greatest(col("src_x"), col("src_y")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }) {
    // the exact pair set labeled by unordered source pair
    s"""WITH $charPairsSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5)
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b,
      |  count(*)::BIGINT AS n_pairs
      |FROM above a JOIN documents da ON da.doc_id = a.id_a
      |  JOIN documents db ON db.doc_id = a.id_b
      |GROUP BY 1, 2""".stripMargin
  }

  // SimHash near-duplicate pairs, portable md5 hash family — the oracle
  // rebuilds every 64-bit fingerprint in DuckDB (same token hash, same
  // vote arithmetic) and takes exact all-pairs Hamming ≤ 3. Recall 1.0 is
  // UNCONDITIONAL: 4-band pigeonhole on a 64-bit fp cannot miss a pair
  // within Hamming 3, so LSH output == exact output over the same
  // fingerprints on any corpus. CROSS-ENGINE fingerprint equality
  // additionally needs tokenization parity: whitespace is exact (the
  // oracle's [\s\x0b] class == Java \s), case mapping is exact up to the
  // JVM-full vs DuckDB-simple lowercase divergence (e.g. U+0130 'İ' →
  // "i̇" vs "i") — absent from this corpus and from most web text.
  query("q_simhash_near_dup")((s, dir) => {
    Dedup.simhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }) {
    // rebuilds the md5-family SimHash fingerprint per document — same token
    // hash (first 8 md5 bytes big-endian), same ±1 vote arithmetic, same
    // strict >0 bit rule — then takes exact all-pairs Hamming ≤ 3. The
    // 4-band pigeonhole cannot miss a pair within Hamming 3 (not a
    // data-dependent recall argument); tokenization parity caveats are on
    // the query above. [\s\x0b] == Java's \s exactly (RE2's \s lacks
    // vertical tab). Plain triple-quote: \s reaches DuckDB unescaped.
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '[\s\x0b]+')) AS tok
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE tok <> ''),
      | th AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
      | votes AS (
      |  SELECT doc_id, b.bit AS bit,
      |    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(0, 64)) AS bit) b
      |  GROUP BY doc_id, b.bit),
      | fp AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN 1::HUGEINT << bit ELSE 0::HUGEINT END)::UBIGINT AS fp
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
  }

  // word-3-gram Jaccard near-dup pairs — value-checked against exact
  // all-pairs word-shingle Jaccard (same rationale as q_minhash_near_dup)
  query("q_ngram_jaccard")((s, dir) => {
    Dedup.ngramJaccardNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      ngram = 3, numHashes = 64, bands = 8, threshold = 0.3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }) {
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
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM d WHERE len(sh) > 0),
      | pairs AS (
      |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4))
      |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3""".stripMargin
  }

  // exact word-3-gram Jaccard over a bounded doc set — the value-checked
  // twin of the LSH pipelines (their verify step uses this same jaccard)
  query("q_jaccard_pairs")((s, dir) => {
    import graft.plans.NativeExpressions
    import graft.functions.{HashFunctions => H}
    val d = t(s, dir, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"), NativeExpressions.wordShingles(col("text"), 3).as("sh"))
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), H.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }) {
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id < 200),
      | d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) = 0 THEN []
      |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    END AS sh
      |  FROM toks),
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM d WHERE len(sh) > 0),
      | scored AS (
      |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4)),
      | empt AS (SELECT doc_id FROM d WHERE len(sh) = 0)
      |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
      |UNION ALL
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
      |FROM empt a JOIN empt b ON a.doc_id < b.doc_id""".stripMargin
  }

  // EXACT Jaccard-threshold join over the FULL corpus via prefix
  // filtering (SSJoin/PPJoin) — the deterministic-recall alternative to
  // the LSH families: rarest-first global token order, per-doc prefix of
  // sz - ceil(t*sz) + 1 tokens, equi-join on prefix tokens (lossless by
  // the overlap pigeonhole), exact-Jaccard verify. Same output contract
  // as q_jaccard_pairs but corpus-wide — the oracle is all-pairs SQL,
  // which is exactly the plan this operator exists to avoid. The
  // rank artifact (dictionary + GlobalRank + per-doc ordering) comes
  // pre-STAGED (stagedPrefixDocs) — only the threshold-dependent pair
  // machinery runs per call.
  query("q_prefix_join")((s, dir) => {
    Dedup.prefixPairsFromRanked(stagedPrefixDocs(s, dir), threshold = 0.4)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }) {
    // the prefix-filter join is EXACT, so its oracle is the plan it
    // replaces: all-pairs Jaccard over the full corpus (fine at verify
    // scale; the whole point is that Spark never runs this shape)
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
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM d WHERE len(sh) > 0),
      | scored AS (
      |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4))
      |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.4""".stripMargin
  }

  // exact duplicated-substring coverage (sliding 40-char grams, the
  // ExactSubstr signal): fraction of each doc's positions whose 40-gram
  // also appears verbatim in ANOTHER doc — one md5-keyed shuffle; the
  // 40-char texts never move, only their 16-byte hashes
  query("q_substring_dup")((s, dir) => {
    Dedup.duplicatedSpanProfileFromGrams(stagedGramIndex(s, dir), "doc_id")
      .select(col("doc_id"), col("n_positions"), col("n_dup_positions"),
        col("dup_span_ratio"))
  }) {
    // DuckDB groups the gram STRING where Spark groups its md5 — identical
    // partitions (md5 is injective absent collisions, the same assumption
    // contentHash rides); min<>max replays the cross-doc test exactly
    """WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 40 + 2, 1))) AS i
      |  FROM documents WHERE length(text) >= 40),
      | grams AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS g FROM pos),
      | dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id))
      |SELECT gr.doc_id,
      |  count(*)::BIGINT AS n_positions,
      |  count(d.g)::BIGINT AS n_dup_positions,
      |  cast(count(d.g) AS double) / cast(count(*) AS double) AS dup_span_ratio
      |FROM grams gr LEFT JOIN dup d USING (g)
      |GROUP BY gr.doc_id""".stripMargin
  }

  // the duplicated REGIONS behind q_substring_dup's counts: maximal
  // merged [start, end] spans of cross-doc verbatim text per doc —
  // gaps-and-islands over the hit positions, two stacked windows on one
  // doc exchange (the exact spans an ExactSubstr cutter would remove)
  query("q_dup_spans")((s, dir) => {
    Dedup.duplicatedSpansFromGrams(stagedGramIndex(s, dir), "doc_id", k = 40)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
  }) {
    // the same islands, replayed: running max of span ends over the
    // PRECEDING rows decides island breaks; sum of breaks numbers them
    """WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 40 + 2, 1))) AS i
      |  FROM documents WHERE length(text) >= 40),
      | grams AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g FROM pos),
      | dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
      | hits AS (SELECT doc_id, i AS p FROM grams JOIN dup USING (g)),
      | marked AS (
      |  SELECT doc_id, p,
      |    CASE WHEN max(p + 39) OVER (PARTITION BY doc_id ORDER BY p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR p > max(p + 39) OVER (PARTITION BY doc_id ORDER BY p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM hits),
      | isl AS (
      |  SELECT doc_id, p,
      |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY p) AS island
      |  FROM marked)
      |SELECT doc_id, min(p) AS span_start, max(p + 39) AS span_end,
      |  max(p + 39) - min(p) + 1 AS span_len
      |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  // DIRECTIONAL containment dedup (Broder's coverage): |A∩B| / |A| over
  // word-3-gram sets — catches "A is quoted inside B", which symmetric
  // Jaccard misses when |B| >> |A|. Computed as a posting-list join
  // (explode grams, equi-join on gram, count per ordered pair), NOT a
  // cross join: the plan that survives scale, where candidate volume is
  // Σ_gram df² — at 100 TB cap it by dropping stop-grams above a df
  // ceiling (the standard trick; exact here, the testdata is bounded).
  // shared/na is one int/int IEEE division — bit-identical anywhere.
  query("q_containment")((s, dir) => {
    Dedup.containmentPairs(t(s, dir, "documents").where(col("doc_id") < 200),
      "doc_id", "text", ngram = 3, threshold = 0.6)
  }) {
    // same distinct word-3-gram sets, rebuilt as a posting-list join with
    // per-pair shared counts; shared/na is one int/int IEEE division
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id < 200),
      | d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) = 0 THEN []
      |         WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    END AS sh
      |  FROM toks),
      | d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
      | g AS (SELECT doc_id, unnest(sh) AS g FROM d2),
      | shared AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*)::BIGINT AS shared
      |  FROM g x JOIN g y ON x.g = y.g AND x.doc_id <> y.doc_id GROUP BY 1, 2),
      | sz AS (SELECT doc_id AS id_a, cast(len(sh) AS bigint) AS na FROM d2)
      |SELECT id_a, id_b, shared,
      |  cast(shared AS double) / cast(na AS double) AS containment
      |FROM shared JOIN sz USING (id_a)
      |WHERE cast(shared AS double) / cast(na AS double) >= 0.6""".stripMargin
  }

  // embedding-cosine near-duplicates via hyperplane LSH — value-checked
  // NON-trivially: the corpus is unioned with ×2-scaled copies of itself
  // (id+10000). Doubling is exact in binary fp and commutes with every
  // rounded +/×/sqrt, so each copy has bit-identical hyperplane signs
  // (LSH recall on the planted pairs is PROVABLY 1.0, not just seeded
  // luck) and cosine(v, 2v) rounds to 1.0 in both engines, while all
  // natural pairs stay ≤ ~0.51 — the oracle's exact all-pairs set is
  // exactly the 500 planted pairs.
  query("q_embed_near_dup")((s, dir) => {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val scaled = base.select((col("vec_id") + lit(10000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Dedup.embeddingNearDuplicates(base.unionByName(scaled), "vec_id", "embedding",
      dim = 64, threshold = 0.99, bands = 4, planesPerBand = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
  }) {
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id,
      |         list_transform(embedding, x -> cast(x AS double) * 2) AS vec
      |  FROM embeddings),
      | pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)) = 0 THEN NULL
      |         ELSE list_dot_product(a.vec, b.vec)
      |              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
      |    END AS cosine
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cosine, 4) AS cosine_r FROM pairs WHERE cosine >= 0.99""".stripMargin
  }

  // SemDeDup-style semantic dedup: cosine-argmax centroid buckets, exact
  // pairwise cosine within buckets only. Same planted ×2-scaled corpus
  // as q_embed_near_dup — cosine assignment is magnitude-invariant and
  // cosine(v, 2v) is exactly 1.0 in both engines, so every planted pair
  // provably shares a bucket and survives (recall 1.0 by construction,
  // not seed luck); the oracle replays the whole chain (md5 centroid
  // gate, argmax assignment, in-bucket pairs) in SQL, value-checking the
  // approximation itself
  query("q_semantic_dedup")((s, dir) => {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val scaled = base.select((col("vec_id") + lit(10000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Dedup.semanticNearDuplicates(base.unionByName(scaled), "vec_id", "embedding",
      nlist = 16, threshold = 0.99)
      .select(col("id_a"), col("id_b"), col("centroid_id").cast("long").as("centroid_id"),
        round(col("cosine"), 4).as("cosine_r"))
  }) {
    // the whole SemDeDup chain replayed in SQL: planted corpus, md5-prefix
    // centroid gate (count BEFORE the null filter, like sampleCentroids),
    // cosine-ARGMAX assignment (ORDER BY cosine DESC, centroid_id = the
    // Spark side's array_min over (-cosine, cid) structs), in-bucket pairs
    """WITH planted AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id,
      |         list_transform(embedding, x -> cast(x AS double) * 2) AS vec
      |  FROM embeddings),
      | params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM planted),
      | cand AS (
      |  SELECT cast(vec_id AS varchar) AS sid, vec AS cvec
      |  FROM planted, params
      |  WHERE vec IS NOT NULL
      |    AND ('0x' || substr(md5('ivf:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
      | cent AS (
      |  SELECT row_number() OVER (ORDER BY sid) - 1 AS centroid_id, cvec
      |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
      | assigned AS (
      |  SELECT vec_id, vec, centroid_id FROM (
      |    SELECT p.vec_id, p.vec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
      |        (CASE WHEN sqrt(list_dot_product(p.vec, p.vec)) * sqrt(list_dot_product(ct.cvec, ct.cvec)) = 0 THEN 0.0
      |              ELSE list_dot_product(p.vec, ct.cvec)
      |                   / (sqrt(list_dot_product(p.vec, p.vec)) * sqrt(list_dot_product(ct.cvec, ct.cvec)))
      |         END) DESC, ct.centroid_id) AS rn
      |    FROM planted p CROSS JOIN cent ct WHERE p.vec IS NOT NULL)
      |  WHERE rn = 1),
      | pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.centroid_id AS centroid_id,
      |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)) = 0 THEN NULL
      |         ELSE list_dot_product(a.vec, b.vec)
      |              / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
      |    END AS cosine
      |  FROM assigned a JOIN assigned b
      |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, centroid_id, round(cosine, 4) AS cosine_r
      |FROM pairs WHERE cosine >= 0.99""".stripMargin
  }

  // image near-duplicates: 64-bit dHash (row-gradient perceptual hash)
  // over REAL decoded BMP pixel grids, paired through the SimHash
  // Hamming-band LSH (recall 1.0 at Hamming <= 3 by the 4-band
  // pigeonhole — same argument as q_simhash_near_dup). The fixture
  // plants near-dups: images sharing doc_id%50 differ in at most one
  // perturbed pixel (<= 4 dHash bits). The oracle rebuilds the BMP hex,
  // reads every gray byte back at the decoder's offsets, recomputes all
  // 64 comparison bits and takes exact all-pairs Hamming <= 3 — so the
  // synthesis, the pixel decode, the hash and the LSH recall are all
  // value-checked end to end.
  query("q_image_near_dup")((s, dir) => {
    Multimodal.nearDuplicatesFromFingerprints(
      stagedImageFingerprints(s, dir), maxHamming = 3)
  }) {
    imageNearDupOracleSql
  }

  // image near-dup CLUSTERS: the dHash-Hamming pair graph resolved to
  // min-id components by the SAME two-tier cluster machinery text dedup
  // uses (bounded driver union-find -> star-contraction fallback) —
  // image dedup gets the identical keeper semantics, and the oracle the
  // identical recursive-closure convention
  query("q_image_dup_clusters")((s, dir) => {
    Dedup.resolveDuplicateClusters(
      Multimodal.nearDuplicatesFromFingerprints(
        stagedImageFingerprints(s, dir), maxHamming = 3))
  }) {
    imageDupClustersOracleSql
  }

  // full near-dup pipeline: MinHash pairs -> connected-component clusters
  // -> keeper per cluster. Value-checked: the oracle rebuilds the exact
  // pair set in DuckDB and resolves components with a recursive-CTE
  // transitive closure (keeper = component minimum, same contract)
  query("q_near_dup_clusters")((s, dir) => {
    Dedup.resolveDuplicateClusters(stagedMinhashPairs(s, dir))
  }) {
    s"""WITH RECURSIVE $charPairsSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      |SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src""".stripMargin
  }

  // policy-driven dedup keeper: same near-dup clusters, but keep the
  // LONGEST member (max n_chars, min doc_id tiebreak) instead of the
  // min id — the curation rule real pipelines want ("keep the best
  // copy"). Oracle replays the recursive closure + a rank-1 argmax
  query("q_dedup_keep_best")((s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.keepBestPerCluster(
      Dedup.resolveDuplicateClusters(stagedMinhashPairs(s, dir)),
      docs.select(col("doc_id").as("id"), col("n_chars").as("priority")))
  }) {
    s"""WITH RECURSIVE $charPairsSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      | clusters AS MATERIALIZED (
      |  SELECT src AS id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      | ranked AS (
      |  SELECT c.cluster_id, d.doc_id AS best_id,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      |  FROM clusters c JOIN documents d ON c.id = d.doc_id)
      |SELECT c.id, c.cluster_id, b.best_id
      |FROM clusters c
      |JOIN (SELECT cluster_id, best_id FROM ranked WHERE rn = 1) b USING (cluster_id)""".stripMargin
  }

  // field-level survivorship (MDM golden record) — the step AFTER the
  // row-level keeper q_dedup_keep_best: each cluster merges into one
  // record whose fields follow per-field rules (name from the LATEST
  // non-null version, segment from the EARLIEST, balance as the max).
  // The fixture fans each customer into 1-3 source-system versions
  // with deterministically planted nulls and version-suffixed values,
  // so the rules pick DIFFERENT members per field. One cluster-keyed
  // map-combinable aggregation (struct-argmax per rule; no windows)
  query("q_golden_record")((s, dir) => {
    val k = col("c_custkey")
    val v = col("v")
    val recs = t(s, dir, "customer")
      .select(k, col("c_name"), col("c_mktsegment"), col("c_acctbal"),
        explode(sequence(lit(0L), k.cast("long") % 3)).as("v"))
      .select(k, v,
        when((k + v * 7) % 3 =!= 0,
          concat(col("c_name"), lit("-v"), v)).as("name"),
        when((k + v * 5) % 4 =!= 0,
          concat(col("c_mktsegment"), lit("/"), v)).as("segment"),
        (col("c_acctbal") + v).as("acctbal"))
    Dedup.goldenRecords(recs, "c_custkey", "v",
      Seq("name" -> "latest", "segment" -> "earliest", "acctbal" -> "max"))
  }) {
    // same planted versions, survivorship replayed as arg_max/arg_min
    // FILTER non-null (the unique per-cluster version number makes the
    // Spark struct-argmax and DuckDB arg_max the same function)
    """WITH recs AS (
      |  SELECT c_custkey, v,
      |    CASE WHEN (c_custkey + v * 7) % 3 <> 0
      |      THEN c_name || '-v' || cast(v AS varchar) END AS name,
      |    CASE WHEN (c_custkey + v * 5) % 4 <> 0
      |      THEN c_mktsegment || '/' || cast(v AS varchar) END AS segment,
      |    c_acctbal + v AS acctbal
      |  FROM (SELECT *, unnest(generate_series(0, c_custkey % 3)) AS v
      |        FROM customer))
      |SELECT c_custkey, count(*)::BIGINT AS n_records,
      |  arg_max(name, v) FILTER (WHERE name IS NOT NULL) AS name,
      |  arg_min(segment, v) FILTER (WHERE segment IS NOT NULL) AS segment,
      |  max(acctbal) AS acctbal
      |FROM recs GROUP BY 1""".stripMargin
  }

  // sorted-neighborhood linkage (Hernandez-Stolfo): the OTHER classic
  // candidate-generation strategy next to q_fuzzy_match's blocking —
  // sort the (distinct-value) dictionary by a cluster-friendly key and
  // compare each entry only with its next 3 neighbors in sort order.
  // The key is the token-REVERSED name (noun first): likely duplicates
  // differ in the leading adjective, so raw string order scatters them
  // while the reversed key makes them adjacent — key design is the
  // method's whole game. The neighbor generation is DISTRIBUTED
  // (Dedup.sortedNeighborhoodPairs): range partition + exact global
  // rank + dense-rank band join — no single-partition window anywhere
  // (PlanSpec asserts it), same pair set as the global sort
  query("q_sorted_neighborhood")((s, dir) => {
    val names = t(s, dir, "part")
      .select(col("p_name")).distinct()
      .withColumn("skey",
        concat_ws(" ", reverse(split(col("p_name"), " "))))
    graft.ext.Dedup.sortedNeighborhoodPairs(names, "skey", "p_name", window = 3)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= 2)
  }) {
    // same token-reversed sort key, same 3-neighbor window
    """WITH n0 AS (SELECT DISTINCT p_name FROM part),
      | names AS (
      |  SELECT p_name,
      |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ') AS skey
      |  FROM n0),
      | nb AS (
      |  SELECT p_name AS name_a,
      |    lead(p_name, 1) OVER w AS nb1,
      |    lead(p_name, 2) OVER w AS nb2,
      |    lead(p_name, 3) OVER w AS nb3
      |  FROM names WINDOW w AS (ORDER BY skey, p_name)),
      | p AS (
      |  SELECT name_a,
      |    unnest(list_filter([nb1, nb2, nb3], x -> x IS NOT NULL)) AS name_b
      |  FROM nb)
      |SELECT name_a, name_b,
      |  cast(levenshtein(name_a, name_b) AS int) AS dist
      |FROM p WHERE levenshtein(name_a, name_b) <= 2""".stripMargin
  }

  // Jaro-Winkler linkage scoring over the blocked dictionary pairs —
  // the similarity-weighted refinement of q_fuzzy_match's boolean gate,
  // via the native [[graft.plans.JaroWinkler]] expression (Spark has no
  // built-in; one tight loop per pair). Scores are RAW doubles: every
  // division is replayed in the same order by DuckDB's
  // jaro_winkler_similarity, so the hash match value-checks the custom
  // expression itself
  query("q_jaro_rank")((s, dir) => {
    val names = t(s, dir, "part")
      .select(col("p_name")).distinct()
      .withColumn("block", element_at(split(col("p_name"), " "), 2))
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        graft.plans.NativeExpressions.jaroWinkler(
          col("a.p_name"), col("b.p_name")).as("jw"))
      .where(col("jw") >= 0.8d)
  }) {
    """WITH names AS (
      |  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS block
      |  FROM part),
      | p AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |  FROM names a JOIN names b
      |    ON a.block = b.block AND a.p_name < b.p_name)
      |SELECT name_a, name_b, jw FROM p WHERE jw >= 0.8""".stripMargin
  }

  // record-linkage candidate pairs: DICTIONARY-first fuzzy match — the
  // distinct-value frame (64 names, not 2 000 parts) is what gets
  // blocked and compared, the classic scale move for string linkage; the
  // block key (last name token) turns the would-be all-pairs scan into
  // a per-block equi-join, and levenshtein runs only inside blocks.
  // Both engines implement plain Levenshtein identically, so distances
  // are integer-exact
  // entity resolution END TO END — the composition a reference user
  // actually runs, each stage an already-proven operator: dirty-record
  // fixture (every 4th part gains a duplicate listing with a noised
  // name and bumped price) -> sorted-neighborhood blocking (the
  // distributed global rank, never all-pairs) -> native JaroWinkler
  // scoring at 0.9 (the gate a SHORT name's variant still clears:
  // jw("khaki...", "khaki... xx") falls with name length — 0.95
  // silently orphaned every short name's variant; bit-identical to
  // the oracle engine's
  // jaro_winkler_similarity) -> two-tier cluster resolution ->
  // field-level golden record (name from the EARLIEST record id = the
  // original listing, price as the max). Singletons keep themselves as
  // their own cluster via the left join + coalesce. On this fixture
  // (64 distinct names over 2000 parts) the same-name listings ALSO
  // consolidate — jw(x, x) = 1.0 — so the pipeline demonstrates both
  // exact-duplicate merging and fuzzy variant capture in one pass
  // (~82 golden records from ~2500 raw listings).
  query("q_er_pipeline")((s, dir) => {
    val recs = erRecords(s, dir)
    // MULTI-PASS neighborhood (the Hernandez-Stolfo remedy for any
    // single sort key's blind spots): pass 1 sorts by the full name,
    // pass 2 by its 3-word prefix — a variant separated from its
    // original in one order (interloper names between them) is
    // adjacent in the other. Candidate union, then one scoring pass.
    // The compared names ride the pair generation as payload columns
    // (names are id-determined, so the pair-level distinct is
    // unchanged) — scoring needs no re-join against the record table.
    // Both passes' GLOBAL RANKS come pre-STAGED (stagedErRanks): the
    // rank is window-independent, so per call only the explode + rank
    // equi-join runs.
    val (rankedName, rankedPkey) = stagedErRanks(s, dir)
    val cand = Dedup.sortedNeighborhoodPairsFromRanked(rankedName,
        window = 3, payload = Seq("name"))
      .unionByName(Dedup.sortedNeighborhoodPairsFromRanked(rankedPkey,
        window = 3, payload = Seq("name")))
      .distinct()
    val scored = cand
      .where(graft.plans.NativeExpressions.jaroWinkler(
        col("name_a"), col("name_b")) >= 0.9d)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.resolveDuplicateClusters(scored)
      .withColumnRenamed("id", "rec_id")
    val withCluster = recs.join(clusters, Seq("rec_id"), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col("rec_id")))
      .select(col("cluster_id"), col("rec_id"), col("name"), col("price_cents"))
    Dedup.goldenRecords(withCluster, "cluster_id", "rec_id",
      Seq("name" -> "earliest", "price_cents" -> "max"))
  }) {
    // DuckDB's jaro_winkler_similarity is bit-identical to the native
    // expression (verified on all dictionary pairs) — raw doubles compare
    // every stage replayed: same dirty fixture, the neighborhood as a
    // global row_number + ranged self-join (the SN oracle's pattern),
    // DuckDB's bit-identical jaro_winkler_similarity at the same 0.9,
    // the recursive-CTE component closure at the component minimum, and
    // survivorship as arg_min/max (the golden-record oracle's pattern)
    """WITH RECURSIVE base AS (
      |  SELECT cast(p_partkey AS bigint) AS rec_id, p_name AS name,
      |    cast(floor(p_retailprice * 100 + 0.5) AS bigint) AS price_cents
      |  FROM part),
      | recs AS MATERIALIZED (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT rec_id + 10000000, name || ' xx', price_cents + 5
      |  FROM base WHERE rec_id % 4 = 0),
      | ranked1 AS (
      |  SELECT rec_id, name,
      |    row_number() OVER (ORDER BY name, rec_id) AS g
      |  FROM recs),
      | ranked2 AS (
      |  SELECT rec_id, name,
      |    row_number() OVER (
      |      ORDER BY array_to_string((string_split(name, ' '))[1:3], ' '),
      |        rec_id) AS g
      |  FROM recs),
      | cand AS (
      |  SELECT a.rec_id AS id_a, b.rec_id AS id_b,
      |    a.name AS na, b.name AS nb
      |  FROM ranked1 a JOIN ranked1 b ON b.g BETWEEN a.g + 1 AND a.g + 3
      |  UNION
      |  SELECT a.rec_id, b.rec_id, a.name, b.name
      |  FROM ranked2 a JOIN ranked2 b ON b.g BETWEEN a.g + 1 AND a.g + 3),
      | scored AS MATERIALIZED (
      |  SELECT id_a, id_b FROM cand
      |  WHERE jaro_winkler_similarity(na, nb) >= 0.9),
      | edges AS MATERIALIZED (
      |  SELECT id_a AS a, id_b AS b FROM scored
      |  UNION SELECT id_b, id_a FROM scored),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      | cmap AS (
      |  SELECT src AS rec_id, least(src, min(dst)) AS keep_id
      |  FROM reach GROUP BY src),
      | withc AS (
      |  SELECT coalesce(c.keep_id, r.rec_id) AS cluster_id,
      |    r.rec_id, r.name, r.price_cents
      |  FROM recs r LEFT JOIN cmap c USING (rec_id))
      |SELECT cluster_id, count(*)::BIGINT AS n_records,
      |  arg_min(name, rec_id) FILTER (WHERE name IS NOT NULL) AS name,
      |  max(price_cents) AS price_cents
      |FROM withc GROUP BY 1""".stripMargin
  }

  query("q_fuzzy_match")((s, dir) => {
    val names = t(s, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split(col("p_name"), " "), 2))
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .where(col("dist") <= 2)
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("dist"), col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"))
  }) {
    // same dictionary-first blocking (names are 'adjective noun', block =
    // the noun); both engines implement plain Levenshtein
    """WITH names AS (
      |  SELECT p_name, count(*)::BIGINT AS n_parts,
      |    split_part(p_name, ' ', 2) AS block
      |  FROM part GROUP BY 1),
      | p AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    cast(levenshtein(a.p_name, b.p_name) AS int) AS dist,
      |    a.n_parts AS n_a, b.n_parts AS n_b
      |  FROM names a JOIN names b
      |    ON a.block = b.block AND a.p_name < b.p_name)
      |SELECT name_a, name_b, dist, n_a, n_b FROM p WHERE dist <= 2""".stripMargin
  }

  // content-defined chunking + chunk-level dedup report
  // (Dedup.contentDefinedChunks): documents cut at window-hash
  // boundaries, so identical passages chunk identically corpus-wide;
  // the report is the storage story a dataset-versioning system quotes
  // (distinct/total chunk chars = the delta-store footprint). Chunking
  // is one narrow projection; both aggregates are map-combined; the
  // 1x1 combine is a broadcast cross join
  query("q_cdc_dedup")((s, dir) => {
    // the fixture corpus is ONE parquet row group — without a spread
    // the ~1.5M per-position window hashes run on one core (measured
    // 7.7 s single-threaded under the old HOF chunker; the native
    // CdcChunks kernel cut the per-position cost ~5x but the spread
    // still buys full-core parallelism). A real 100 TB corpus arrives
    // in thousands of files and needs no repartition; this one
    // round-robin exchange is the single-file-fixture artifact
    val spread = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    // the oracle's generate_series ceiling is a CONSTANT 10k (this
    // DuckDB build takes neither lateral nor subquery bounds) — the
    // Spark chunker is unbounded, so assert the fixture fits the
    // oracle's window instead of silently diverging on longer docs
    assertOracleTextCeiling(spread, "q_cdc_dedup")
    // one md5 per char position stays the ORACLE-PARITY contract even
    // in the native kernel, and BOTH aggregates below consume the
    // chunk set — materialize the 16-byte-hash projection ONCE so the
    // per-position hashing never re-runs (unpersisted, the `dis`
    // branch re-chunked the whole corpus a second time)
    val hashed = Dedup.contentDefinedChunks(
        spread, "doc_id", "text", window = 16, mask = 64)
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("len"))
      .localCheckpoint(true)
    val tot = hashed.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_chunks"),
      sum(col("len")).as("total_chars"))
    val dis = hashed
      .groupBy(col("h"))
      .agg(min(col("len")).as("len"))
      .agg(count(lit(1)).as("distinct_chunks"),
        sum(col("len")).as("distinct_chars"))
    tot.crossJoin(dis)
      .withColumn("dedup_ratio",
        col("distinct_chars").cast("double") / col("total_chars").cast("double"))
  }) {
    // same window-hash boundary rule (this build's generate_series takes
    // no lateral bounds — a constant 10k ceiling is filtered down to each
    // text's length; both engines' substr/length count code points), then
    // lead()-paired segments and the same two aggregates
    """WITH base AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents WHERE text IS NOT NULL),
      | pos AS (
      |  SELECT doc_id, text, n, g.i AS pos
      |  FROM base, generate_series(16, 10000) AS g(i) WHERE g.i <= n),
      | bnd AS (
      |  SELECT doc_id, pos FROM pos
      |  WHERE ('0x' || substr(md5('cdc:' || substr(text, pos - 15, 16)), 1, 15))::UBIGINT % 64 = 0),
      | starts AS (
      |  SELECT doc_id, 1 AS s FROM base
      |  UNION ALL
      |  SELECT doc_id, pos + 1 AS s FROM bnd),
      | segs AS (
      |  SELECT doc_id, s,
      |    lead(s) OVER (PARTITION BY doc_id ORDER BY s) - 1 AS e0
      |  FROM starts),
      | chunks AS (
      |  SELECT sg.doc_id,
      |    substr(b.text, sg.s::INT, (coalesce(sg.e0, b.n) - sg.s + 1)::INT) AS chunk
      |  FROM segs sg JOIN base b USING (doc_id)
      |  WHERE coalesce(sg.e0, b.n) >= sg.s),
      | tot AS (
      |  SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
      |    count(*)::BIGINT AS total_chunks,
      |    sum(length(chunk))::BIGINT AS total_chars
      |  FROM chunks),
      | dis AS (
      |  SELECT count(*)::BIGINT AS distinct_chunks,
      |    sum(len)::BIGINT AS distinct_chars
      |  FROM (SELECT md5(chunk) AS h, min(length(chunk)) AS len
      |        FROM chunks GROUP BY 1))
      |SELECT n_docs, total_chunks, total_chars, distinct_chunks, distinct_chars,
      |  cast(distinct_chars AS double) / cast(total_chars AS double) AS dedup_ratio
      |FROM tot CROSS JOIN dis""".stripMargin
  }

  // chunk-level snapshot delta (the rsync/delta-store transfer bill):
  // apply the same deterministic edit set as q_merge_upsert, chunk BOTH
  // snapshot versions content-defined, and count the v2 chunks whose
  // hash the v1 chunk store already holds — an update re-transfers only
  // the chunks its edit touched, everything else is a cache hit. The
  // anti-join carries 16-byte hashes, never chunk text
  query("q_cdc_delta")((s, dir) => {
    // same single-file-fixture spread as q_cdc_dedup (both versions
    // chunk the full corpus; the hashes dominate)
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    // same 10k oracle-ceiling contract as q_cdc_dedup (v2's "new:" and
    // upper() edits never lengthen a doc past the margin the guard keeps)
    assertOracleTextCeiling(base, "q_cdc_delta", ceiling = 9996)
    val upserts = base
      .withColumn("op",
        when(col("doc_id") % 11 === 3, "D").when(col("doc_id") % 7 === 0, "U"))
    val v2 = upserts.where(col("op").isNull || col("op") === "U")
      .select(col("doc_id"),
        when(col("op") === "U", upper(col("text"))).otherwise(col("text")).as("text"))
      .unionByName(base.where(col("doc_id") % 13 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new:"), col("text")).as("text")))
    // each chunk store is consumed twice (s2 by its own agg AND the
    // anti-join; s1 by the anti-join's build side) — materialize both
    // eagerly so the per-position chunk hashing runs exactly once per
    // snapshot instead of up to 3x (the grouped stores are tiny
    // 16-byte-hash tables, the chunking above them is the expensive part)
    def store(df: DataFrame): DataFrame =
      Dedup.contentDefinedChunks(df, "doc_id", "text", window = 16, mask = 64)
        .groupBy(md5(col("chunk")).as("h"))
        .agg(min(length(col("chunk"))).as("len"))
        .localCheckpoint(true)
    val s1 = store(base)
    val s2 = store(v2)
    val fresh = s2.join(s1.select(col("h")), Seq("h"), "left_anti")
    s2.agg(count(lit(1)).as("v2_chunks"), sum(col("len")).as("v2_chars"))
      .crossJoin(fresh.agg(
        coalesce(count(lit(1)), lit(0L)).as("new_chunks"),
        coalesce(sum(col("len")), lit(0L)).as("new_chars")))
      .withColumn("transfer_ratio",
        col("new_chars").cast("double") / col("v2_chars").cast("double"))
  }) {
    // both snapshot versions chunked by the shared store chain (v2 = the
    // q_merge_upsert edit set materialized as text), hash-only anti-join
    s"""WITH v2src AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
       |  FROM documents WHERE NOT (doc_id % 11 = 3)
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'new:' || text AS text
       |  FROM documents WHERE doc_id % 13 = 5),
       | ${cdcStoreSql("v1_", "documents")},
       | ${cdcStoreSql("v2_", "v2src")},
       | fresh AS (
       |  SELECT s2.h, s2.len FROM v2_store s2
       |  LEFT JOIN v1_store s1 ON s1.h = s2.h WHERE s1.h IS NULL),
       | tot AS (
       |  SELECT count(*)::BIGINT AS v2_chunks, sum(len)::BIGINT AS v2_chars
       |  FROM v2_store),
       | nw AS (
       |  SELECT coalesce(count(*), 0)::BIGINT AS new_chunks,
       |    coalesce(sum(len), 0)::BIGINT AS new_chars
       |  FROM fresh)
       |SELECT v2_chunks, v2_chars, new_chunks, new_chars,
       |  cast(new_chars AS double) / cast(v2_chars AS double) AS transfer_ratio
       |FROM tot CROSS JOIN nw""".stripMargin
  }

  /** Loud guard for oracles whose DuckDB side carries a CONSTANT position
    * ceiling (this DuckDB build's `generate_series` accepts neither
    * lateral nor subquery bounds): if any document outgrows the unrolled
    * window the two engines would diverge SILENTLY — fail the query
    * instead. `limit(1)` bounds the probe: the scan short-circuits on the
    * first offender, and at verify scale the frame is already in cache. */
  private def assertOracleTextCeiling(df: DataFrame, query: String,
      ceiling: Int = 10000): Unit = {
    val over = df.where(length(col("text")) > ceiling).limit(1).count()
    require(over == 0, s"$query: a document exceeds the oracle's constant " +
      s"generate_series ceiling ($ceiling chars) — raise the oracle's unroll " +
      "bound before trusting this fixture")
  }

  /** Exact char-shingle Jaccard over every pair sharing ≥ 1 shingle
    * (id_a < id_b, empty-shingle docs excluded exactly as the LSH banding
    * excludes them). A zero-intersection pair has jaccard 0, below every
    * downstream ≥-threshold consumer, so the posting-list equi-join is
    * result-identical to the naive all-pairs list_intersect form — and
    * turns the oracle from O(n²) list ops into one grouped join (the
    * round-7 board spent ~265 s of DuckDB time re-evaluating the naive
    * form across this CTE's four consumers; now < 1 s each). |∩| comes
    * from the join group count, |∪| = |A| + |B| − |∩|; the final int/int
    * IEEE division is bit-identical between Spark and DuckDB. CTEs are
    * MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default,
    * re-evaluating the pair pipeline once per reference. */
  private val charPairsSql: String =
    s"""${charShingleSql("documents")},
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM sh WHERE len(sh) > 0),
      | pairs AS MATERIALIZED (
      |  SELECT id_a, id_b, cast(i AS double) / (na + nb - i) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |      count(*)::BIGINT AS i
      |    FROM shm a JOIN shm b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2, 3, 4))""".stripMargin

  /** Exact all-CROSS-pairs jaccard over the doc_id<400 / ≥400 corpus split
    * — the shared ground truth for every cross-corpus dedup variant
    * (bloom, bucketed): each one's hash match proves its candidate pruning
    * loses nothing. */
  private val crossPairsOracleSql: String =
    s"""WITH ${charShingleSql("documents")},
      | shm AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM sh WHERE len(sh) > 0),
      | x AS (
      |  SELECT new_id, ref_id, cast(i AS double) / (nb + nr - i) AS jaccard
      |  FROM (
      |    SELECT b.doc_id AS new_id, r.doc_id AS ref_id, b.n AS nb, r.n AS nr,
      |      count(*)::BIGINT AS i
      |    FROM shm b JOIN shm r ON b.g = r.g AND b.doc_id >= 400 AND r.doc_id < 400
      |    GROUP BY 1, 2, 3, 4))
      |SELECT new_id, ref_id, jaccard FROM x WHERE jaccard >= 0.5""".stripMargin

  /** The q_image_near_dup oracle: rebuild the 9×8 gradient BMPs hex-for-
    * hex ([[graft.ext.Multimodal.synthesizeGradientImages]]), read every
    * gray byte back out of the built hex at the decoder's exact offsets
    * (bottom-up rows, 28-byte stride, blue channel), recompute the 64
    * dHash comparison bits, and take exact all-pairs Hamming ≤ 3 over the
    * per-bit rows (64·pairs rows — integer-only, no 64-bit shifts, which
    * overflow DuckDB's UBIGINT `<<`). Exact all-pairs == the Spark LSH
    * output because 4-band pigeonhole recall at Hamming ≤ 3 is
    * unconditional. */
  /** The dHash pair derivation (payload rebuild → pixel grid → dHash
    * bits → banded pairs → hamming) as a CTE chain ending in `pairs` —
    * shared by the q_image_near_dup and q_image_dup_clusters oracles. */
  private val imagePairChainSql: String =
    """d AS (
      |  SELECT cast(doc_id AS bigint) AS id, doc_id % 50 AS pid, doc_id // 50 AS v
      |  FROM documents),
      | cells AS (
      |  SELECT id, ys, x,
      |    CASE WHEN x = 9 THEN '00'
      |         ELSE repeat(lpad(hex((pid * 37 + x * (13 + (pid % 11) * 23) +
      |           (7 - ys) * 53 +
      |           CASE WHEN v > 0 AND v % 9 = x AND v % 8 = (7 - ys)
      |                THEN 40 ELSE 0 END) % 256), 2, '0'), 3)
      |    END AS ph
      |  FROM d, generate_series(0, 7) s(ys), generate_series(0, 9) t(x)),
      | body AS MATERIALIZED (SELECT id, string_agg(ph, '' ORDER BY ys, x) AS bh FROM cells GROUP BY id),
      | built AS MATERIALIZED (
      |  SELECT id,
      |    '424D' || '16010000' || '00000000' || '36000000' || '28000000' ||
      |    '09000000' || '08000000' || '0100' || '1800' || '00000000' ||
      |    'E0000000' || '130B0000' || '130B0000' || '00000000' || '00000000' ||
      |    bh AS hx
      |  FROM body),
      | grid AS MATERIALIZED (
      |  SELECT id, x, y,
      |    ('0x' || substr(hx, (54 + (7 - y) * 28 + x * 3) * 2 + 1, 2))::BIGINT AS g
      |  FROM built, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
      | bits AS MATERIALIZED (
      |  SELECT a.id, a.y * 8 + a.x AS bit,
      |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS v
      |  FROM grid a JOIN grid b ON a.id = b.id AND b.x = a.x + 1 AND b.y = a.y
      |  WHERE a.x < 8),
      | pairs AS MATERIALIZED (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)::BIGINT AS hamming
      |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.id < b.id
      |  GROUP BY 1, 2)""".stripMargin

  private val imageNearDupOracleSql: String =
    s"""WITH $imagePairChainSql
      |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin

  /** The q_image_dup_clusters oracle: the pair chain plus the recursive
    * min-reachable closure (the q_near_dup_clusters convention, over
    * dHash-Hamming edges instead of Jaccard edges). */
  private val imageDupClustersOracleSql: String =
    s"""WITH RECURSIVE $imagePairChainSql,
      | above AS (SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
      | edges AS (
      |  SELECT id_a AS a, id_b AS b FROM above
      |  UNION SELECT id_b, id_a FROM above),
      | reach(src, dst) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      |SELECT src AS id, least(src, min(dst)) AS keep_id FROM reach GROUP BY src""".stripMargin

  /** One content-defined chunk store (hash, len) as a CTE chain under a
    * name prefix — shared by the q_cdc_delta oracle's two snapshot
    * versions. */
  private def cdcStoreSql(pfx: String, srcCte: String): String =
    s"""${pfx}base AS (
       |  SELECT doc_id, text, length(text) AS n FROM $srcCte WHERE text IS NOT NULL),
       | ${pfx}pos AS (
       |  SELECT doc_id, text, n, g.i AS pos
       |  FROM ${pfx}base, generate_series(16, 10000) AS g(i) WHERE g.i <= n),
       | ${pfx}bnd AS (
       |  SELECT doc_id, pos FROM ${pfx}pos
       |  WHERE ('0x' || substr(md5('cdc:' || substr(text, pos - 15, 16)), 1, 15))::UBIGINT % 64 = 0),
       | ${pfx}starts AS (
       |  SELECT doc_id, 1 AS s FROM ${pfx}base
       |  UNION ALL
       |  SELECT doc_id, pos + 1 AS s FROM ${pfx}bnd),
       | ${pfx}segs AS (
       |  SELECT doc_id, s, lead(s) OVER (PARTITION BY doc_id ORDER BY s) - 1 AS e0
       |  FROM ${pfx}starts),
       | ${pfx}chunks AS (
       |  SELECT sg.doc_id,
       |    substr(b.text, sg.s::INT, (coalesce(sg.e0, b.n) - sg.s + 1)::INT) AS chunk
       |  FROM ${pfx}segs sg JOIN ${pfx}base b USING (doc_id)
       |  WHERE coalesce(sg.e0, b.n) >= sg.s),
       | ${pfx}store AS (
       |  SELECT md5(chunk) AS h, min(length(chunk)) AS len
       |  FROM ${pfx}chunks GROUP BY 1)""".stripMargin
}
