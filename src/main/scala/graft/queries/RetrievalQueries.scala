package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.{Similarity, TextAnalysis, Multimodal}
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Embedding retrieval (exact, int8, IVF, PQ), ranking evaluation
  * against the staged exact neighbours, hybrid lexical retrieval and the
  * multimodal (media, audio, frame) features. */
object RetrievalQueries extends QueryFamily("retrieval") {

  // Okapi BM25 top-20 against a fixed query-term set: the isin filter
  // runs IN the explode projection so only (doc, query-term) rows ever
  // shuffle; doc length rides along pre-explode (no second corpus pass);
  // per-term contributions milli-quantized so the sum is order-
  // independent and a last-bit ln() cannot move the hash
  query("q_bm25")((s, dir) => {
    TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
      queryTerms = Seq("spark", "merge", "vector"), topK = 20)
  }) {
    // the full BM25 chain replayed: integer tf/df/dl, one exact avgdl
    // division, the Lucene idf form, milli-quantized contributions, and
    // the same (score desc, doc_id asc) deterministic top-20
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tl
      |  FROM documents),
      | exploded AS (
      |  SELECT doc_id, cast(len(tl) AS bigint) AS dl, unnest(tl) AS term FROM toks),
      | tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
      |  FROM exploded WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
      | dfs AS (SELECT *, cast(count(*) OVER (PARTITION BY term) AS bigint) AS df FROM tf),
      | stats AS (
      |  SELECT cast(count(*) AS double) AS n_docs,
      |    cast(sum(len(tl)) AS double) / cast(count(*) AS double) AS avgdl
      |  FROM toks)
      |SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
      |  cast(sum(cast(floor(
      |    ln((n_docs - cast(df AS double) + 0.5) / (cast(df AS double) + 0.5) + 1.0) *
      |    (cast(tf AS double) * 2.2 /
      |     (cast(tf AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl)))
      |    * 1000.0 + 0.5) AS bigint)) AS double) / 1000.0 AS bm25
      |FROM dfs, stats GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  // hybrid retrieval: RRF fusion of the BM25 lexical top-20 with the
  // cosine top-20 for doc 0's embedding. Only integer ranks cross the
  // fusion boundary; each contribution is one IEEE division and the
  // two-list sum one addition, so fusion scores are bit-identical in
  // any engine replaying the same ranked lists (both of which are
  // themselves hash-matched: q_bm25 / q_embed_topk).
  query("q_rrf_hybrid")((s, dir) => {
    // rank = 1 + number of strict predecessors under the (bm25 desc,
    // doc_id) TOTAL order — identical integers to the former
    // row_number() over an unpartitioned window (r16): the frame is
    // topK=20-bounded so either form is bounded at any scale, but the
    // broadcast predecessor-count keeps the plan free of
    // single-partition stages (one fewer PlanLintSpec allow-list entry)
    val bm = TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "merge", "vector"), topK = 20)
      .select(col("doc_id"), col("bm25"))
    val lex = bm.as("a").join(broadcast(bm.as("b")),
        col("b.bm25") > col("a.bm25") ||
          (col("b.bm25") === col("a.bm25") && col("b.doc_id") < col("a.doc_id")),
        "left")
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg((count(col("b.doc_id")) + 1L).cast("int").as("rank"))
    val emb = t(s, dir, "embeddings")
    val qv = emb.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sem = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qv, "qid", "qvec", k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.ext.Retrieval.rrfFuse2(lex, sem, "doc_id", "rank", k = 60, topK = 10)
      .select(col("doc_id"), col("rank_a").as("lex_rank"),
        col("rank_b").as("sem_rank"), col("rrf"))
  }) {
    // both ranked lists rebuilt exactly as their own oracles build them
    // (q_bm25 / q_embed_topk), then fused: only integer ranks cross the
    // boundary, each reciprocal is one IEEE division, the two-list sum
    // one addition — bit-identical in both engines
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tl
      |  FROM documents),
      | exploded AS (
      |  SELECT doc_id, cast(len(tl) AS bigint) AS dl, unnest(tl) AS term FROM toks),
      | tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
      |  FROM exploded WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
      | dfs AS (SELECT *, cast(count(*) OVER (PARTITION BY term) AS bigint) AS df FROM tf),
      | stats AS (
      |  SELECT cast(count(*) AS double) AS n_docs,
      |    cast(sum(len(tl)) AS double) / cast(count(*) AS double) AS avgdl
      |  FROM toks),
      | bm AS (
      |  SELECT doc_id,
      |    cast(sum(cast(floor(
      |      ln((n_docs - cast(df AS double) + 0.5) / (cast(df AS double) + 0.5) + 1.0) *
      |      (cast(tf AS double) * 2.2 /
      |       (cast(tf AS double) + 1.2 * (0.25 + 0.75 * cast(dl AS double) / avgdl)))
      |      * 1000.0 + 0.5) AS bigint)) AS double) / 1000.0 AS bm25
      |  FROM dfs, stats GROUP BY doc_id
      |  ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
      | lex AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_a FROM bm),
      | q AS (SELECT list_transform(embedding, x -> cast(x AS double)) AS qvec
      |       FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL),
      | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |       FROM embeddings WHERE embedding IS NOT NULL),
      | scored AS (
      |   SELECT c.vec_id AS doc_id,
      |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
      |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
      |     END AS cosine
      |   FROM c CROSS JOIN q WHERE c.vec_id <> 0),
      | sem AS (
      |   SELECT doc_id, rank_b FROM (
      |     SELECT doc_id,
      |       row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_b
      |     FROM scored) WHERE rank_b <= 20),
      | fused AS (
      |   SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank_a, s.rank_b,
      |     coalesce(1.0 / (60.0 + cast(l.rank_a AS double)), 0.0) +
      |     coalesce(1.0 / (60.0 + cast(s.rank_b AS double)), 0.0) AS rrf
      |   FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
      |SELECT doc_id, rank_a AS lex_rank, rank_b AS sem_rank, rrf
      |FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  // brute-force cosine top-k over embeddings (exact ANN baseline)
  query("q_embed_topk")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
  }) {
    """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
      |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |       FROM embeddings WHERE embedding IS NOT NULL),
      | scored AS (
      |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
      |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
      |     END AS cosine
      |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
      | ranked AS (
      |   SELECT query_id, neighbor_id, cosine,
      |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |   FROM scored)
      |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  // recommendation-list health: catalog coverage@5 (distinct items ever
  // recommended / catalog) and concentration (the single most-recommended
  // item's share of all slots) over the exact cosine top-5 lists — the
  // diversity read-out a recsys release gate checks beside accuracy
  // (low coverage + high concentration = popularity collapse). Integer
  // counts; two IEEE divisions
  query("q_rec_coverage")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
    val catalog = emb.where(col("embedding").isNotNull)
      .agg(count(lit(1)).as("catalog_n"))
    val perItem = top.groupBy(col("neighbor_id")).agg(count(lit(1)).as("__c"))
    perItem.agg(
        count(lit(1)).as("n_distinct_recommended"),
        sum(col("__c")).as("n_slots"),
        max(col("__c")).as("top_item_slots"))
      .crossJoin(broadcast(catalog))
      .select(col("n_slots"), col("n_distinct_recommended"), col("catalog_n"),
        (col("n_distinct_recommended").cast("double") /
          col("catalog_n").cast("double")).as("coverage"),
        (col("top_item_slots").cast("double") /
          col("n_slots").cast("double")).as("max_item_share"))
  }) {
    // the q_embed_topk chain re-aggregated: per-item slot counts over the
    // same exact top-5 lists, the same two divisions
    """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
      |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |       FROM embeddings WHERE embedding IS NOT NULL),
      | scored AS (
      |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
      |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
      |     END AS cosine
      |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
      | ranked AS (
      |   SELECT query_id, neighbor_id,
      |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |   FROM scored),
      | top AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
      | per_item AS (SELECT neighbor_id, count(*)::BIGINT AS c FROM top GROUP BY 1),
      | cat AS (SELECT count(*)::BIGINT AS catalog_n FROM embeddings WHERE embedding IS NOT NULL)
      |SELECT sum(c)::BIGINT AS n_slots,
      |  count(*)::BIGINT AS n_distinct_recommended,
      |  catalog_n,
      |  cast(count(*) AS double) / cast(catalog_n AS double) AS coverage,
      |  cast(max(c) AS double) / cast(sum(c) AS double) AS max_item_share
      |FROM per_item, cat GROUP BY catalog_n""".stripMargin
  }

  // int8 scalar-quantized top-k (FAISS SQ8): one corpus-trained scale,
  // integer dot products — the 4× memory-compressed scan path, scored
  // in exact int arithmetic so the oracle replays it bit-for-bit
  query("q_int8_topk")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.int8TopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
  }) {
    // the same corpus-trained scale (127/max|x|), the same floor(x·s+0.5)
    // quantizer, and the integer dot product — integer-valued doubles keep
    // list_dot_product exact far below 2^53, so the bigint cast replays
    // Spark's long sum bit-for-bit
    """WITH mx AS (
      |  SELECT max(list_max(list_transform(embedding, x -> abs(cast(x AS double))))) AS maxabs
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | c AS (
      |  SELECT vec_id AS neighbor_id,
      |    list_transform(embedding,
      |      x -> floor(cast(x AS double) * (127.0 / maxabs) + 0.5)) AS cc
      |  FROM embeddings, mx WHERE embedding IS NOT NULL),
      | q AS (
      |  SELECT vec_id AS query_id,
      |    list_transform(embedding,
      |      x -> floor(cast(x AS double) * (127.0 / maxabs) + 0.5)) AS qc
      |  FROM embeddings, mx
      |  WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | scored AS (
      |  SELECT query_id, neighbor_id,
      |    cast(list_dot_product(cc, qc) AS bigint) AS idot
      |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
      | ranked AS (
      |  SELECT query_id, neighbor_id, idot,
      |    row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, idot, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  // same exact top-k through the bounded-heap typed Aggregator (hash
  // aggregation with map-side combine instead of a window sort) — same
  // oracle as q_embed_topk proves the equivalence
  query("q_embed_topk_agg")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopKAgg(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
  }) {
    """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
      |           FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | c AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |       FROM embeddings WHERE embedding IS NOT NULL),
      | scored AS (
      |   SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |     CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
      |          ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
      |     END AS cosine
      |   FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
      | ranked AS (
      |   SELECT query_id, neighbor_id, cosine,
      |     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |   FROM scored)
      |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  // IVF-bucketed approximate top-k (scale path). Deterministic end to
  // end — md5-gated centroids, ONE quantized-mean Lloyd refinement pass
  // (tighter buckets → higher recall at the same nprobe), argmin
  // assignment, probe selection — so the oracle rebuilds the ENTIRE
  // approximate chain in SQL, Lloyd pass included, and the output is
  // value-checked, not just recall-bounded. nlist=16/nprobe=8 scans
  // ~half the corpus on this (uniform-random, structure-less — IVF's
  // worst case) testdata.
  query("q_embed_ivf_topk")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, nlist = 16, nprobe = 8, refineIters = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine_r"), col("rank").cast("long").as("rank"))
  }) {
    // the ENTIRE approximate pipeline rebuilt in SQL — centroids,
    // assignment, probes, in-bucket top-k — so the approximation itself is
    // value-checked, not just bounded by a recall report
    s"""WITH ${ivfChainSql()}
      |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine_r, rank
      |FROM ranked WHERE rank <= 5""".stripMargin
  }

  // the driver-visible ANN quality report: per-query overlap of the IVF
  // top-5 with the exact brute-force top-5 (both computed here, one
  // deterministic number per query — recall@5), now itself
  // value-checked against a SQL twin of both sides.
  query("q_ivf_recall")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = stagedExactNeighbors(s, dir).where(col("rank") <= 5)
    // index comes staged (stagedIvf16 — nlist=16/refine=1, shared with
    // q_ann_tuning's sweep); only the probe+score search runs here
    val (cent, assigned) = stagedIvf16(s, dir)
    val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nprobe = 8)
    Similarity.recallReport(exact, approx, k = 5)
  }) {
    // recall@5 of the SQL-rebuilt IVF against the SQL exact top-5: the
    // report's values are themselves oracle-checked now
    s"""WITH ${ivfChainSql()},
      | approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
      | escored AS (
      |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
      |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
      |    END AS cosine
      |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
      | exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM escored)
      |  WHERE rank <= 5)
      |SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits,
      |  count(a.neighbor_id)::DOUBLE / 5 AS recall_at_k
      |FROM exact e LEFT JOIN approx a
      |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.query_id""".stripMargin
  }

  // per-dimension embedding moment profile (feature-scaling /
  // batch-drift prerequisite): posexplode is narrow, the rollup exchange
  // carries at most `dims` groups; micro-unit fixed-point longs make
  // every moment order-independent and engine-exact
  query("q_embed_dim_stats")((s, dir) => {
    Similarity.dimensionStats(t(s, dir, "embeddings"), "embedding")
  }) {
    // micro-unit fixed-point (float->double widening is exact in both
    // engines) and long-summed moments; the two parallel unnests zip
    """WITH ex0 AS (
      |  SELECT unnest(range(0, len(embedding))) AS dim, unnest(embedding) AS v
      |  FROM embeddings),
      | ex AS (
      |  SELECT cast(dim AS integer) AS dim,
      |    cast(floor(cast(v AS double) * 1000000.0 + 0.5) AS bigint) AS fp
      |  FROM ex0)
      |SELECT dim, count(*)::BIGINT AS n,
      |  cast(sum(fp) AS bigint) AS sum_fp,
      |  cast(sum(fp * fp) AS bigint) AS ssq_fp,
      |  min(fp) AS min_fp, max(fp) AS max_fp,
      |  round(cast(sum(fp) AS double) / (cast(count(*) AS double) * 1000000.0), 6) AS mean
      |FROM ex GROUP BY dim""".stripMargin
  }

  // multimodal plumbing: binary payload + metadata + batch feature stub.
  // The metadata derivation uses the portable md5-prefix family, so the
  // oracle value-checks the full (id, mime, byte-length) projection —
  // including the mapPartitions batch path's null-payload handling.
  query("q_multimodal_features")((s, dir) => {
    val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("mime"), col("n_bytes"))
  }) {
    // the portable-md5 metadata derivation plus byte length of the UTF-8
    // payload — value-checks the mapPartitions feature path end to end
    // (including null payloads becoming 0-byte features)
    """SELECT doc_id AS media_id,
      |  (['image/png', 'image/jpeg', 'audio/wav'])[
      |    cast(('0x' || substr(md5('mime:' || cast(doc_id AS varchar)), 1, 8))::UBIGINT % 3 + 1 AS int)] AS mime,
      |  cast(coalesce(octet_length(encode(text)), 0) AS bigint) AS n_bytes
      |FROM documents""".stripMargin
  }

  // REAL media decode, pure JVM: payloads are valid BMP/WAV/PNG/JPEG
  // files synthesized from engine-portable hex expressions, then parsed
  // back by the header decoder in the partition-batched mapPartitions
  // path (LE BITMAPINFOHEADER / RIFF chunk walk / BE IHDR / JPEG marker
  // walk to SOF0). The oracle rebuilds the same bytes in SQL and parses
  // width/height/sample-rate/samples out of them with substr+endian
  // arithmetic; the payload hash pins byte-for-byte construction
  // equality, the decoded fields pin the parsers. No decode stub left
  // on this path.
  query("q_media_decode")((s, dir) => {
    val media = Multimodal.synthesizeMedia(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.decodeMedia(media).toDF()
  }) {
    // the synthesized BMP/WAV payloads rebuilt hex-for-hex in SQL, then
    // PARSED back out of the built hex at the same byte offsets the JVM
    // decoder reads (LE reassembly via substr) — md5 over the hex pins the
    // bytes, the parsed fields pin the decode
    mediaDecodeOracleSql
  }

  // video frame sampling: synthesize GVI1 raw-video payloads (header +
  // grayscale frames; frame f = fill byte (id*7+f*31)%256 with its
  // first pixel perturbed by +f), then uniform-stride sample at most 6
  // frames per clip in one mapPartitions pass — stride
  // ceil(n_frames/6), always keeping frame 0. Emits exact integer luma
  // sums, the derived mean, and md5 over each frame's hex rendering,
  // so the oracle replays byte construction, the stride rule, and the
  // per-frame statistics end to end. Scale: no shuffle; only sampled
  // frames are touched (offset-seek slicing stands where a keyframe
  // seek would).
  query("q_frame_sample")((s, dir) => {
    val vids = Multimodal.synthesizeVideo(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.sampleVideoFrames(vids, targetFrames = 6).toDF()
  }) {
    // the GVI1 raw-video fixture replayed in SQL: same id-derived
    // geometry, the stride rule ceil(nf/6) as (nf+5)//6, per-frame fill
    // and perturbed-first-pixel bytes rebuilt as hex — md5 over the hex
    // pins the frame bytes, the integer luma sum pins the decoder's
    // arithmetic, unnest(generate_series) replays the sampled indices
    """WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    cast(doc_id % 4 + 2 AS bigint) AS w,
      |    cast(doc_id % 3 + 2 AS bigint) AS h,
      |    cast(doc_id % 23 + 1 AS bigint) AS nf
      |  FROM documents),
      | s AS (SELECT *, (nf + 5) // 6 AS stride FROM p),
      | f AS (
      |  SELECT media_id, w, h, nf,
      |    unnest(generate_series(0, nf - 1, stride)) AS fi
      |  FROM s),
      | px AS (
      |  SELECT *, (media_id * 7 + fi * 31) % 256 AS fill,
      |    (media_id * 7 + fi * 31 + fi) % 256 AS first
      |  FROM f)
      |SELECT media_id, cast(fi AS int) AS frame_idx,
      |  cast(nf AS int) AS n_frames, cast(w AS int) AS width,
      |  cast(h AS int) AS height,
      |  first + fill * (w * h - 1) AS luma_sum,
      |  (first + fill * (w * h - 1)) / cast(w * h AS double) AS mean_luma,
      |  md5(lpad(hex(first), 2, '0') ||
      |      repeat(lpad(hex(fill), 2, '0'), cast(w * h - 1 AS int))) AS frame_md5
      |FROM px""".stripMargin
  }

  // shot-boundary detection on the same GVI1 payloads: a cut fires
  // where consecutive frames' exact integer luma sums jump by >= 100
  // per pixel (on this fixture: exactly the frames whose fill byte
  // wraps mod 256). The oracle replays the detector through the
  // synthesis closed form — decoder seek/sign bugs fail the hash
  query("q_scene_cuts")((s, dir) => {
    val vids = Multimodal.synthesizeVideo(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.sceneCuts(vids, thrPerPixel = 100).toDF()
  }) {
    // every frame's closed-form luma sum, consecutive deltas via lag,
    // the same >= 100·w·h integer gate
    """WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    cast(doc_id % 4 + 2 AS bigint) AS w,
      |    cast(doc_id % 3 + 2 AS bigint) AS h,
      |    cast(doc_id % 23 + 1 AS bigint) AS nf
      |  FROM documents),
      | f AS (
      |  SELECT media_id, w, h, nf,
      |    unnest(generate_series(0, nf - 1)) AS fi
      |  FROM p),
      | s AS (
      |  SELECT media_id, w, h, fi,
      |    (media_id * 7 + fi * 31 + fi) % 256 +
      |      ((media_id * 7 + fi * 31) % 256) * (w * h - 1) AS lsum
      |  FROM f),
      | d AS (
      |  SELECT media_id, w, h, fi,
      |    abs(lsum - lag(lsum) OVER (PARTITION BY media_id ORDER BY fi)) AS delta
      |  FROM s)
      |SELECT media_id, fi AS frame_idx, delta::BIGINT AS abs_sum_delta
      |FROM d WHERE delta >= 100 * w * h""".stripMargin
  }

  // MMR diversification rerank (Retrieval.mmrRerank): greedy top-5 from
  // the exact top-10, each pick maximizing lambda*rel −
  // (1−lambda)*max-sim-to-picked — the cure for result lists full of
  // near-copies of one answer. Five unrolled query-keyed rounds over
  // candidate-bounded frames; the oracle replays the rounds as chained
  // CTEs with the IDENTICAL weight literals (1.0−0.7 is
  // 0.30000000000000004 in IEEE — both engines get that exact literal
  // from one Scala subtraction)
  query("q_mmr_rerank")((s, dir) => {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cand = stagedExactNeighbors(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
    val cv = cand.select(col("query_id"), col("neighbor_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        Seq("neighbor_id"))
    val half = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("n1"), col("b.neighbor_id").as("n2"),
        graft.plans.NativeExpressions.cosine(col("a.v"), col("b.v")).as("sim"))
    val sims = half.unionByName(half.select(col("query_id"),
      col("n2").as("n1"), col("n1").as("n2"), col("sim")))
    graft.ext.Retrieval.mmrRerank(cand, sims, k = 5, lambda = MmrLambda)
      .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
        round(col("score"), 6).as("score_r"))
  }) {
    mmrOracleSql
  }

  // embedding-space anisotropy audit (Similarity.embeddingProfile):
  // the cosine-to-centroid distribution every team checks before
  // trusting cosine ANN — a cone-collapsed space piles all mass into
  // the top bins. Centroid = micro-quantized exact mean (bigint sums,
  // one division/dim); cosines micro-quantized BEFORE binning so bin
  // edges are integer arithmetic; report rows are pure integers
  query("q_embedding_stats")((s, dir) => {
    Similarity.embeddingProfile(t(s, dir, "embeddings"), "vec_id", "embedding")
  }) {
    // centroid rebuilt from the same bigint micro-sums; three sequential
    // list folds = the same IEEE op sequence as the fused kernel
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | m0 AS (
      |  SELECT pos, cast(sum(cast(floor(x * 1000000.0 + 0.5) AS bigint)) AS double)
      |    / (count(*) * 1000000.0) AS m
      |  FROM (SELECT unnest(vec) AS x, unnest(range(1, len(vec) + 1)) AS pos FROM v)
      |  GROUP BY pos),
      | mv AS (SELECT list(m ORDER BY pos) AS mean_vec FROM m0),
      | c AS (
      |  SELECT CASE WHEN sqrt(list_dot_product(v.vec, v.vec))
      |              * sqrt(list_dot_product(mean_vec, mean_vec)) = 0 THEN 0.0
      |         ELSE list_dot_product(v.vec, mean_vec)
      |           / (sqrt(list_dot_product(v.vec, v.vec))
      |              * sqrt(list_dot_product(mean_vec, mean_vec))) END AS cos
      |  FROM v, mv),
      | q AS (SELECT cast(floor(cos * 1000000.0 + 0.5) AS bigint) AS cm FROM c)
      |SELECT least(greatest((cm + 1000000) * 10 // 2000000, 0), 9)::BIGINT AS cos_bin,
      |  count(*)::BIGINT AS n_vectors, sum(cm)::BIGINT AS sum_cos_micro
      |FROM q GROUP BY 1""".stripMargin
  }

  // MRR@10 of the IVF index: per query, where does the approximate
  // list place the TRUE nearest (non-self) neighbor — the
  // single-answer retrieval metric alongside recall (hit counting)
  // and nDCG (graded). rr is ONE IEEE division per query (0.0 when
  // the target misses the top-10); no cross-query float sum exists to
  // disagree on — the aggregate mean is the consumer's single
  // division over these rows
  query("q_mrr")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val target = stagedExactNeighbors(s, dir).where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val (cent, assigned) = stagedIvf16(s, dir)
    val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, nprobe = 4)
    val hit = approx.join(target, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("rank").cast("long").as("target_rank"))
    queries.select(col("qid").as("query_id"))
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("target_rank"),
        when(col("target_rank").isNull, lit(0.0d))
          .otherwise(lit(1.0d) / col("target_rank").cast("double")).as("rr"))
  }) {
    mrrOracleSql
  }

  // graded retrieval evaluation: nDCG@10 of the IVF index (nprobe 4 —
  // deliberately mid-curve, so the metric has something to measure)
  // against the exact ideal. Gains are EXACT-rank-derived integers
  // (rel = 11 − exact_rank for the true top-10, else 0); the DCG sum is
  // a FIXED-ORDER 10-term chain with discount reciprocals embedded as
  // identical double literals in both engines (generated from one
  // Scala computation — engine log2's last ulp never enters). Extends
  // the recall family (hit counting) with the graded, position-aware
  // metric ranking teams actually tune on
  query("q_retrieval_ndcg")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = stagedExactNeighbors(s, dir)
    val (cent, assigned) = stagedIvf16(s, dir)
    val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, nprobe = 4)
    val rel = approx.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(exact.select(col("query_id"), col("neighbor_id"),
        (lit(11L) - col("rank")).as("rel")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    val pivots = (1 to 10).map(i =>
      max(when(col("rank") === i, col("rel"))).as(s"t$i"))
    val dcg = (1 to 10).map(i =>
      coalesce(col(s"t$i"), lit(0L)).cast("double") * lit(NdcgRecip(i)))
      .reduce(_ + _) // left-associated, same chain as the oracle
    rel.groupBy(col("query_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("query_id"),
        round(dcg, 6).as("dcg_r"),
        round(dcg / lit(NdcgIdeal), 6).as("ndcg_r"))
  }) {
    retrievalNdcgOracleSql
  }

  // compression-ratio quality signal (the Gopher/CCNet gate): DEFLATE
  // bytes over raw UTF-8 bytes per document via the native expression —
  // low ratio = boilerplate/filler, ratio near 1 = mojibake/binary.
  // DuckDB cannot deflate, so the query emits the ORACLE-DECIDABLE
  // contract: per-doc exact raw byte length (DuckDB recomputes) plus
  // `within_bound` — the DEFLATE size sat inside the format's hard
  // envelope [2, raw + 5*ceil(raw/16384) + 16] (a raw-deflate stream
  // needs >= 2 bytes, and zlib never emits a block above stored-block
  // cost: 5 bytes per <= 16 KiB memLevel-8 block). The compression
  // still runs per row; only the boolean escapes, so a broken deflate
  // kernel flips the hash. The RATIO's distribution/ordering
  // properties stay pinned in ExtSpec (engine-local by nature).
  query("q_compression_ratio")((s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.plans.NativeExpressions.deflateSize(col("text")).as("__deflate"),
        octet_length(col("text")).cast("long").as("raw_bytes"))
      .select(col("doc_id"), col("lang"), col("raw_bytes"),
        (col("__deflate") >= 2L && col("__deflate") <=
          col("raw_bytes") + lit(5L) * ceil(col("raw_bytes").cast("double") / 16384.0d)
            .cast("long") + lit(16L)).as("within_bound"))
  }) {
    // the DEFLATE byte count is engine-local (DuckDB cannot deflate);
    // the oracle recomputes the exact raw byte length and asserts the
    // format-envelope boolean Spark computed is TRUE
    """SELECT doc_id, lang,
      |  cast(octet_length(encode(text)) AS bigint) AS raw_bytes,
      |  TRUE AS within_bound
      |FROM documents""".stripMargin
  }

  // REAL audio decode: synthesized 16-bit mono PCM WAVs (per-sample
  // deterministic signal, Multimodal.synthesizePcmWav) run through the
  // actual RIFF-walk + int16 decode + stat loop (Multimodal.audioStats).
  // The oracle replays the signal's CLOSED FORM, not the parser — so a
  // byte-order / offset / sign bug in the decoder fails the hash. All
  // integer outputs; one narrow mapPartitions scan, no shuffle
  query("q_audio_stats")((s, dir) => {
    val media = Multimodal.synthesizePcmWav(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.audioStats(media).toDF()
  }) {
    // the SIGNAL's closed form, not the decoder: unsigned pattern
    // u_i = (id*131 + i*7919) mod 65536, signed value u - 65536 when
    // u >= 32768; stats in exact integers. A constant series 0..349
    // cross-joined then filtered below each id's sample count — no
    // lateral dependence needed
    """WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    cast(8000 + (doc_id % 8) * 1000 AS int) AS sample_rate,
      |    cast(doc_id % 300 + 50 AS bigint) AS ns
      |  FROM documents),
      | s AS (
      |  SELECT media_id, sample_rate, ns,
      |    (media_id * 131 + g.i * 7919) % 65536 AS u
      |  FROM p, generate_series(0, 349) AS g(i) WHERE g.i < p.ns),
      | v AS (
      |  SELECT media_id, sample_rate, ns,
      |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
      |  FROM s)
      |SELECT media_id, sample_rate, ns AS n_samples,
      |  max(abs(x))::BIGINT AS peak_abs,
      |  sum(abs(x))::BIGINT AS sum_abs,
      |  sum(x * x)::BIGINT AS sum_sq,
      |  sum(CASE WHEN abs(x) >= 32000 THEN 1 ELSE 0 END)::BIGINT AS n_clipped,
      |  sum(CASE WHEN abs(x) < 256 THEN 1 ELSE 0 END)::BIGINT AS n_silent
      |FROM v GROUP BY 1, 2, 3""".stripMargin
  }

  // audio near-dup candidates via the energy-profile fingerprint
  // (Shazam-family sign-of-energy-delta bits over 8 frames, exact
  // integer arithmetic end to end): same real RIFF+PCM decode as
  // q_audio_stats, fingerprint bucket sizes via one 8-byte-key window.
  // The oracle replays the signal's closed form through the identical
  // framing ((i*8) div n) and bit assembly — a decoder bug fails the hash
  query("q_audio_fp")((s, dir) => {
    val media = Multimodal.synthesizePcmWav(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.audioFingerprints(media).toDF()
      .withColumn("n_same_fp",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
  }) {
    // the same closed-form samples, the same (i*8)//n framing, the same
    // sign-of-delta bit assembly, the same per-fingerprint window count
    """WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    cast(doc_id % 300 + 50 AS bigint) AS ns
      |  FROM documents),
      | s AS (
      |  SELECT media_id, ns, g.i AS i,
      |    (media_id * 131 + g.i * 7919) % 65536 AS u
      |  FROM p, generate_series(0, 349) AS g(i) WHERE g.i < p.ns),
      | v AS (
      |  SELECT media_id, ns, (i * 8) // ns AS f,
      |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
      |  FROM s),
      | e AS (
      |  SELECT media_id, ns, f, sum(x * x)::BIGINT AS en
      |  FROM v GROUP BY 1, 2, 3),
      | d AS (
      |  SELECT media_id, ns, f, en,
      |    lead(en) OVER (PARTITION BY media_id ORDER BY f) AS nx
      |  FROM e),
      | fps AS (
      |  SELECT media_id, max(ns) AS n_samples,
      |    sum(CASE WHEN nx > en THEN 1 << f ELSE 0 END)::BIGINT AS fp
      |  FROM d WHERE f < 7 GROUP BY 1)
      |SELECT media_id, n_samples, fp,
      |  count(*) OVER (PARTITION BY fp)::BIGINT AS n_same_fp
      |FROM fps""".stripMargin
  }

  // ANN tuning curve: macro recall@5 of the IVF index at nprobe
  // 1/2/4/8 against ONE shared brute-force ground truth — the
  // recall-vs-cost trade a 100 TB index is tuned by, as one query.
  // IDENTICAL index (nlist=16, one refine pass) per point — so it is
  // built ONCE (stagedIvf16, shared with q_ivf_recall) and only the
  // probe budget varies per sweep point; the oracle replays the whole
  // chain per point (the q_ivf_recall machinery, parameterized).
  // Monotonicity of the curve is additionally pinned in ExtSpec
  query("q_ann_tuning")((s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = stagedExactNeighbors(s, dir).where(col("rank") <= 5)
    val (cent, assigned) = stagedIvf16(s, dir)
    Seq(1, 2, 4, 8).map { np =>
      val approx = Similarity.ivfSearch(assigned, cent, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nprobe = np)
      Similarity.recallReport(exact, approx, k = 5)
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("total_hits"))
        .select(lit(np).as("nprobe"), col("n_queries"), col("total_hits"),
          (col("total_hits").cast("double") /
            (col("n_queries") * 5L).cast("double")).as("macro_recall"))
    }.reduce(_.unionByName(_))
  }) {
    // one full chain replay per nprobe point, each in its own subquery
    // scope, unioned — same exact ground truth every point
    annTuningOracleSql
  }

  // product-quantization codes (Similarity.pqEncode): 64 floats -> 4
  // codebook ids + the quantization error, the IVF-PQ memory-compression
  // layout. Codebooks are deterministic md5-stride donor samples, so the
  // oracle rebuilds codebooks, per-subspace argmins (dist, cid
  // tie-break) and the FIXED-ORDER error sum in SQL; encoding itself is
  // one narrow unrolled-literal projection, no shuffle
  query("q_pq_codes")((s, dir) => {
    Similarity.pqEncode(
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", dim = 64, nsub = 4, ncent = 16)
  }) {
    // codebooks from the same md5-stride donor sample (salt 'pq:'),
    // per-(vector, subspace) argmin with (dist, cid) tie-break, error
    // re-added in the Spark side's exact left-associated order
    """WITH params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
      | cand AS (
      |  SELECT cast(vec_id AS varchar) AS sid,
      |    list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings, params
      |  WHERE embedding IS NOT NULL
      |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
      | donors AS (
      |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
      |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
      | corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | subs AS (SELECT unnest(range(4)) AS sub),
      | dists AS (
      |  SELECT c.vec_id, s.sub, d.cid,
      |    sqrt(list_dot_product(
      |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
      |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
      |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
      | best AS (
      |  SELECT vec_id, sub, cid, dist FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM dists)
      |  WHERE rn = 1)
      |SELECT vec_id,
      |  max(CASE WHEN sub = 0 THEN cid END)::INT AS c0,
      |  max(CASE WHEN sub = 1 THEN cid END)::INT AS c1,
      |  max(CASE WHEN sub = 2 THEN cid END)::INT AS c2,
      |  max(CASE WHEN sub = 3 THEN cid END)::INT AS c3,
      |  round(((max(CASE WHEN sub = 0 THEN dist END)
      |        + max(CASE WHEN sub = 1 THEN dist END))
      |        + max(CASE WHEN sub = 2 THEN dist END))
      |        + max(CASE WHEN sub = 3 THEN dist END), 4) AS err_r
      |FROM best GROUP BY vec_id""".stripMargin
  }

  // ADC top-5 over the PQ codes (Similarity.pqTopK) — the search half
  // of IVF-PQ: queries stay un-quantized, the corpus scan reads 4 code
  // ints per row and each subspace distance is an element_at lookup
  // into the query's unrolled literal distance table. Rank by
  // (ascending approximate L2, neighbor id); the oracle replays codes,
  // lookup tables, the fixed-order sum and the rank
  query("q_pq_topk")((s, dir) => {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, dim = 64, nsub = 4, ncent = 16)
  }) {
    // the q_pq_codes chain extended by the ADC join: per-query lookup
    // tables (q x sub x cid distances), code lookup, fixed-order sum,
    // (adc, neighbor) rank
    """WITH params AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
      | cand AS (
      |  SELECT cast(vec_id AS varchar) AS sid,
      |    list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings, params
      |  WHERE embedding IS NOT NULL
      |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
      | donors AS (
      |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
      |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
      | corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | subs AS (SELECT unnest(range(4)) AS sub),
      | dists AS (
      |  SELECT c.vec_id, s.sub, d.cid,
      |    sqrt(list_dot_product(
      |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
      |      list_transform(range(1, 17), i -> c.v[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
      |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
      | best AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM dists)
      |  WHERE rn = 1),
      | q AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | qlut AS (
      |  SELECT q.qid, s.sub, d.cid,
      |    sqrt(list_dot_product(
      |      list_transform(range(1, 17), i -> q.qv[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
      |      list_transform(range(1, 17), i -> q.qv[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS qdist
      |  FROM q CROSS JOIN subs s CROSS JOIN donors d),
      | adc AS (
      |  SELECT l.qid AS query_id, b.vec_id AS neighbor_id,
      |    ((max(CASE WHEN b.sub = 0 THEN l.qdist * l.qdist END)
      |     + max(CASE WHEN b.sub = 1 THEN l.qdist * l.qdist END))
      |     + max(CASE WHEN b.sub = 2 THEN l.qdist * l.qdist END))
      |     + max(CASE WHEN b.sub = 3 THEN l.qdist * l.qdist END) AS d
      |  FROM best b JOIN qlut l ON l.sub = b.sub AND l.cid = b.cid
      |  WHERE b.vec_id <> l.qid
      |  GROUP BY 1, 2),
      | ranked AS (
      |  SELECT query_id, neighbor_id, d,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
      |  FROM adc)
      |SELECT query_id, neighbor_id, round(d, 4) AS adc_r, rank
      |FROM ranked WHERE rank <= 5""".stripMargin
  }

  // the combined FAISS IVF-PQ layout (Similarity.ivfPqTopK): IVF
  // candidate pruning (nprobe of nlist buckets, one Lloyd pass) + ADC
  // scoring over the 4-subspace PQ codes — corpus index built in ONE
  // narrow projection (bucket + codes per row), the probed scan reads
  // code width only. The oracle replays BOTH chains (centroid sampling
  // + refinement + probes, donor codebooks + LUTs + fixed-order ADC)
  // end to end in SQL
  query("q_ivfpq_topk")((s, dir) => {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // index comes staged (stagedIvfPq: centroids + codebooks + coded
    // corpus are all query-independent); only the ADC probe runs here.
    // q_embed_ivf_topk stays inline-by-design as the fused-build pin.
    val (cent, donors, index) = stagedIvfPq(s, dir)
    Similarity.ivfPqSearch(index, cent, donors, queries, "qid", "qvec",
      k = 5, nprobe = 8, dim = 64, nsub = 4)
  }) {
    // the ivf chain (bucket assignment + probes) joined against the pq
    // chain (codes + per-query LUTs): ADC restricted to probed buckets
    ivfPqOracleSql
  }

  /** The q_media_decode oracle: rebuild the synthesized BMP/WAV/PNG/JPEG
    * payloads hex-for-hex (same `lpad∘hex` endian constructions as
    * [[graft.ext.Multimodal.synthesizeMedia]]), then PARSE the decoded
    * fields back out of the built hex at the same byte offsets the JVM
    * header parser reads (LE for BMP/WAV, BE for PNG/JPEG — the JPEG
    * offsets are fixed because the synthesized segment layout is; the JVM
    * side still walks markers for real). md5 over the hex (hex↔bytes is a
    * bijection; this DuckDB build's md5 is VARCHAR-only) pins construction
    * equality; the parsed fields pin the decoder. */
  private val mediaDecodeOracleSql: String = {
    // little-endian 32-bit hex of a SQL integer expression
    def le32(v: String): String = {
      val h = s"lpad(hex($v), 8, '0')"
      s"substr($h, 7, 2) || substr($h, 5, 2) || substr($h, 3, 2) || substr($h, 1, 2)"
    }
    // parse a little-endian value back out of the hex string `hx` at a
    // 0-based BYTE offset (byte k = hex chars 2k+1..2k+2)
    def le32p(byteOff: Int): String = {
      val c = byteOff * 2 + 1
      s"('0x' || substr(hx, ${c + 6}, 2) || substr(hx, ${c + 4}, 2) || " +
        s"substr(hx, ${c + 2}, 2) || substr(hx, $c, 2))::BIGINT"
    }
    def le16p(byteOff: Int): String = {
      val c = byteOff * 2 + 1
      s"('0x' || substr(hx, ${c + 2}, 2) || substr(hx, $c, 2))::BIGINT"
    }
    // big-endian fields read straight off the hex
    def be32p(byteOff: Int): String =
      s"('0x' || substr(hx, ${byteOff * 2 + 1}, 8))::BIGINT"
    def be16p(byteOff: Int): String =
      s"('0x' || substr(hx, ${byteOff * 2 + 1}, 4))::BIGINT"
    s"""WITH p AS (
      |  SELECT cast(doc_id AS bigint) AS media_id,
      |    doc_id % 4 AS k,
      |    cast(doc_id % 7 + 1 AS bigint) AS w,
      |    cast(doc_id % 5 + 1 AS bigint) AS h,
      |    cast(8000 + (doc_id % 8) * 1000 AS bigint) AS sr,
      |    cast(doc_id % 400 + 1 AS bigint) AS ns,
      |    cast(doc_id % 640 + 1 AS bigint) AS pngw,
      |    cast(doc_id % 480 + 1 AS bigint) AS pngh,
      |    cast(doc_id % 1920 + 1 AS bigint) AS jpgw,
      |    cast(doc_id % 1080 + 1 AS bigint) AS jpgh,
      |    lpad(hex(doc_id % 256), 2, '0') AS fill
      |  FROM documents),
      | geom AS (SELECT *, cast(floor((w * 3 + 3) / 4) * 4 AS bigint) AS rowsize FROM p),
      | built AS MATERIALIZED (
      |  SELECT media_id, k,
      |    CASE k
      |    WHEN 0 THEN
      |      '424D' || ${le32("rowsize * h + 54")} || '00000000' || ${le32("54")} ||
      |      '28000000' || ${le32("w")} || ${le32("h")} || '0100' || '1800' ||
      |      '00000000' || ${le32("rowsize * h")} || '130B0000' || '130B0000' ||
      |      '00000000' || '00000000' || repeat(fill, cast(rowsize * h AS int))
      |    WHEN 1 THEN
      |      '52494646' || ${le32("ns * 2 + 36")} || '57415645' || '666D7420' ||
      |      ${le32("16")} || '0100' || '0100' || ${le32("sr")} || ${le32("sr * 2")} ||
      |      '0200' || '1000' || '64617461' || ${le32("ns * 2")} ||
      |      repeat(fill, cast(ns * 2 AS int))
      |    WHEN 2 THEN
      |      '89504E470D0A1A0A' || '0000000D' || '49484452' ||
      |      lpad(hex(pngw), 8, '0') || lpad(hex(pngh), 8, '0') || '08' || '02' ||
      |      '000000' || '00000000' || '00000000' || '49454E44' || 'AE426082'
      |    ELSE
      |      'FFD8' || 'FFE0' || '0010' || '4A46494600' || '0101' || '00' ||
      |      '0048' || '0048' || '00' || '00' ||
      |      'FFC0' || '0011' || '08' || lpad(hex(jpgh), 4, '0') || lpad(hex(jpgw), 4, '0') ||
      |      '03' || '012200' || '021101' || '031101' || 'FFD9'
      |    END AS hx
      |  FROM geom),
      | parsed AS (
      |  SELECT media_id, k, hx,
      |    ${le32p(18)} AS bmp_w, ${le32p(22)} AS bmp_h,
      |    ${le32p(24)} AS wav_sr, ${le16p(32)} AS wav_ba, ${le32p(40)} AS wav_ds,
      |    ${be32p(16)} AS png_w, ${be32p(20)} AS png_h,
      |    ${be16p(25)} AS jpg_h, ${be16p(27)} AS jpg_w
      |  FROM built)
      |SELECT media_id,
      |  CASE k WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'png' ELSE 'jpeg' END AS kind,
      |  CASE WHEN k = 0 THEN cast(bmp_w AS int) WHEN k = 2 THEN cast(png_w AS int)
      |       WHEN k = 3 THEN cast(jpg_w AS int) END AS width,
      |  CASE WHEN k = 0 THEN cast(bmp_h AS int) WHEN k = 2 THEN cast(png_h AS int)
      |       WHEN k = 3 THEN cast(jpg_h AS int) END AS height,
      |  CASE WHEN k = 1 THEN cast(wav_sr AS int) END AS sample_rate,
      |  CASE WHEN k = 1 THEN wav_ds // wav_ba END AS n_samples,
      |  CASE WHEN k = 1 THEN ((wav_ds // wav_ba) * 1000.0) / wav_sr END AS duration_ms,
      |  md5(hx) AS payload_md5
      |FROM parsed""".stripMargin
  }

  /** The full IVF top-k chain in SQL, ending in a `ranked` CTE — the
    * centroid gate, ONE Lloyd refinement pass, the argmin assignment, the
    * probe selection and the in-bucket cosine top-k all mirror
    * [[graft.ext.Similarity]] exactly: md5-prefix centroid gate; the
    * Lloyd mean quantized to 1e-6 and summed as bigints (exact and
    * order-independent, so both engines produce bit-identical refined
    * centroids — see [[graft.ext.Similarity.refineCentroids]]); empty
    * buckets keep their sampled position; NULL vectors excluded from
    * assignment and queries exactly where Spark excludes them; distance
    * ordering under sqrt like the Spark side (sqrt is monotone, but two
    * distinct squared distances can ROUND to the same double under sqrt
    * and fall to the centroid_id tie-break — ordering by sqrt keeps even
    * that case bit-faithful); (dist, centroid_id) and
    * (cosine DESC, neighbor_id) tie-breaks. Shared by the
    * q_embed_ivf_topk and q_ivf_recall oracles. */
  private def ivfChainSql(nprobe: Int = 8): String =
    s"""params AS (
      |  SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
      | cand AS (
      |  SELECT cast(vec_id AS varchar) AS sid,
      |         list_transform(embedding, x -> cast(x AS double)) AS cvec
      |  FROM embeddings, params
      |  WHERE embedding IS NOT NULL
      |    AND ('0x' || substr(md5('ivf:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
      | cent0 AS (
      |  SELECT row_number() OVER (ORDER BY sid) - 1 AS centroid_id, cvec
      |  FROM cand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
      | corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
      |  FROM embeddings WHERE embedding IS NOT NULL),
      | assigned0 AS (
      |  SELECT vec_id, vec, centroid_id FROM (
      |    SELECT c.vec_id, c.vec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM corpus c CROSS JOIN cent0 ct)
      |  WHERE rn = 1),
      | exploded AS (
      |  SELECT centroid_id, unnest(vec) AS x,
      |         unnest(range(1, len(vec) + 1)) AS pos
      |  FROM assigned0),
      | means AS (
      |  SELECT centroid_id, pos,
      |    cast(sum(cast(floor(x * 1000000.0 + 0.5) AS bigint)) AS double)
      |      / (count(*) * 1000000.0) AS m
      |  FROM exploded GROUP BY centroid_id, pos),
      | newc AS (
      |  SELECT centroid_id, list(m ORDER BY pos) AS cvec
      |  FROM means GROUP BY centroid_id),
      | cent AS (
      |  SELECT c0.centroid_id, coalesce(n.cvec, c0.cvec) AS cvec
      |  FROM cent0 c0 LEFT JOIN newc n USING (centroid_id)),
      | assigned AS (
      |  SELECT vec_id, vec, centroid_id FROM (
      |    SELECT c.vec_id, c.vec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM corpus c CROSS JOIN cent ct)
      |  WHERE rn = 1),
      | q AS (SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
      |       FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
      | probes AS (
      |  SELECT qid, qvec, centroid_id FROM (
      |    SELECT q.qid, q.qvec, ct.centroid_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        sqrt(list_dot_product(list_transform(range(1, len(q.qvec) + 1), i -> q.qvec[i] - ct.cvec[i]),
      |                              list_transform(range(1, len(q.qvec) + 1), i -> q.qvec[i] - ct.cvec[i]))),
      |        ct.centroid_id) AS rn
      |    FROM q CROSS JOIN cent ct)
      |  WHERE rn <= $nprobe),
      | scored AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
      |    CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(p.qvec, p.qvec)) = 0 THEN 0.0
      |         ELSE list_dot_product(a.vec, p.qvec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(p.qvec, p.qvec)))
      |    END AS cosine
      |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      |  WHERE a.vec_id <> p.qid),
      | ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)""".stripMargin

  /** The q_ivfpq_topk oracle: [[ivfChainSql]]'s bucket assignment and
    * probe selection (its trailing scored/ranked CTEs go unused — DuckDB
    * never evaluates an unreferenced CTE) joined against the q_pq_topk
    * chain's codebooks, codes, and per-query lookup tables, with the ADC
    * aggregation restricted to probed buckets. Same fixed-order squared
    * sum, same (adc, neighbor_id) rank. */
  private def ivfPqOracleSql: String =
    s"""WITH ${ivfChainSql(8)},
       | pqparams AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
       | pqcand AS (
       |  SELECT cast(vec_id AS varchar) AS sid,
       |    list_transform(embedding, x -> cast(x AS double)) AS v
       |  FROM embeddings, pqparams
       |  WHERE embedding IS NOT NULL
       |    AND ('0x' || substr(md5('pq:' || cast(vec_id AS varchar)), 1, 15))::UBIGINT % stride = 0),
       | donors AS (
       |  SELECT row_number() OVER (ORDER BY sid) - 1 AS cid, v
       |  FROM pqcand QUALIFY row_number() OVER (ORDER BY sid) <= 16),
       | subs AS (SELECT unnest(range(4)) AS sub),
       | dists AS (
       |  SELECT c.vec_id, s.sub, d.cid,
       |    sqrt(list_dot_product(
       |      list_transform(range(1, 17), i -> c.vec[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
       |      list_transform(range(1, 17), i -> c.vec[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS dist
       |  FROM corpus c CROSS JOIN subs s CROSS JOIN donors d),
       | best AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM dists)
       |  WHERE rn = 1),
       | qlut AS (
       |  SELECT q.qid, s.sub, d.cid,
       |    sqrt(list_dot_product(
       |      list_transform(range(1, 17), i -> q.qvec[s.sub * 16 + i] - d.v[s.sub * 16 + i]),
       |      list_transform(range(1, 17), i -> q.qvec[s.sub * 16 + i] - d.v[s.sub * 16 + i]))) AS qdist
       |  FROM q CROSS JOIN subs s CROSS JOIN donors d),
       | adcx AS (
       |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
       |    ((max(CASE WHEN b.sub = 0 THEN l.qdist * l.qdist END)
       |     + max(CASE WHEN b.sub = 1 THEN l.qdist * l.qdist END))
       |     + max(CASE WHEN b.sub = 2 THEN l.qdist * l.qdist END))
       |     + max(CASE WHEN b.sub = 3 THEN l.qdist * l.qdist END) AS d
       |  FROM assigned a
       |  JOIN probes p ON a.centroid_id = p.centroid_id
       |  JOIN best b ON b.vec_id = a.vec_id
       |  JOIN qlut l ON l.qid = p.qid AND l.sub = b.sub AND l.cid = b.cid
       |  WHERE a.vec_id <> p.qid
       |  GROUP BY 1, 2),
       | rankedx AS (
       |  SELECT query_id, neighbor_id, d,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |  FROM adcx)
       |SELECT query_id, neighbor_id, round(d, 4) AS adc_r, rank
       |FROM rankedx WHERE rank <= 5""".stripMargin

  /** MMR weights, shared by the plan and the generated oracle. lambda is
    * the literal 0.7; the diversity weight is the ONE Scala subtraction
    * `1.0 - 0.7` (= 0.30000000000000004 in IEEE), interpolated verbatim
    * into the SQL so both engines weight with bit-identical constants. */
  private val MmrLambda: Double = 0.7

  private val MmrOneMinus: Double = 1.0 - MmrLambda

  /** The q_mmr_rerank oracle: exact top-10 candidates + pairwise sims,
    * then the five greedy rounds unrolled as chained CTEs — anti-join the
    * picked set, grouped max of sims to picked, literal-weighted score,
    * rank-1 pick under (score DESC, id). */
  private def mmrOracleSql: String = {
    val lam = MmrLambda.toString
    val om = MmrOneMinus.toString
    def cos(a: String, b: String): String =
      s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0
         |       ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
         |  END""".stripMargin
    val rounds = (2 to 5).map { r =>
      val pk = (1 until r).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s""" rem$r AS (
         |  SELECT c.* FROM cand10 c
         |  LEFT JOIN ($pk) p
         |    ON p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
         |  WHERE p.neighbor_id IS NULL),
         | ms$r AS (
         |  SELECT rm.query_id, rm.neighbor_id, rm.rel, max(sp.sim) AS ms
         |  FROM rem$r rm
         |  JOIN ($pk) p ON p.query_id = rm.query_id
         |  JOIN simp sp ON sp.query_id = rm.query_id
         |    AND sp.n1 = rm.neighbor_id AND sp.n2 = p.neighbor_id
         |  GROUP BY 1, 2, 3),
         | sel$r AS (
         |  SELECT query_id, neighbor_id, $r AS mmr_rank, score FROM (
         |    SELECT query_id, neighbor_id, $lam * rel - $om * ms AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $lam * rel - $om * ms DESC, neighbor_id) AS rn
         |    FROM ms$r)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, list_transform(embedding, x -> cast(x AS double)) AS qvec
       |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
       | corpus AS (
       |  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS vec
       |  FROM embeddings WHERE embedding IS NOT NULL),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    ${cos("c.vec", "q.qvec")} AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | cand10 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cosine AS rel FROM (
       |    SELECT query_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank <= 10),
       | cv AS (
       |  SELECT cd.query_id, cd.neighbor_id, co.vec
       |  FROM cand10 cd JOIN corpus co ON co.vec_id = cd.neighbor_id),
       | half AS (
       |  SELECT a.query_id, a.neighbor_id AS n1, b.neighbor_id AS n2,
       |    ${cos("a.vec", "b.vec")} AS sim
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
       | simp AS MATERIALIZED (
       |  SELECT query_id, n1, n2, sim FROM half
       |  UNION ALL
       |  SELECT query_id, n2 AS n1, n1 AS n2, sim FROM half),
       | sel1 AS (
       |  SELECT query_id, neighbor_id, 1 AS mmr_rank, score FROM (
       |    SELECT query_id, neighbor_id, $lam * rel AS score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $lam * rel DESC, neighbor_id) AS rn
       |    FROM cand10)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, neighbor_id, mmr_rank, round(score, 6) AS score_r
       |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       |      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
       |      UNION ALL SELECT * FROM sel5)""".stripMargin
  }

  /** nDCG@10 discount reciprocals 1/log2(i+1), computed ONCE in Scala and
    * embedded as full-precision literals in both the Spark plan and the
    * generated oracle SQL — Double.toString round-trips, so both engines
    * multiply by bit-identical constants. */
  private val NdcgRecip: Map[Int, Double] =
    (1 to 10).map(i => i -> 1.0 / (math.log(i + 1.0) / math.log(2.0))).toMap

  /** Ideal DCG@10: the exact top-10 in order, rel = 11-i — same fixed
    * left-associated chain as the per-query DCG. */
  private val NdcgIdeal: Double =
    (1 to 10).map(i => (11 - i).toDouble * NdcgRecip(i)).reduce(_ + _)

  /** The q_retrieval_ndcg oracle: the nprobe-4 IVF chain, the exact
    * top-10 grades, and the identical fixed-order DCG chain with the same
    * literal reciprocals. */
  private def retrievalNdcgOracleSql: String = {
    val dcgChain = (1 to 10).map(i =>
      s"(coalesce(max(CASE WHEN rank = $i THEN rel END), 0)::DOUBLE * ${NdcgRecip(i)})")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH ${ivfChainSql(4)},
       | approx AS (SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
       |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
       |    END AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | exact AS (
       |  SELECT query_id, neighbor_id, 11 - rank AS rel FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank <= 10),
       | graded AS (
       |  SELECT a.query_id, a.rank, coalesce(e.rel, 0)::BIGINT AS rel
       |  FROM approx a LEFT JOIN exact e
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
       |SELECT query_id,
       |  round($dcgChain, 6) AS dcg_r,
       |  round($dcgChain / $NdcgIdeal, 6) AS ndcg_r
       |FROM graded GROUP BY query_id""".stripMargin
  }

  /** The q_mrr oracle: the same nprobe-4 IVF chain, the exact non-self
    * top-1 target, and the identical single division per query. */
  private def mrrOracleSql: String =
    s"""WITH ${ivfChainSql(4)},
       | approx AS (SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10),
       | escored AS (
       |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
       |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
       |    END AS cosine
       |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
       | target AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM escored)
       |  WHERE rank = 1),
       | hit AS (
       |  SELECT a.query_id, a.rank::BIGINT AS target_rank
       |  FROM approx a JOIN target t
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)
       |SELECT q.qid AS query_id, h.target_rank,
       |  CASE WHEN h.target_rank IS NULL THEN cast(0 AS double)
       |  ELSE cast(1 AS double) / h.target_rank END AS rr
       |FROM q LEFT JOIN hit h ON h.query_id = q.qid""".stripMargin

  /** The q_ann_tuning oracle: the q_ivf_recall chain instantiated per
    * nprobe point (shared exact ground-truth definition inside each
    * scope), aggregated to the macro recall row the Spark side emits. */
  private def annTuningOracleSql: String =
    Seq(1, 2, 4, 8).map { np =>
      s"""SELECT * FROM (
         |WITH ${ivfChainSql(np)},
         | approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         | escored AS (
         |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
         |         ELSE list_dot_product(c.vec, q.qvec) / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))
         |    END AS cosine
         |  FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.qid),
         | exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM escored)
         |  WHERE rank <= 5),
         | per_q AS (
         |  SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT $np AS nprobe, count(*)::BIGINT AS n_queries,
         |  sum(n_hits)::BIGINT AS total_hits,
         |  cast(sum(n_hits) AS double) / cast(count(*) * 5 AS double) AS macro_recall
         |FROM per_q)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")
}
