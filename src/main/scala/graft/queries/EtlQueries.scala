package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Normalize, Mapping}
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** ETL and storage-layout operators: mapping and sanitizing, format
  * round trips, partition/bucket/z-order layouts, CDC merges, expectations
  * and schema/key profiling. */
object EtlQueries extends QueryFamily("etl") {

  // F1 sanitize every string column (engine normalization step)
  query("q_sanitize")((s, dir) => {
    Normalize.sanitizeStrings(t(s, dir, "documents"))
      .select(col("doc_id"), md5(col("text")).as("text_hash"),
        length(col("text")).cast("long").as("n_chars_clean"))
  }) {
    """SELECT doc_id,
      | md5(regexp_replace(text, '[\r\n\\]', '', 'g')) AS text_hash,
      | length(regexp_replace(text, '[\r\n\\]', '', 'g')) AS n_chars_clean
      |FROM documents""".stripMargin
  }

  // J1 explicit id-mapping join (left-outer + coalesce, broadcast mapping)
  query("q_mapping_join")((s, dir) => {
    val edges = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast("string").as("start"))
    val mapping = t(s, dir, "customer")
      .select(col("c_custkey").cast("string").as("old_value"), col("c_name").as("new_value"))
    Mapping.applyMapping(edges, mapping, "start")
      .select(col("o_orderkey"), col("start"))
  }) {
    """SELECT o_orderkey, coalesce(c_name, cast(o_custkey AS varchar)) AS start
      |FROM orders LEFT JOIN customer ON cast(o_custkey AS varchar) = cast(c_custkey AS varchar)""".stripMargin
  }

  // J2 automatic non-pk -> pk endpoint resolution
  query("q_auto_map")((s, dir) => {
    val nation = t(s, dir, "nation")
    val edges = t(s, dir, "customer")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("start"), col("n_name").as("end"))
    val mapping = Mapping.autoMapping(
      nation.select(col("n_nationkey").as("id"), col("n_name")), "id", "n_name")
    Mapping.applyMapping(edges, mapping, "end")
      .select(col("start").cast("long").as("start_id"), col("end").cast("long").as("end_id"))
  }) {
    """SELECT cast(c_custkey AS bigint) AS start_id, cast(n_nationkey AS bigint) AS end_id
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin
  }

  // W1 deterministic sequential chunking (zipWithIndex path)
  query("q_chunk")((s, dir) => {
    Normalize.withChunkIds(t(s, dir, "orders"), 1000L)
      .groupBy(col("chunk")).agg(count(lit(1)).as("n"))
  }) {
    """SELECT chunk, count(*) AS n FROM
      | (SELECT cast(floor((row_number() OVER () - 1) / 1000) AS bigint) AS chunk FROM orders)
      |GROUP BY chunk""".stripMargin
  }

  // unpivot (wide→long melt, the inverse of q_pivot) feeding a per-column
  // data-quality profile: nulls, distinct count, lexicographic min/max
  // over a canonical string projection (longs/cents/formatted timestamps
  // — so both engines compare identical strings; doubles go through the
  // cents cast because raw double→string formatting differs per engine).
  // Spark's unpivot KEEPS null values (pinned in ExtSpec) and the oracle
  // long-form is explicit UNION ALL because DuckDB's UNPIVOT drops them.
  // Scale: unpivot is a per-row Expand (×n_cols, no shuffle); the profile
  // is one map-combined aggregation on the column name — 6 groups total
  query("q_column_profile")((s, dir) => {
    val o = t(s, dir, "orders").select(
      col("o_orderkey").cast("string").as("o_orderkey"),
      col("o_custkey").cast("string").as("o_custkey"),
      col("o_orderstatus"),
      floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("long")
        .cast("string").as("o_totalprice_cents"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
      col("o_orderpriority"))
    // two-level aggregation instead of countDistinct: collapse to the
    // (col_name, value) histogram first (one map-combined exchange),
    // then every statistic is a weighted fold of the collapsed frame —
    // countDistinct's Expand duplicates the unpivoted rows through the
    // first aggregate, and min/max/null counts fold from histogram
    // cells identically (value IS the group key; count(value) skips the
    // null cell exactly like countDistinct did). Same histogram-
    // pushdown discipline as q_winsorize/q_percentile.
    o.unpivot(Array.empty[Column], o.columns.map(col), "col_name", "value")
      .groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        sum(when(col("value").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
        count(col("value")).as("n_distinct"),
        min(col("value")).as("min_s"),
        max(col("value")).as("max_s"))
  }) {
    // explicit UNION ALL long form (NOT the UNPIVOT keyword: DuckDB's
    // UNPIVOT silently drops NULL values; Spark's unpivot keeps them, and
    // the profile's n_nulls needs them kept)
    """WITH src AS (
      |  SELECT cast(o_orderkey AS varchar) AS o_orderkey,
      |    cast(o_custkey AS varchar) AS o_custkey,
      |    o_orderstatus,
      |    cast(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS varchar) AS o_totalprice_cents,
      |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
      |    o_orderpriority
      |  FROM orders),
      | lf AS (
      |  SELECT 'o_orderkey' AS col_name, o_orderkey AS value FROM src
      |  UNION ALL SELECT 'o_custkey', o_custkey FROM src
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM src
      |  UNION ALL SELECT 'o_totalprice_cents', o_totalprice_cents FROM src
      |  UNION ALL SELECT 'o_orderdate', o_orderdate FROM src
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM src)
      |SELECT col_name, count(*) AS n_rows,
      |  cast(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_nulls,
      |  count(DISTINCT value) AS n_distinct,
      |  min(value) AS min_s, max(value) AS max_s
      |FROM lf GROUP BY col_name""".stripMargin
  }

  // snapshot diff (dataset-versioning delta): classify every doc id as
  // added / removed / changed between two corpus versions by comparing
  // 16-byte content hashes in a full outer join on the id — the CDC
  // primitive behind incremental re-training ("what actually changed
  // since the last crawl"). Text never shuffles: each side reduces to
  // (id, md5) before the join. The two versions are derived
  // deterministically from the one fixture (previous = ids with
  // doc_id%10<8, current = ids with doc_id%10>0, every doc_id%7==0 text
  // amended), so the oracle replays both sides exactly.
  query("q_snapshot_diff")((s, dir) => {
    val docs = t(s, dir, "documents")
    def sig(df: DataFrame, side: String) = df
      .select(col("doc_id"), md5(col("text")).as(s"h_$side"))
    val prev = sig(docs.where(col("doc_id") % 10 < 8), "prev")
    val cur = sig(docs.where(col("doc_id") % 10 > 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text"))), "cur")
    prev.join(cur, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_cur").isNull, lit("removed"))
          .when(col("h_prev") =!= col("h_cur"), lit("changed")))
      .where(col("change").isNotNull)
      .select(col("doc_id"), col("change"))
  }) {
    """WITH prev AS (
      |  SELECT doc_id, md5(text) AS h_prev FROM documents WHERE doc_id % 10 < 8),
      | cur AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h_cur
      |  FROM documents WHERE doc_id % 10 > 0)
      |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
      |  CASE WHEN h_prev IS NULL THEN 'added'
      |       WHEN h_cur IS NULL THEN 'removed'
      |       WHEN h_prev <> h_cur THEN 'changed' END AS change
      |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
      |WHERE CASE WHEN h_prev IS NULL THEN 'added'
      |           WHEN h_cur IS NULL THEN 'removed'
      |           WHEN h_prev <> h_cur THEN 'changed' END IS NOT NULL""".stripMargin
  }

  // column-level change attribution between the two snapshot versions
  // (what q_snapshot_diff's row hashes cannot say: WHICH column moved,
  // how often) — four deterministic per-id-family amendments planted so
  // every counter is exercised; money compared as integer cents; one
  // equi-join + ONE aggregation for all columns, then a constant unpivot
  query("q_diff_columns")((s, dir) => {
    val cust = t(s, dir, "customer").withColumn("acct_cents",
      floor(col("c_acctbal") * 100 + 0.5).cast("long"))
    val prev = cust.where(col("c_custkey") % 10 < 9)
    val cur = cust.where(col("c_custkey") % 10 > 0)
      .withColumn("c_name",
        when(col("c_custkey") % 7 === 0, concat(col("c_name"), lit("-r2")))
          .otherwise(col("c_name")))
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 5 === 0, lit("SEG-X"))
          .otherwise(col("c_mktsegment")))
      .withColumn("c_nationkey",
        when(col("c_custkey") % 11 === 0, col("c_nationkey") + 1)
          .otherwise(col("c_nationkey")))
      .withColumn("acct_cents",
        when(col("c_custkey") % 13 === 0, col("acct_cents") + 1)
          .otherwise(col("acct_cents")))
    graft.ext.Profiling.diffColumns(prev, cur, "c_custkey",
      Seq("c_name", "c_mktsegment", "c_nationkey", "acct_cents"))
  }) {
    // the same planted amendments, the same null-safe IS DISTINCT FROM
    // per-column counters over one inner join
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
      |    cast(floor(c_acctbal * 100 + 0.5) AS bigint) AS acct_cents
      |  FROM customer),
      | prev AS (SELECT * FROM base WHERE c_custkey % 10 < 9),
      | cur AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_name || '-r2' ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 5 = 0 THEN 'SEG-X' ELSE c_mktsegment END AS c_mktsegment,
      |    CASE WHEN c_custkey % 11 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS c_nationkey,
      |    CASE WHEN c_custkey % 13 = 0 THEN acct_cents + 1 ELSE acct_cents END AS acct_cents
      |  FROM base WHERE c_custkey % 10 > 0),
      | j AS (
      |  SELECT count(*)::BIGINT AS n_compared,
      |    sum(CASE WHEN p.c_name IS DISTINCT FROM c.c_name THEN 1 ELSE 0 END)::BIGINT AS d_name,
      |    sum(CASE WHEN p.c_mktsegment IS DISTINCT FROM c.c_mktsegment THEN 1 ELSE 0 END)::BIGINT AS d_seg,
      |    sum(CASE WHEN p.c_nationkey IS DISTINCT FROM c.c_nationkey THEN 1 ELSE 0 END)::BIGINT AS d_nat,
      |    sum(CASE WHEN p.acct_cents IS DISTINCT FROM c.acct_cents THEN 1 ELSE 0 END)::BIGINT AS d_acct
      |  FROM prev p JOIN cur c USING (c_custkey)),
      | u AS (
      |  SELECT 'c_name' AS column_name, d_name AS n_changed, n_compared FROM j
      |  UNION ALL SELECT 'c_mktsegment', d_seg, n_compared FROM j
      |  UNION ALL SELECT 'c_nationkey', d_nat, n_compared FROM j
      |  UNION ALL SELECT 'acct_cents', d_acct, n_compared FROM j)
      |SELECT column_name, n_changed, n_compared,
      |  cast(n_changed AS double) / cast(n_compared AS double) AS change_rate
      |FROM u""".stripMargin
  }

  // order-independent content fingerprints (BIT_XOR of 60-bit row
  // hashes + counts) for five tables — the equality certificate a
  // migration/backfill publishes so two copies compare WITHOUT sorting
  // either side. Integer/string columns only (float renderings differ
  // across engines); o_orderpriority included to cover a multi-word
  // string, orders' date/price deliberately excluded and documented
  query("q_table_fingerprint")((s, dir) => {
    import graft.ext.Profiling.tableFingerprint
    Seq(
      tableFingerprint(t(s, dir, "customer"), "customer",
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
      tableFingerprint(t(s, dir, "documents"), "documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      tableFingerprint(t(s, dir, "nation"), "nation",
        Seq("n_nationkey", "n_name", "n_regionkey")),
      tableFingerprint(t(s, dir, "orders"), "orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      tableFingerprint(t(s, dir, "region"), "region",
        Seq("r_regionkey", "r_name"))
    ).reduce(_.unionByName(_))
  }) {
    // the same 15-hex-char row hashes xor-folded; chr(31)/chr(1) build
    // the separator and sentinel the Spark side embeds as literals
    def fp(table: String, cols: Seq[String]) = {
      val canon = cols
        .map(c => s"coalesce(cast($c AS varchar), chr(1) || 'null')")
        .mkString("concat_ws(chr(31), ", ", ", ")")
      s"""SELECT '$table' AS table_name, count(*)::BIGINT AS n_rows,
         |  bit_xor(cast(('0x' || substr(md5($canon), 1, 15))::UBIGINT AS BIGINT)) AS fingerprint
         |FROM $table""".stripMargin
    }
    Seq(
      fp("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
      fp("documents", Seq("doc_id", "text", "lang", "source", "n_chars")),
      fp("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
      fp("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      fp("region", Seq("r_regionkey", "r_name"))
    ).mkString("\nUNION ALL\n")
  }

  // the one-row DATASET CARD: the summary block a curated-corpus
  // release ships with — volume, source/language makeup, exact-dup
  // rate, length stats — every field either an integer count, an
  // argmax, or one IEEE division (no entropy: ln() is not a
  // cross-engine contract). Three map-combined aggregations (corpus,
  // md5-group dup counts, language argmax) joined as one-row
  // broadcasts
  query("q_dataset_card")((s, dir) => {
    val docs = t(s, dir, "documents")
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
    val dups = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("exact_dup_docs"))
    val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(max(struct(col("c"), col("lang"))).as("t"))
      .select(col("t.lang").as("top_lang"), col("t.c").as("top_lang_docs"))
    base.crossJoin(broadcast(dups)).crossJoin(broadcast(topLang)).select(
      col("n_docs"), col("n_sources"), col("n_langs"), col("total_chars"),
      col("min_chars"), col("max_chars"),
      (col("total_chars").cast("double") / col("n_docs").cast("double"))
        .as("mean_chars"),
      col("exact_dup_docs"),
      (col("exact_dup_docs").cast("double") / col("n_docs").cast("double"))
        .as("dup_rate"),
      col("top_lang"), col("top_lang_docs"),
      (col("top_lang_docs").cast("double") / col("n_docs").cast("double"))
        .as("top_lang_share"))
  }) {
    // counts, md5-group dup totals, struct-max language argmax, and the
    // same single divisions
    """WITH base AS (
      |  SELECT count(*)::BIGINT AS n_docs,
      |    count(DISTINCT source)::BIGINT AS n_sources,
      |    count(DISTINCT lang)::BIGINT AS n_langs,
      |    sum(n_chars)::BIGINT AS total_chars,
      |    min(n_chars)::BIGINT AS min_chars,
      |    max(n_chars)::BIGINT AS max_chars
      |  FROM documents),
      | dups AS (
      |  SELECT sum(c - 1)::BIGINT AS exact_dup_docs
      |  FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text))),
      | top AS (
      |  SELECT lang AS top_lang, c AS top_lang_docs
      |  FROM (SELECT lang, count(*)::BIGINT AS c FROM documents GROUP BY 1)
      |  ORDER BY c DESC, lang DESC LIMIT 1)
      |SELECT n_docs, n_sources, n_langs, total_chars, min_chars, max_chars,
      |  cast(total_chars AS double) / cast(n_docs AS double) AS mean_chars,
      |  exact_dup_docs,
      |  cast(exact_dup_docs AS double) / cast(n_docs AS double) AS dup_rate,
      |  top_lang, top_lang_docs,
      |  cast(top_lang_docs AS double) / cast(n_docs AS double) AS top_lang_share
      |FROM base, dups, top""".stripMargin
  }

  // partition-pruned one-language scan over the lang=…/ hive layout:
  // the lang filter is a PARTITION filter (directory pruning — the
  // other languages' files are never opened; PlanSpec pins
  // PartitionFilters non-empty and PushedFilters lang-free)
  query("q_partition_prune")((s, dir) => {
    graft.sources.Tables.parquet(s, partitionedDocsPath(s, dir))
      .where(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }) {
    // the layout is derived data: the oracle aggregates documents
    // directly — a hash match proves the partitioned write+read+prune
    // cycle preserved every row of the pruned language
    """SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin
  }

  // schema-evolution read: v1 (pre-lang/source export) + v2 unified
  // via mergeSchema — missing v1 columns surface as nulls, the
  // contract readers of an accreting 100 TB dataset depend on. The
  // grouped report separates pre-schema rows (null source) per lang
  query("q_schema_evolution")((s, dir) => {
    val (p1, p2) = schemaDriftPaths(s, dir)
    s.read.option("mergeSchema", "true").parquet(p1, p2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source").isNull, lit(1L)).otherwise(lit(0L))).as("n_preschema"),
        sum(length(col("text"))).as("total_chars"))
  }) {
    // the two staged exports replayed as a projection union — v1 rows
    // carry NULL lang/source exactly as mergeSchema surfaces them
    """WITH u AS (
      |  SELECT doc_id, text, cast(NULL AS varchar) AS lang,
      |    cast(NULL AS varchar) AS source
      |  FROM documents WHERE doc_id % 10 < 8
      |  UNION ALL
      |  SELECT doc_id, text, lang, source
      |  FROM documents WHERE doc_id % 10 >= 8)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_preschema,
      |  sum(length(text))::BIGINT AS total_chars
      |FROM u GROUP BY 1""".stripMargin
  }

  // Z-order layout audit: scale (part, supp) to 16-bit ordinals by the
  // table max (integer div — exact on any engine, and SF-independent:
  // the curve always spans all 32 bits), Morton-interleave, bucket by
  // the top 6 curve bits (64 deterministic z-ranges = the files a
  // clusterByZOrder write would cut), report the per-file min/max box a
  // scan planner prunes against — all builtin bit ops, zero UDFs
  query("q_zorder")((s, dir) => {
    val li = t(s, dir, "lineitem")
    val m = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    val scaled = li.crossJoin(broadcast(m))
      .select(expr("l_partkey * 65536 div (mp + 1)").as("zx"),
        expr("l_suppkey * 65536 div (ms + 1)").as("zy"))
    graft.operators.ZOrder.fileSkippingProfile(scaled, col("zx"), col("zy"),
      numBuckets = 64)
      .select(col("file_id"), col("n_rows"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))
  }) {
    // the same mask-ladder bit spread, replayed with DuckDB's integer
    // & | << >> — Morton codes are pure bit arithmetic, so the oracle is
    // bit-for-bit, not approximate
    """WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
      | s AS (SELECT (l_partkey * 65536) // (mp + 1) AS zx,
      |              (l_suppkey * 65536) // (ms + 1) AS zy FROM lineitem, m),
      | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
      | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
      | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
      | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
      | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
      | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e)
      |SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
      |  min(zx) AS min_x, max(zx) AS max_x,
      |  min(zy) AS min_y, max(zy) AS max_y
      |FROM z GROUP BY 1""".stripMargin
  }

  // JSONL round-trip (the LLM-corpus interchange format): documents
  // written as JSON-lines, read back SCHEMA-EXPLICIT (inference would
  // double the scan at 100 TB), and proven content-identical to the
  // parquet original by an order-independent xor of per-doc text
  // fingerprints — the oracle reads the parquet side, so a hash match
  // certifies the whole write→read cycle byte-preserves every text
  query("q_jsonl_roundtrip")((s, dir) => {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    graft.sources.Jsonl.read(s, jsonlStagePath(s, dir), schema)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        bit_xor(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"))
          .as("text_fp"))
  }) {
    // the oracle aggregates the PARQUET side — equality proves the JSONL
    // write→read cycle preserved every text byte (same 60-bit md5 prefix
    // idiom as q_feature_hash; bit_xor skips nulls identically)
    """SELECT source, lang, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  bit_xor(cast(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)) AS text_fp
      |FROM documents GROUP BY 1, 2""".stripMargin
  }

  // unary functional-dependency discovery over the customer columns
  // (TANE/Metanome's single-column case, next to q_fk_discovery's
  // INCLUSION dependencies): one count-distinct aggregation per
  // determinant covers all its dependents — 4 shuffles for 12 candidates
  query("q_fd_discovery")((s, dir) => {
    graft.ext.Profiling.functionalDependencies(t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
  }) {
    // every ordered pair replayed as a grouped count-distinct — same
    // null semantics (count(DISTINCT) drops null dependents, the null
    // determinant is one group)
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    cols.flatMap { a =>
      cols.filterNot(_ == a).map { b =>
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
           |  count(*)::BIGINT AS n_det_values,
           |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
           |  (sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) = 0) AS holds
           |FROM (SELECT $a, count(DISTINCT $b) AS cd FROM customer GROUP BY 1)""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
  }

  // z-order over a CONTINUOUS dimension: the price axis gets an exact
  // EQUAL-FREQUENCY ordinal (global rank * 65536 div n — skew-proof by
  // construction, where fixed-width bins would collapse a skewed
  // domain into a few cells), quantity scales directly; same Morton
  // bucketing and min/max audit as q_zorder
  query("q_zorder_quantile")((s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_extendedprice"), col("l_quantity"),
        col("l_orderkey"), col("l_linenumber"))
    val withOrd = graft.operators.ZOrder.withQuantileOrdinal(li,
      Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
        col("l_linenumber").asc), "zx")
    val scaled = withOrd.select(col("zx"),
      expr("cast(l_quantity AS bigint) * 65536 div 51").as("zy"))
    graft.operators.ZOrder.fileSkippingProfile(scaled, col("zx"), col("zy"),
      numBuckets = 64)
      .select(col("file_id"), col("n_rows"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))
  }) {
    // same 0-based rank (row_number - 1), same integer ordinal and
    // Morton arithmetic; the oracle's global window is again the
    // single-reducer plan GlobalRank exists to avoid
    """WITH r AS (
      |  SELECT l_quantity,
      |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS rk,
      |    count(*) OVER () AS n
      |  FROM lineitem),
      | s AS (SELECT (rk * 65536) // n AS zx,
      |              (CAST(l_quantity AS BIGINT) * 65536) // 51 AS zy FROM r),
      | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
      | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
      | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
      | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
      | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
      | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e)
      |SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
      |  min(zx) AS min_x, max(zx) AS max_x,
      |  min(zy) AS min_y, max(zy) AS max_y
      |FROM z GROUP BY 1""".stripMargin
  }

  // co-bucketed fact-dimension join: both sides staged bucketed on the
  // customer key, so the join itself moves NOTHING (PlanSpec pins zero
  // o_custkey exchanges with broadcast disabled) — the only shuffle
  // left is the final segment rollup. Revenue follows the cents
  // pattern (floor(x*100+0.5) summed as long: double→decimal rounding
  // differs between engines, integer cents do not)
  query("q_bucket_join")((s, dir) => {
    val (to, tc) = bucketedJoinTables(s, dir)
    s.table(to).join(s.table(tc), "o_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
  }) {
    // bucketing is layout-only: the oracle is the plain join + rollup
    """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
      |  sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint))::BIGINT AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin
  }

  // dynamic partition pruning over the lang-partitioned layout: the
  // dim side's selective filter is only known at RUNTIME, and Spark
  // turns the broadcast join's key set into a PartitionFilters entry
  // on the fact scan — at 100 TB the fact table opens ONLY the two
  // matching lang directories instead of all of them (PlanSpec pins
  // `dynamicpruning` in the scan). The oracle is the equivalent
  // static filter — DPP is an access-path property, not a semantic one
  query("q_dynamic_prune")((s, dir) => {
    val facts = graft.sources.Tables.parquet(s, partitionedDocsPath(s, dir))
    val dim = graft.sources.Tables.parquet(s, s"$dir/documents.parquet")
      .where(col("lang").isin("en", "de"))
      .select(col("lang")).distinct()
    facts.join(dim, Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
  }) {
    // the static-filter equivalent of the runtime-pruned join
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY 1""".stripMargin
  }

  // corrupt-record quarantine on a JSONL ingest: lines synthesized
  // in-engine, ~1/13 decisively corrupted (leading '!' — malformed for
  // ANY parser, so the two engines can't disagree on salvageability the
  // way truncation-tail parsers might), parsed with the null-on-corrupt
  // contract (get_json_object), valid lines rolled up per parsed lang
  // and corrupt lines quarantined with their payload size — the
  // PERMISSIVE-ingest accounting a 100 TB raw-feed pipeline runs. One
  // per-row projection + one bucket exchange
  query("q_jsonl_quarantine")((s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val line0 = concat(lit("{\"id\":"), col("doc_id").cast("string"),
      lit(",\"lang\":\""), col("lang"),
      lit("\",\"len\":"), col("n_chars").cast("string"), lit("}"))
    val line = when(col("doc_id") % 13 === 7, concat(lit("!"), line0))
      .otherwise(line0)
    val withLine = docs.select(line.as("line"))
    val lang = get_json_object(col("line"), "$.lang")
    val len = get_json_object(col("line"), "$.len").cast("long")
    withLine.select(
        when(lang.isNull, lit("__corrupt__")).otherwise(lang).as("bucket"),
        when(lang.isNull, length(col("line")).cast("long")).otherwise(len).as("w"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_lines"), sum(col("w")).as("total_len"))
  }) {
    // same synthesized lines; this engine ERRORS on malformed extraction
    // where Spark returns null, so validity gates through json_valid
    """WITH l AS (
      |  SELECT CASE WHEN doc_id % 13 = 7 THEN '!' ELSE '' END ||
      |    '{"id":' || cast(doc_id AS varchar) || ',"lang":"' || lang ||
      |    '","len":' || cast(n_chars AS varchar) || '}' AS line
      |  FROM documents),
      | p AS (
      |  SELECT
      |    CASE WHEN json_valid(line)
      |         THEN json_extract_string(line, '$.lang')
      |         ELSE '__corrupt__' END AS bucket,
      |    CASE WHEN json_valid(line)
      |         THEN cast(json_extract_string(line, '$.len') AS BIGINT)
      |         ELSE length(line)::BIGINT END AS w
      |  FROM l)
      |SELECT bucket, count(*)::BIGINT AS n_lines, sum(w)::BIGINT AS total_len
      |FROM p GROUP BY 1""".stripMargin
  }

  // Deequ-shaped declarative data-quality gate: six constraint kinds
  // over orders (completeness, range, pattern, domain, uniqueness,
  // referential integrity) — every row-level constraint folds into ONE
  // map-combined aggregation pass (adding a constraint adds a column,
  // not a scan); the FK check is the only join (key-only anti-join).
  // Integer counts + one IEEE division per row keep the report
  // engine-replayable
  query("q_expectations")((s, dir) => {
    import graft.ext.Expectations._
    evaluate(t(s, dir, "orders"), Seq(
      NotNull("o_custkey"),
      InRange("o_totalprice", 0.0, 1000000.0),
      Matches("o_orderpriority", "^[1-5]-"),
      IsIn("o_orderstatus", Seq("F", "O", "P")),
      Unique(Seq("o_orderkey")),
      ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
  }) {
    // each constraint's counts replayed as one aggregate row; the FK row
    // counts non-orphans the same anti-join way ("constraint" quoted —
    // reserved word there)
    """WITH u AS (
      |  SELECT 0::BIGINT AS ord, 'not_null(o_custkey)' AS c,
      |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n,
      |    count(*)::BIGINT AS d, 1.0 AS threshold
      |  FROM orders
      |  UNION ALL
      |  SELECT 1, 'in_range(o_totalprice)',
      |    sum(CASE WHEN o_totalprice BETWEEN 0.0 AND 1000000.0 THEN 1 ELSE 0 END)::BIGINT,
      |    sum(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
      |  FROM orders
      |  UNION ALL
      |  SELECT 2, 'matches(o_orderpriority)',
      |    sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END)::BIGINT,
      |    sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
      |  FROM orders
      |  UNION ALL
      |  SELECT 3, 'is_in(o_orderstatus)',
      |    sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END)::BIGINT,
      |    sum(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END)::BIGINT, 1.0
      |  FROM orders
      |  UNION ALL
      |  SELECT 4, 'unique(o_orderkey)',
      |    count(DISTINCT o_orderkey)::BIGINT, count(*)::BIGINT, 1.0
      |  FROM orders
      |  UNION ALL
      |  SELECT 5, 'foreign_key(o_custkey)',
      |    sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
      |    count(*)::BIGINT, 1.0
      |  FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
      |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o.o_custkey = c.c_custkey)
      |SELECT ord, c AS "constraint", n AS observed_num, d AS observed_den,
      |  threshold,
      |  CASE WHEN d > 0 THEN cast(n AS double) / cast(d AS double)
      |       ELSE 1.0 END AS rate,
      |  (CASE WHEN d > 0 THEN cast(n AS double) / cast(d AS double)
      |        ELSE 1.0 END) >= threshold AS passed
      |FROM u""".stripMargin
  }

  // referential-integrity audit across the star schema's FK relations:
  // orphan children (FK with no parent) and childless parents, one row
  // per relation. Anti-joins hash on the key — at 100 TB each relation
  // co-partitions parent and child on the FK and the four audits run as
  // independent narrow scans (only the key column is read)
  query("q_ri_audit")((s, dir) => {
    def rel(name: String, parent: DataFrame, pk: String,
        child: DataFrame, fk: String): DataFrame = {
      val p = parent.select(col(pk).as("k"))
      val c = child.select(col(fk).as("k"))
      p.agg(count(lit(1)).as("n_parent"))
        .join(c.agg(count(lit(1)).as("n_child")))
        .join(c.join(p, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_child")))
        .join(p.join(c.select(col("k")).distinct(), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_childless_parent")))
        .select(lit(name).as("relation"), col("n_parent"), col("n_child"),
          col("n_orphan_child"), col("n_childless_parent"))
    }
    rel("customer->orders", t(s, dir, "customer"), "c_custkey",
        t(s, dir, "orders"), "o_custkey")
      .unionByName(rel("orders->lineitem", t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey"))
      .unionByName(rel("part->lineitem", t(s, dir, "part"), "p_partkey",
        t(s, dir, "lineitem"), "l_partkey"))
      .unionByName(rel("nation->customer", t(s, dir, "nation"), "n_nationkey",
        t(s, dir, "customer"), "c_nationkey"))
  }) {
    """WITH r AS (
      |  SELECT 'customer->orders' AS relation,
      |    (SELECT count(*) FROM customer)::BIGINT AS n_parent,
      |    (SELECT count(*) FROM orders)::BIGINT AS n_child,
      |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
      |       (SELECT c_custkey FROM customer))::BIGINT AS n_orphan_child,
      |    (SELECT count(*) FROM customer WHERE c_custkey NOT IN
      |       (SELECT o_custkey FROM orders))::BIGINT AS n_childless_parent
      |  UNION ALL SELECT 'orders->lineitem',
      |    (SELECT count(*) FROM orders), (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
      |       (SELECT o_orderkey FROM orders)),
      |    (SELECT count(*) FROM orders WHERE o_orderkey NOT IN
      |       (SELECT l_orderkey FROM lineitem))
      |  UNION ALL SELECT 'part->lineitem',
      |    (SELECT count(*) FROM part), (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
      |       (SELECT p_partkey FROM part)),
      |    (SELECT count(*) FROM part WHERE p_partkey NOT IN
      |       (SELECT l_partkey FROM lineitem))
      |  UNION ALL SELECT 'nation->customer',
      |    (SELECT count(*) FROM nation), (SELECT count(*) FROM customer),
      |    (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
      |       (SELECT n_nationkey FROM nation)),
      |    (SELECT count(*) FROM nation WHERE n_nationkey NOT IN
      |       (SELECT c_nationkey FROM customer)))
      |SELECT * FROM r""".stripMargin
  }

  // inclusion-dependency discovery (SPIDER/SINDY-style FK profiling):
  // score candidate column pairs by the inclusion coefficient
  // |distinct(child) ∩ distinct(parent)| / |distinct(child)| — true FKs
  // score 1.0, reversed and spurious candidates fall below. Each
  // candidate is two distinct sets and one key-only semi-join (the
  // coefficient is one exact int/int division); at 100 TB swap the
  // exact distincts for bottom-k sketches per column — same join shape
  // over the sketch tables
  query("q_fk_discovery")((s, dir) => {
    def incl(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val c = child.select(col(ck).as("k")).where(col("k").isNotNull).distinct()
      val p = parent.select(col(pk).as("k")).where(col("k").isNotNull).distinct()
      c.agg(count(lit(1)).as("n_child_distinct"))
        .join(c.join(p, Seq("k"), "left_semi")
          .agg(count(lit(1)).as("n_matched")))
        .select(lit(name).as("candidate"), col("n_child_distinct"),
          col("n_matched"),
          (col("n_matched").cast("double") /
            col("n_child_distinct").cast("double")).as("inclusion"))
    }
    incl("orders.o_custkey->customer.c_custkey",
        t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey")
      .unionByName(incl("lineitem.l_partkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"))
      .unionByName(incl("customer.c_nationkey->nation.n_nationkey",
        t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
      .unionByName(incl("events.user_id->customer.c_custkey",
        t(s, dir, "events"), "user_id", t(s, dir, "customer"), "c_custkey"))
      .unionByName(incl("customer.c_custkey->orders.o_custkey",
        t(s, dir, "customer"), "c_custkey", t(s, dir, "orders"), "o_custkey"))
      .unionByName(incl("part.p_size->nation.n_nationkey",
        t(s, dir, "part"), "p_size", t(s, dir, "nation"), "n_nationkey"))
  }) {
    """WITH cand(candidate, nc, nm) AS (
      |  SELECT 'orders.o_custkey->customer.c_custkey',
      |    (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT,
      |    (SELECT count(DISTINCT o_custkey) FROM orders
      |      WHERE o_custkey IN (SELECT c_custkey FROM customer))::BIGINT
      |  UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey',
      |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
      |    (SELECT count(DISTINCT l_partkey) FROM lineitem
      |      WHERE l_partkey IN (SELECT p_partkey FROM part))
      |  UNION ALL SELECT 'customer.c_nationkey->nation.n_nationkey',
      |    (SELECT count(DISTINCT c_nationkey) FROM customer),
      |    (SELECT count(DISTINCT c_nationkey) FROM customer
      |      WHERE c_nationkey IN (SELECT n_nationkey FROM nation))
      |  UNION ALL SELECT 'events.user_id->customer.c_custkey',
      |    (SELECT count(DISTINCT user_id) FROM events),
      |    (SELECT count(DISTINCT user_id) FROM events
      |      WHERE user_id IN (SELECT c_custkey FROM customer))
      |  UNION ALL SELECT 'customer.c_custkey->orders.o_custkey',
      |    (SELECT count(DISTINCT c_custkey) FROM customer),
      |    (SELECT count(DISTINCT c_custkey) FROM customer
      |      WHERE c_custkey IN (SELECT o_custkey FROM orders))
      |  UNION ALL SELECT 'part.p_size->nation.n_nationkey',
      |    (SELECT count(DISTINCT p_size) FROM part),
      |    (SELECT count(DISTINCT p_size) FROM part
      |      WHERE p_size IN (SELECT n_nationkey FROM nation)))
      |SELECT candidate, nc AS n_child_distinct, nm AS n_matched,
      |  cast(nm AS double) / cast(nc AS double) AS inclusion
      |FROM cand""".stripMargin
  }

  // ORC round-trip — q_jsonl_roundtrip's columnar sibling: documents
  // written as ORC once, read back schema-explicit through Spark's
  // vectorized ORC reader, proven content-identical to the parquet
  // original by the same order-independent text-fingerprint xor
  query("q_orc_roundtrip")((s, dir) => {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).orc(orcStagePath(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        bit_xor(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"))
          .as("text_fp"))
  }) {
    // oracle reads the parquet side — a hash match certifies the whole
    // ORC write → vectorized read cycle byte-preserves every text
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  bit_xor(cast(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)) AS text_fp
      |FROM documents GROUP BY 1""".stripMargin
  }

  // composite FD discovery — the lattice level q_fd_discovery's unary
  // pass cannot see: (orderkey, linenumber) is the lineitem PRIMARY KEY
  // (holds for every dependent) while each component alone fails
  query("q_fd_composite")((s, dir) => {
    graft.ext.Profiling.compositeFunctionalDependencies(t(s, dir, "lineitem"),
      Seq(
        (("l_orderkey", "l_linenumber"), Seq("l_partkey", "l_quantity")),
        (("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_shipdate"))))
  }) {
    // one grouped count-distinct per determinant PAIR, all dependents
    // sharing its exchange — same replay shape as q_fd_discovery
    val cands = Seq(
      (("l_orderkey", "l_linenumber"), Seq("l_partkey", "l_quantity")),
      (("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_shipdate")))
    cands.flatMap { case ((a, b), deps) =>
      deps.map { c =>
        s"""SELECT '$a,$b' AS determinant, '$c' AS dependent,
           |  count(*)::BIGINT AS n_det_values,
           |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
           |  sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT count(DISTINCT $c) AS cd FROM lineitem GROUP BY $a, $b)""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
  }

  // zone-map pruning effectiveness: the q_zorder file profile against a
  // quarter-domain predicate box — how many of the 64 z-range files a
  // min/max-pruning scan planner skips, and the selectivity inside the
  // survivors. The report every clustering decision is judged by; both
  // sides aggregate to single rows, the combine is a 1×1 cross join
  query("q_zone_prune")((s, dir) => {
    val li = t(s, dir, "lineitem")
    val m = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    val scaled = li.crossJoin(broadcast(m))
      .select(expr("l_partkey * 65536 div (mp + 1)").as("zx"),
        expr("l_suppkey * 65536 div (ms + 1)").as("zy"))
    val prof = graft.operators.ZOrder.fileSkippingProfile(scaled,
      col("zx"), col("zy"), numBuckets = 64)
    val (loX, hiX, loY, hiY) = (16384L, 32767L, 16384L, 32767L)
    val hits = col("min_x") <= hiX && col("max_x") >= loX &&
      col("min_y") <= hiY && col("max_y") >= loY
    val stats = prof.agg(
      count(lit(1)).as("n_files"),
      sum(when(hits, 1L).otherwise(0L)).as("n_files_scanned"),
      sum(when(hits, col("n_rows")).otherwise(0L)).as("rows_scanned"),
      sum(col("n_rows")).as("rows_total"))
    val matched = scaled.where(col("zx").between(loX, hiX) &&
        col("zy").between(loY, hiY))
      .agg(count(lit(1)).as("rows_matched"))
    stats.crossJoin(matched)
  }) {
    // the q_zorder profile CTE + the pruning aggregate; the row-level
    // match count comes straight off the scaled frame
    """WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
      | s AS (SELECT (l_partkey * 65536) // (mp + 1) AS zx,
      |              (l_suppkey * 65536) // (ms + 1) AS zy FROM lineitem, m),
      | a AS (SELECT zx & 65535 AS x, zy & 65535 AS y, zx, zy FROM s),
      | b AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y, zx, zy FROM a),
      | c AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y, zx, zy FROM b),
      | d AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y, zx, zy FROM c),
      | e AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y, zx, zy FROM d),
      | z AS (SELECT (x | (y << 1)) AS zval, zx, zy FROM e),
      | prof AS (
      |  SELECT zval >> 26 AS file_id, count(*)::BIGINT AS n_rows,
      |    min(zx) AS min_x, max(zx) AS max_x,
      |    min(zy) AS min_y, max(zy) AS max_y
      |  FROM z GROUP BY 1),
      | stats AS (
      |  SELECT count(*)::BIGINT AS n_files,
      |    sum(CASE WHEN min_x <= 32767 AND max_x >= 16384
      |             AND min_y <= 32767 AND max_y >= 16384 THEN 1 ELSE 0 END)::BIGINT
      |      AS n_files_scanned,
      |    sum(CASE WHEN min_x <= 32767 AND max_x >= 16384
      |             AND min_y <= 32767 AND max_y >= 16384 THEN n_rows ELSE 0 END)::BIGINT
      |      AS rows_scanned,
      |    sum(n_rows)::BIGINT AS rows_total
      |  FROM prof),
      | matched AS (
      |  SELECT count(*)::BIGINT AS rows_matched FROM z
      |  WHERE zx BETWEEN 16384 AND 32767 AND zy BETWEEN 16384 AND 32767)
      |SELECT * FROM stats CROSS JOIN matched""".stripMargin
  }

  // small-file compaction planning (the OPTIMIZE/bin-pack maintenance
  // pass every 100 TB table needs): one "file" per ship date with a
  // size estimate, time-ordered EXCLUSIVE prefix sum via the distributed
  // GlobalRank.withGlobalCumSum (range exchange + partitioned window +
  // broadcast offsets — no single-reducer ORDER BY window, PlanSpec
  // pins it), bin = prefix div target. Time-ordered packing keeps each
  // output file a contiguous date range, so zone-map pruning on ship
  // date survives compaction
  query("q_compaction_plan")((s, dir) => {
    val target = 32768.0d // 32 KiB target output size
    val files = t(s, dir, "lineitem")
      .groupBy(col("l_shipdate").as("file_date"))
      .agg((count(lit(1)) * 120L + sum(col("l_partkey") % 64L))
        .as("size_bytes"))
    val withCum = graft.operators.GlobalRank.withGlobalCumSum(
      files, Seq(col("file_date")), col("size_bytes"), "cum_before")
    withCum
      .withColumn("bin", floor(col("cum_before") / target).cast("long"))
      .withColumn("bin_bytes",
        sum(col("size_bytes")).over(Window.partitionBy(col("bin"))))
      .withColumn("files_in_bin",
        count(lit(1)).over(Window.partitionBy(col("bin"))))
  }) {
    // identical per-file size estimate, exclusive running sum (the
    // single-reducer ORDER BY window the Spark side exists to avoid is
    // FINE oracle-side), identical bin arithmetic: both engines divide
    // exact integers < 2^53 by 32768.0 in IEEE doubles
    """WITH f AS (
      |  SELECT l_shipdate AS file_date,
      |    (count(*) * 120 + sum(l_partkey % 64))::BIGINT AS size_bytes
      |  FROM lineitem GROUP BY 1),
      | c AS (
      |  SELECT file_date, size_bytes,
      |    coalesce(sum(size_bytes) OVER (ORDER BY file_date
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
      |  FROM f),
      | b AS (SELECT *, cast(floor(cum_before / 32768.0) AS bigint) AS bin FROM c)
      |SELECT file_date, size_bytes, cum_before, bin,
      |  sum(size_bytes) OVER (PARTITION BY bin)::BIGINT AS bin_bytes,
      |  count(*) OVER (PARTITION BY bin)::BIGINT AS files_in_bin
      |FROM b""".stripMargin
  }

  // MERGE INTO (lakehouse upsert): APPLY a CDC delta — updates, deletes,
  // inserts, at most one op per key with delete-wins precedence — to the
  // current snapshot in ONE id-keyed full-outer join. The complement of
  // q_snapshot_diff (which COMPUTES a delta). Same shuffle discipline:
  // both sides reduce to (id, md5, op) BEFORE the join, so document text
  // never crosses the exchange; output op marks each surviving row
  // K(ept)/U(pdated)/I(nserted) for the audit trail a production MERGE
  // emits as metrics
  query("q_merge_upsert")((s, dir) => {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // deterministic delta derived from the same table: re-cased updates,
    // deletes, and out-of-domain inserts
    val upserts = base
      .withColumn("op",
        when(col("doc_id") % 11 === 3, "D")
          .when(col("doc_id") % 7 === 0, "U"))
      .where(col("op").isNotNull)
      .select(col("doc_id"),
        when(col("op") === "U", upper(col("text"))).as("text"), col("op"))
    val inserts = base.where(col("doc_id") % 13 === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("new:"), col("text")).as("text"), lit("I").as("op"))
    val delta = upserts.unionByName(inserts)
      .select(col("doc_id"), md5(col("text")).as("d_md5"), col("op"))
    val snap = base.select(col("doc_id"), md5(col("text")).as("b_md5"))
    snap.join(delta, Seq("doc_id"), "full_outer")
      .where(coalesce(col("op"), lit("")) =!= "D")
      .select(col("doc_id"),
        coalesce(col("d_md5"), col("b_md5")).as("text_md5"),
        coalesce(col("op"), lit("K")).as("op"))
  }) {
    // same deterministic delta (delete-wins CASE order), same pre-join
    // hash reduction, same full-outer apply. upper()/md5 are
    // byte-identical across engines on the fixture's ASCII text
    """WITH b AS (SELECT doc_id, text FROM documents),
      | upserts AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 3 THEN NULL ELSE upper(text) END AS text,
      |    CASE WHEN doc_id % 11 = 3 THEN 'D' ELSE 'U' END AS op
      |  FROM b WHERE doc_id % 11 = 3 OR doc_id % 7 = 0),
      | inserts AS (
      |  SELECT doc_id + 1000000 AS doc_id, 'new:' || text AS text, 'I' AS op
      |  FROM b WHERE doc_id % 13 = 5),
      | delta AS (
      |  SELECT doc_id, md5(text) AS d_md5, op FROM upserts
      |  UNION ALL
      |  SELECT doc_id, md5(text) AS d_md5, op FROM inserts),
      | snap AS (SELECT doc_id, md5(text) AS b_md5 FROM b)
      |SELECT coalesce(snap.doc_id, delta.doc_id) AS doc_id,
      |  coalesce(d_md5, b_md5) AS text_md5,
      |  coalesce(op, 'K') AS op
      |FROM snap FULL OUTER JOIN delta ON snap.doc_id = delta.doc_id
      |WHERE coalesce(op, '') <> 'D'""".stripMargin
  }

  // SKETCH-based inclusion-dependency discovery — the 100 TB swap
  // q_fk_discovery's comment promises, made real: per column ONE
  // bottom-k sample of the md5-hash order (k = 256 rows per side, a
  // TakeOrdered — bounded by configuration, not key cardinality), and
  // the containment estimate |S_u ∩ C ∩ P| / |S_u ∩ C| computed
  // entirely on sketch rows. The bottom-k of the UNION hash order is a
  // uniform sample of C ∪ P, so membership rates within it estimate
  // |C ∩ P| / |C| with ~1/sqrt(k) error — and when |C ∪ P| <= k the
  // sketch IS the full key set and the estimate is EXACT
  // (GroundTruthSpec pins equality with q_fk_discovery at sf0.001 and
  // the error band on a planted larger domain). md5 hex order is
  // engine-portable, so the oracle replays sample selection row-for-row
  query("q_fk_sketch")((s, dir) => {
    val k = 256
    // provenance flags ride the distinct: tag each hash row with its
    // side BEFORE the union, fold to per-hash membership with ONE
    // group-max — the same distinct set the two-sided form produced,
    // but one exchange per candidate where the old shape paid two
    // per-side distincts, a union distinct AND two membership joins
    // back against the full sets (row-identical: max(in_c) == "h is in
    // child's distinct set"). The bottom-k TakeOrdered then reads the
    // already-tagged sample directly.
    // r16: group by the RAW key value and hash AFTER the exchange. The
    // fixture tables are single-row-group parquet, so the pre-r16 shape
    // computed md5 once per ROW inside an unsplittable single-task scan
    // (JobProfile: the lineitem candidate's scan stage was the whole
    // query, 0.73 s of task time on 4 tasks); grouping by the value
    // first keeps the scan stage down to a map-side partial distinct,
    // and the md5 runs once per DISTINCT value on the parallel
    // post-exchange side. Row-identical: md5 is a deterministic
    // function of the value, so per-value groups ARE per-hash groups
    // (DuckDB oracle unchanged: SELECT DISTINCT md5(...) — same set).
    def est(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val tagged = child.where(col(ck).isNotNull)
        .select(col(ck).cast("string").as("v"),
          lit(1).as("in_c"), lit(0).as("in_p"))
        .unionByName(parent.where(col(pk).isNotNull)
          .select(col(pk).cast("string").as("v"),
            lit(0).as("in_c"), lit(1).as("in_p")))
      val u = tagged.groupBy(col("v"))
        .agg(max(col("in_c")).as("in_c"), max(col("in_p")).as("in_p"))
        .select(md5(col("v")).as("h"), col("in_c"), col("in_p"))
        .orderBy(col("h")).limit(k)
      u.agg(count(lit(1)).as("n_union_sample"),
          sum(col("in_c")).as("n_child_sample"),
          sum(when(col("in_c") === 1 && col("in_p") === 1, 1L)
            .otherwise(0L)).as("n_both"))
        .select(lit(name).as("candidate"), col("n_union_sample"),
          col("n_child_sample"), col("n_both"),
          (col("n_both").cast("double") /
            col("n_child_sample").cast("double")).as("containment_est"))
    }
    est("orders.o_custkey->customer.c_custkey",
        t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey")
      .unionByName(est("lineitem.l_partkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"))
      .unionByName(est("customer.c_nationkey->nation.n_nationkey",
        t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
      .unionByName(est("part.p_size->nation.n_nationkey",
        t(s, dir, "part"), "p_size", t(s, dir, "nation"), "n_nationkey"))
  }) {
    // identical per-candidate sketch: distinct md5 hash sets, bottom-256
    // of the union order, membership flags, one ratio. md5 hex strings
    // sort identically in both engines (lowercase hex, binary collation)
    fkSketchOracleSql
  }

  // Bloom-filter membership audit — the oracle-decidable contract for
  // the pre-join Bloom sketch every broadcast-less big join ships
  // (built with the same stat.bloomFilter + plan-embedded
  // [[graft.plans.NativeExpressions.bloomMightContain]] machinery the
  // q_cross_dedup_bloom production path uses): members = order-holding
  // custkeys; probes = one synthesized NON-member key per customer
  // ("probe:<custkey>" — a prefixed rendering can never equal a numeric
  // one, at any scale, so the probe set is disjoint by construction).
  // `no_false_negatives` MUST hold (the Bloom guarantee — a false one
  // means broken plumbing); `fpr_within_bound` checks the observed
  // false-positive rate against 3x the ~1% design point. Capacity is
  // DATA-DERIVED (the member-count estimate, floored at 1000) — a
  // hardcoded capacity would saturate at larger scale factors and flip
  // the bound false while the oracle emits TRUE. Sizing rides ONE
  // approx_count_distinct pass over the raw column (partial HLL
  // sketches merged map-side — no distinct exchange, the way a real
  // pre-join filter is sized at 100 TB); its ±5% rsd is absorbed many
  // times over by the 3x FPR bound. The driver-side filter AGGREGATION
  // (stat.bloomFilter over the distinct keys) remains the one-off build
  // cost of shipping a real pre-join filter. Exact counts escape only
  // via n_members (count of the same frame the filter ingests); sketch
  // bits never do.
  query("q_bloom_fpr")((s, dir) => {
    // string keys on BOTH sides: the plan-embedded probe hashes UTF-8
    // bytes (BloomMightContain), so the build must insert the same
    // rendering — a putLong build would never match a binary probe
    val members = t(s, dir, "orders")
      .select(col("o_custkey").cast("string").as("k")).distinct()
    val probes = t(s, dir, "customer")
      .select(concat(lit("probe:"), col("c_custkey").cast("string")).as("k"))
    val approxMembers = t(s, dir, "orders")
      .agg(approx_count_distinct(col("o_custkey")).as("n"))
      .first().getLong(0)
    // size from the HLL estimate INFLATED by 10%: approx_count_distinct
    // carries ±5% rsd, and an UNDERestimate silently raises the realized
    // FPR toward the 3x bound as scale grows — the headroom must absorb
    // sketch error by construction, not by luck
    val bloom = members.stat.bloomFilter("k",
      math.max(approxMembers + approxMembers / 10L, 1000L), 0.01)
    val memberChecks = members
      .agg(count(lit(1)).as("n_members"),
        sum(when(graft.plans.NativeExpressions.bloomMightContain(col("k"), bloom),
          0L).otherwise(1L)).as("__misses"))
    val probeChecks = probes
      .agg(count(lit(1)).as("n_probes"),
        sum(when(graft.plans.NativeExpressions.bloomMightContain(col("k"), bloom),
          1L).otherwise(0L)).as("__fps"))
    memberChecks.crossJoin(probeChecks)
      .select(col("n_members"), col("n_probes"),
        (col("__misses") === 0L).as("no_false_negatives"),
        (col("__fps").cast("double") <=
          lit(0.03d) * col("n_probes").cast("double")).as("fpr_within_bound"))
  }) {
    // the Bloom bits are engine-local; the oracle recomputes both exact
    // populations and asserts the membership/FPR booleans Spark computed
    """SELECT (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS n_members,
      |  (SELECT count(*) FROM customer)::BIGINT AS n_probes,
      |  TRUE AS no_false_negatives, TRUE AS fpr_within_bound""".stripMargin
  }

  /** The q_fk_sketch oracle, generated per candidate (same four
    * child->parent pairs, same k = 256). */
  private val fkSketchOracleSql: String = {
    def cand(name: String, childTbl: String, ck: String,
        parentTbl: String, pk: String): String =
      s"""SELECT '$name' AS candidate, n_union_sample, n_child_sample, n_both, containment_est FROM (
         |WITH c AS (SELECT DISTINCT md5(cast($ck AS varchar)) AS h FROM $childTbl WHERE $ck IS NOT NULL),
         | p AS (SELECT DISTINCT md5(cast($pk AS varchar)) AS h FROM $parentTbl WHERE $pk IS NOT NULL),
         | u AS (SELECT h FROM (SELECT h FROM c UNION SELECT h FROM p) ORDER BY h LIMIT 256),
         | j AS (SELECT u.h, c.h IS NOT NULL AS in_c, p.h IS NOT NULL AS in_p
         |       FROM u LEFT JOIN c ON u.h = c.h LEFT JOIN p ON u.h = p.h)
         |SELECT count(*)::BIGINT AS n_union_sample,
         |  sum(CASE WHEN in_c THEN 1 ELSE 0 END)::BIGINT AS n_child_sample,
         |  sum(CASE WHEN in_c AND in_p THEN 1 ELSE 0 END)::BIGINT AS n_both,
         |  cast(sum(CASE WHEN in_c AND in_p THEN 1 ELSE 0 END) AS double) /
         |  cast(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS double) AS containment_est
         |FROM j)""".stripMargin
    Seq(
      ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("part.p_size->nation.n_nationkey", "part", "p_size", "nation", "n_nationkey"))
      .map((cand _).tupled)
      .mkString("", "\nUNION ALL\n", "")
  }
}
